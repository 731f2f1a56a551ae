package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core._
import graft.store.{Snapshots, SpatialIndex}
import graft.web.Pages

/**
 * spark-submit entry point: the full web-scale pipeline as resumable stages
 * with snapshot checkpoints + per-partition lineage/metrics (north rule).
 *
 *   spark-submit --class graft.GraftJob <jar> <snapshotRoot> [nPages]
 *
 * Stages (each a committed snapshot; a restarted run resumes from the last
 * committed stage without recomputation):
 *   1. pages        — ingest (here: deterministic synthesis; swap for an
 *                     Iceberg/parquet read of a real crawl)
 *   2. geotagged    — deterministic url/text geotag
 *   3. tiles        — Dataset[TileAssignment] on the world grid + hex cells
 *   4. polygons_idx — persisted APRIL index over the polygon table, a path
 *                     snapshot under the same root (SpatialIndex.ensure:
 *                     rebuild only on param mismatch — the reference's
 *                     buildIndex/persist=true lifecycle,
 *                     API/Hecatoncheir.cpp:509-564)
 *   5. joined       — spatial join page-points × stored polygon index
 *                     (reads the index snapshot + its SideMeta; no
 *                     re-rasterization, no metadata re-scan)
 *
 * Every manifest records lineage (stage inputs + parameters + app version)
 * and per-partition row counts alongside the snapshot.
 */
object GraftJob {
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "/tmp/graft_snapshots"
    val nPages = if (args.length > 1) args(1).toLong else 1000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // spark-submit provides the master; local runs fall back to local[N]
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[$cpus]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, root, nPages))
    spark.stop()
  }

  /** The pipeline itself, separated from session lifecycle so tests can
    * drive kill/resume against a shared session. Returns the summary JSON
    * line main() prints. */
  def run(spark: SparkSession, root: String, nPages: Long): String = {
    import spark.implicits._

    val grid = Pages.WorldGrid
    val version = "graft-0.1.0"

    val pages = Snapshots.runStage(spark, root, "pages",
      Map("stage" -> "ingest", "n_pages" -> nPages.toString, "app" -> version)) {
      Pages.synthesize(spark, nPages).toDF()
    }

    val tagged = Snapshots.runStage(spark, root, "geotagged",
      Map("stage" -> "geotag", "input" -> "pages", "app" -> version)) {
      // 64-bit ids: hash() is 32-bit Murmur3 (birthday collisions from ~1e5
      // urls), and spatialJoin's payload re-join-by-id plus snapshot
      // lineage require unique ids — fnv64 keeps them collision-free at the
      // 1e12-row north rule. Codegen expression, not a UDF.
      Pages.geotag(pages)
        .withColumn("id", graft.functions.GeoExprs.fnv64(col("url")))
        .select("id", "url", "x", "y")
    }

    val tiles = Snapshots.runStage(spark, root, "tiles",
      Map("stage" -> "tile_assign", "input" -> "geotagged",
          "grid" -> s"${grid.coarsePpd}/${grid.globalPpd}", "hex_res" -> "7",
          "app" -> version)) {
      GeoEngine.tileAssignments(tagged, grid, hexRes = 7).toDF()
    }

    // stage 4: the reference's buildIndex lifecycle — rasterize + metadata
    // prepass once, commit as a path snapshot. A restarted run (same
    // params) loads instead of rebuilding, a param change forces a rebuild.
    // SpatialIndex.ensure IS the stage's resume logic (it validates grid /
    // order / maxFineCover against the manifest lineage), so no runStage
    // wrapper.
    val aprilOrder = 10
    val index = SpatialIndex.ensure(spark, root, "polygons_idx", grid,
      aprilOrder) {
      // deterministic diamond polygons (non-rectangular, so the APRIL
      // interval filter genuinely resolves pairs instead of being pruned
      // by the all-box fast plan)
      spark.range(2000).select(col("id"),
        ((col("id") * 13 % 2800) / 8.0 - 175.0).as("cx"),
        ((col("id") * 17 % 1280) / 8.0 - 80.0).as("cy"),
        ((col("id") % 40 + 2) / 8.0).as("hw"), ((col("id") % 30 + 2) / 8.0).as("hh"))
        .select(col("id"), lit(GeomType.POLYGON).as("gtype"),
          array(col("cx") - col("hw"), col("cy"), col("cx"), col("cy") - col("hh"),
                col("cx") + col("hw"), col("cy"), col("cx"), col("cy") + col("hh"),
                col("cx") - col("hw"), col("cy")).as("coords"),
          (col("cx") - col("hw")).as("xmin"), (col("cy") - col("hh")).as("ymin"),
          (col("cx") + col("hw")).as("xmax"), (col("cy") + col("hh")).as("ymax"))
    }

    val joined = Snapshots.runStage(spark, root, "joined",
      Map("stage" -> "spatial_join", "input" -> "geotagged+polygons_idx",
          "predicate" -> "intersects", "april_order" -> aprilOrder.toString,
          "app" -> version)) {
      val pts = tagged.select(col("id"), lit(GeomType.POINT).as("gtype"),
        array(col("x"), col("y")).as("coords"),
        col("x").as("xmin"), col("y").as("ymin"),
        col("x").as("xmax"), col("y").as("ymax")).as[GeoRow]
      // queries run against the STORED index: pre-rasterized interval
      // columns + persisted SideMeta (no per-run rasterize / prepass).
      // APRIL joins never broadcast the index side — its payload arrays
      // would multiply through the tile explode; the point side is
      // broadcast when its emission fits Spark's threshold.
      GeoEngine.spatialJoin(pts, index.df.as[GeoRow], Predicates.INTERSECTS,
        grid, useApril = true, aprilOrder = aprilOrder,
        sMeta = Some(index.meta))
    }

    s"""{"job":"graft-pipeline","pages":${pages.count()},""" +
      s""""tiles":${tiles.count()},"indexed":${index.df.count()},""" +
      s""""joined":${joined.count()},""" +
      s""""snapshots":"${Seq("pages", "geotagged", "tiles", "polygons_idx", "joined")
        .map(t => s"$t=snap-${Snapshots.latestId(root, t).getOrElse(0L)}")
        .mkString(",")}"}"""
  }
}
