package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GeoEngine
import graft.core.GridConfig

/**
 * Persisted spatial index: the reference's prepare → partition → buildIndex →
 * query-against-the-stored-index lifecycle (API/Hecatoncheir.cpp:509-564;
 * APRIL sidecar files src/APRIL/storage.cpp:7-53), re-expressed as ONE
 * tile-partitioned snapshot carrying geometry + APRIL interval-list columns,
 * with the grid, APRIL order, and SideMeta dispatch statistics recorded in
 * the manifest lineage.
 *
 * `build` pays rasterization + the metadata prepass once at ingest;
 * `load`/`ensure` hand repeated queries the pre-indexed table plus its
 * SideMeta so they skip both (the amortization a real deployment gets from
 * the reference's persist=true APRIL files). Rows are clustered by the
 * coarse distribution cell of their MBR min corner — the snapshot analogue
 * of the reference's per-node partition files; a reader scans
 * locality-clustered row groups and parquet min/max prunes on it.
 *
 * The path snapshot is the only stored form: a catalog table bucketed by id
 * (which drops the index-side exchange of the slim join's id re-join)
 * measured slower at sf0.1 and sf1 (OPTIMIZATION_r06.md §2) and needs a
 * Hive metastore for resume.
 */
object SpatialIndex {

  final case class Loaded(df: DataFrame, meta: GeoEngine.SideMeta)

  /** Build and commit the index snapshot; returns the loaded (committed)
    * form, exactly what a later `load` would see. */
  def build(df: DataFrame, grid: GridConfig, order: Int, root: String,
            table: String, maxFineCover: Int = GeoEngine.MaxFineCover): Loaded = {
    // two actions read the input (sideMeta scan + snapshot write): cache so
    // an expensive compute closure evaluates once
    val cached = df.cache()
    val meta = GeoEngine.sideMeta(cached, grid, maxFineCover)
    val homeCoarse =
      GeoEngine.clampIdx(col("xmin"), grid.coarseExtX, grid.xMin, grid.coarsePpd) +
      GeoEngine.clampIdx(col("ymin"), grid.coarseExtY, grid.yMin, grid.coarsePpd) *
        lit(grid.coarsePpd.toLong)
    // repartition BEFORE rasterizing (round 6, guide §2.3): the coarse-cell
    // clustering shuffle then carries only ids + coords, not the APRIL
    // interval arrays it used to (which dominate the indexed row), and the
    // rasterize kernel runs as a projection on the post-shuffle partitions —
    // parallel without the extra round-robin widen shuffle the old order
    // needed (aprilIndex's widen sees the repartitioned input and no-ops)
    val indexed = GeoEngine.aprilIndex(
      cached.withColumn("home_coarse", homeCoarse)
        .repartition(col("home_coarse")), grid, order)
    Snapshots.commit(indexed, root, table, lineage = Map(
      "stage" -> "build_index",
      "april_order" -> order.toString,
      "grid" -> gridStr(grid),
      "max_fine_cover" -> maxFineCover.toString,
      "side_meta" -> metaStr(meta)))
    cached.unpersist()
    load(df.sparkSession, root, table)
      .getOrElse(sys.error(s"index commit for $table did not become visible"))
  }

  /** Latest committed index snapshot + its persisted dispatch metadata.
    * A snapshot whose side_meta lineage is missing or in a stale format is
    * treated as absent (ensure() rebuilds + commits a fresh snapshot). */
  def load(spark: SparkSession, root: String, table: String): Option[Loaded] =
    for {
      df <- Snapshots.load(spark, root, table)
      meta <- Snapshots.latestManifest(root, table).flatMap(parseMeta)
    } yield Loaded(df, meta)

  /** Load the committed index if present AND built with the SAME grid /
    * APRIL order / maxFineCover, else build + commit a fresh snapshot — the
    * resume semantics of Snapshots.runStage for index snapshots. Serving a
    * snapshot rasterized at a different order (or over a different grid)
    * would compare interval lists across incomparable cell spaces and
    * silently drop true hits, so a parameter mismatch means REBUILD. */
  def ensure(spark: SparkSession, root: String, table: String,
             grid: GridConfig, order: Int, maxFineCover: Int = GeoEngine.MaxFineCover)
            (compute: => DataFrame): Loaded =
    load(spark, root, table)
      .filter(_ => paramsMatch(root, table, grid, order, maxFineCover))
      .getOrElse(build(compute, grid, order, root, table, maxFineCover))

  private def gridStr(grid: GridConfig): String =
    s"${grid.xMin},${grid.yMin},${grid.xMax},${grid.yMax}," +
      s"${grid.coarsePpd},${grid.globalPpd}"

  private def lineageVal(manifestJson: String, key: String): Option[String] =
    ("\"" + key + "\": \"([^\"]*)\"").r
      .findFirstMatchIn(manifestJson).map(_.group(1))

  private def paramsMatch(root: String, table: String, grid: GridConfig,
                          order: Int, maxFineCover: Int): Boolean =
    Snapshots.latestManifest(root, table).exists { m =>
      lineageVal(m, "april_order").contains(order.toString) &&
      lineageVal(m, "grid").contains(gridStr(grid)) &&
      lineageVal(m, "max_fine_cover").contains(maxFineCover.toString)
    }

  private def metaStr(m: GeoEngine.SideMeta): String =
    s"${m.hasWide},${m.hasNarrow},${m.hasNonRect},${m.hasNonBox}," +
      s"${m.hasRect},${m.hasBox},${m.maxHomeTileCnt},${m.maxCoarseCellCnt}"

  private def parseMeta(manifestJson: String): Option[GeoEngine.SideMeta] =
    lineageVal(manifestJson, "side_meta").flatMap { v =>
      val p = v.split(',')
      if (p.length != 8) None // stale format (e.g. pre-coarse-stat) → rebuild
      else scala.util.Try(GeoEngine.SideMeta(p(0).toBoolean, p(1).toBoolean,
        p(2).toBoolean, p(3).toBoolean, p(4).toBoolean, p(5).toBoolean,
        p(6).toLong, p(7).toLong)).toOption
    }
}
