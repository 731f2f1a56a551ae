package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GeoEngine
import graft.core.GridConfig

/**
 * Persisted spatial index: the reference's prepare → partition → buildIndex →
 * query-against-the-stored-index lifecycle (API/Hecatoncheir.cpp:509-564;
 * APRIL sidecar files src/APRIL/storage.cpp:7-53), re-expressed as ONE
 * snapshot carrying geometry + APRIL interval-list columns, with the grid,
 * APRIL order, SideMeta dispatch statistics and a CRC of the index code
 * recorded in the manifest lineage.
 *
 * `build` pays rasterization + the metadata prepass once at ingest;
 * `load`/`ensure` hand repeated queries the pre-indexed table plus its
 * SideMeta so they skip both (the amortization a real deployment gets from
 * the reference's persist=true APRIL files). Rows are not clustered: no
 * query filters on a spatial column of the snapshot (the candidate exchange
 * re-tiles its rows), so a clustering would buy no parquet min/max pruning.
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
    // two actions read the input (sideMeta scan + snapshot write): widen it
    // once, then cache, so both passes and the rasterize run in parallel
    // over at most one exchange (aprilIndex's widen then no-ops) and an
    // expensive compute closure evaluates once
    val cached = GeoEngine.widen(df).cache()
    val meta = GeoEngine.sideMeta(cached, grid, maxFineCover)
    val indexed = GeoEngine.aprilIndex(cached, grid, order)
    Snapshots.commit(indexed, root, table, lineage = Map(
      "stage" -> "build_index",
      "april_order" -> order.toString,
      "grid" -> gridStr(grid),
      "max_fine_cover" -> maxFineCover.toString,
      "side_meta" -> metaStr(meta),
      "code" -> codeCrc))
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
    * APRIL order / maxFineCover by the same index code, else build + commit
    * a fresh snapshot — the resume semantics of Snapshots.runStage for index
    * snapshots. Serving a snapshot rasterized at a different order (or over
    * a different grid) would compare interval lists across incomparable cell
    * spaces and silently drop true hits, so a parameter mismatch means
    * REBUILD; so does a snapshot written by a different build of the
    * rasterizer or of this object (`code` lineage). */
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
      lineageVal(m, "max_fine_cover").contains(maxFineCover.toString) &&
      lineageVal(m, "code").contains(codeCrc)
    }

  /** CRC32 of the class files that decide the stored bytes: the rasterizer
    * (April, its Hilbert curve and the AprilRasterize expression) and this
    * object (columns, lineage). Read once per JVM from the classpath. */
  private[graft] lazy val codeCrc: String = {
    val crc = new java.util.zip.CRC32()
    for (c <- Seq(graft.core.April.getClass, graft.core.Hilbert.getClass,
                  classOf[graft.functions.AprilRasterize], getClass)) {
      val in = c.getResourceAsStream("/" + c.getName.replace('.', '/') + ".class")
      require(in != null, s"SpatialIndex: class file of ${c.getName} not found")
      try crc.update(in.readAllBytes()) finally in.close()
    }
    java.lang.Long.toHexString(crc.getValue)
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
