package graft

import org.apache.spark.sql.{SparkSession, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core._
import graft.ops.{TextOps, Ann, Multimodal}
import graft.web.Pages

/**
 * Driver contract: one `queries` entry per implemented operator
 * (SURVEY.md §2), with a DuckDB-equivalent `oracleSql` for every
 * SQL-expressible one.
 *
 * Spatial inputs are derived deterministically from the TPC-H-ish testdata
 * tables with formulas kept bit-identical between the Spark engine path and
 * the oracle SQL (same op order ⇒ same IEEE doubles). Points live on a 1/10°
 * lattice; box/window edges live on dyadic lattices (1/8°, 1/16°) whose
 * values are EXACT doubles, so decimal-equal edges are bit-equal in both
 * engines and every boundary comparison agrees — the engine's 1e-9
 * geometric tolerance never sees a 1-ulp formula discrepancy.
 */
object SparkEntry {

  private val grid = Pages.WorldGrid // fixed world grid: no dataspace scan

  // ---- static dispatch metadata (round 6) ---------------------------------
  //
  // Every spatialJoin/findRelationJoin/rangeBatch without caller-provided
  // SideMeta runs an EAGER metadata prepass per side (one extra Spark job
  // per side per query execution — pure fixed overhead on every bench iteration).
  // The reference computes dataset metadata once at ingest; these constants
  // are the same knowledge derived a priori from the geometry FORMULAS, so
  // they hold at every scale factor (the formulas only vary the key range,
  // and every key-modulus cycles within the smallest table):
  //
  //  - points (orderPoints/orderPoints8/skewPoints): a point's MBR cover is
  //    exactly one fine cell → never wide; gtype == POINT throughout.
  //  - boxes (part/cust/small/shifted): gtype == BOX throughout (type flags
  //    exact). Wide/narrow presence is alignment-dependent, so BOTH are
  //    declared present — a flag that is conservatively true at worst adds a
  //    provably-empty sub-join branch; a false flag would DROP a sub-join
  //    that can produce rows, so false is only used where impossible by
  //    formula (OptimizationR06Spec "static SideMeta constants are safe"
  //    cross-checks every constant against the dynamic sideMeta on real
  //    inputs).
  //  - diagSegs: LINESTRINGs, spans 0.5°-5.5° → wide and narrow both occur.
  //  - starPoly(part, rad=2.0): x-span 4° ≥ ceil(4/0.4128)=10 fine cells,
  //    y-span 4° ≥ ceil(4/0.2064)=20 → cover ≥ 200 > 16 ⇒ ALWAYS wide.
  //  - starPoly(customer, rad=0.4): x-span 0.8° ≤ floor(0.8/0.4128)+2 = 3
  //    cells, y ≤ floor(0.8/0.2064)+2 = 5 → cover ≤ 15 ≤ 16 ⇒ NEVER wide.
  //
  // maxHomeTileCnt stays 0: the density-driven sweep auto-selection is a
  // physical-plan choice (result-identical by property test); none of these
  // inputs crosses the 8192 hot-tile threshold at the driver's scales, so
  // plans are unchanged — only the prepass jobs disappear.
  private val MPoints = Some(GeoEngine.SideMeta(hasWide = false,
    hasNarrow = true, hasNonRect = false, hasNonBox = true,
    hasRect = true, hasBox = false))
  private val MBoxes = Some(GeoEngine.SideMeta(hasWide = true,
    hasNarrow = true, hasNonRect = false, hasNonBox = false,
    hasRect = true, hasBox = true))
  private val MSegs = Some(GeoEngine.SideMeta(hasWide = true,
    hasNarrow = true, hasNonRect = true, hasNonBox = true,
    hasRect = false, hasBox = false))
  private val MStarsWide = Some(GeoEngine.SideMeta(hasWide = true,
    hasNarrow = false, hasNonRect = true, hasNonBox = true,
    hasRect = false, hasBox = false))
  private val MStarsNarrow = Some(GeoEngine.SideMeta(hasWide = false,
    hasNarrow = true, hasNonRect = true, hasNonBox = true,
    hasRect = false, hasBox = false))

  // ---- deterministic geometry derivations (Spark side) --------------------

  private def orderPoints(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet").select(
      col("o_orderkey").as("id"),
      ((col("o_orderkey") * 7 % 3600) / 10.0 - 180.0).as("x"),
      ((col("o_orderkey") * 11 % 1700) / 10.0 - 85.0).as("y"))

  private val orderPointsSql =
    """SELECT o_orderkey AS id,
      |  (o_orderkey * 7 % 3600) / 10.0 - 180.0 AS x,
      |  (o_orderkey * 11 % 1700) / 10.0 - 85.0 AS y
      |FROM orders""".stripMargin

  private def supplierPoints(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/supplier.parquet").select(
      col("s_suppkey").as("id"),
      ((col("s_suppkey") * 19 % 3600) / 10.0 - 180.0).as("x"),
      ((col("s_suppkey") * 23 % 1700) / 10.0 - 85.0).as("y"))

  private val supplierPointsSql =
    """SELECT s_suppkey AS id,
      |  (s_suppkey * 19 % 3600) / 10.0 - 180.0 AS x,
      |  (s_suppkey * 23 % 1700) / 10.0 - 85.0 AS y
      |FROM supplier""".stripMargin

  private def partBoxes(s: SparkSession, dir: String): DataFrame = {
    val cx = (col("p_partkey") * 13 % 2800) / 8.0 - 175.0
    val cy = (col("p_partkey") * 17 % 1280) / 8.0 - 80.0
    val hw = (col("p_partkey") % 40 + 2) / 8.0
    val hh = (col("p_partkey") % 30 + 2) / 8.0
    s.read.parquet(s"$dir/part.parquet").select(
      col("p_partkey").as("id"),
      (cx - hw).as("bxmin"), (cy - hh).as("bymin"),
      (cx + hw).as("bxmax"), (cy + hh).as("bymax"))
  }

  private val partBoxesSql =
    """SELECT p_partkey AS id,
      |  ((p_partkey * 13 % 2800) / 8.0 - 175.0) - ((p_partkey % 40 + 2) / 8.0) AS bxmin,
      |  ((p_partkey * 17 % 1280) / 8.0 - 80.0)  - ((p_partkey % 30 + 2) / 8.0) AS bymin,
      |  ((p_partkey * 13 % 2800) / 8.0 - 175.0) + ((p_partkey % 40 + 2) / 8.0) AS bxmax,
      |  ((p_partkey * 17 % 1280) / 8.0 - 80.0)  + ((p_partkey % 30 + 2) / 8.0) AS bymax
      |FROM part""".stripMargin

  private def nationWindows(s: SparkSession, dir: String): DataFrame = {
    val cx = (col("n_nationkey") * 29 % 2800) / 8.0 - 175.0
    val cy = (col("n_nationkey") * 31 % 1280) / 8.0 - 80.0
    val hw = (col("n_nationkey") % 6 + 15) / 8.0
    val hh = (col("n_nationkey") % 4 + 12) / 8.0
    s.read.parquet(s"$dir/nation.parquet").select(
      col("n_nationkey").cast("long").as("qid"),
      (cx - hw).as("wxmin"), (cy - hh).as("wymin"),
      (cx + hw).as("wxmax"), (cy + hh).as("wymax"))
  }

  private val nationWindowsSql =
    """SELECT CAST(n_nationkey AS BIGINT) AS qid,
      |  ((n_nationkey * 29 % 2800) / 8.0 - 175.0) - ((n_nationkey % 6 + 15) / 8.0) AS wxmin,
      |  ((n_nationkey * 31 % 1280) / 8.0 - 80.0)  - ((n_nationkey % 4 + 12) / 8.0) AS wymin,
      |  ((n_nationkey * 29 % 2800) / 8.0 - 175.0) + ((n_nationkey % 6 + 15) / 8.0) AS wxmax,
      |  ((n_nationkey * 31 % 1280) / 8.0 - 80.0)  + ((n_nationkey % 4 + 12) / 8.0) AS wymax
      |FROM nation""".stripMargin

  /** Customer boxes on the same formula as part boxes → keys present in both
    * tables yield exactly equal boxes (EQUAL-join coverage); plus formula
    * collisions. */
  private def custBoxes(s: SparkSession, dir: String): DataFrame = {
    val cx = (col("c_custkey") * 13 % 2800) / 8.0 - 175.0
    val cy = (col("c_custkey") * 17 % 1280) / 8.0 - 80.0
    val hw = (col("c_custkey") % 40 + 2) / 8.0
    val hh = (col("c_custkey") % 30 + 2) / 8.0
    s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey").as("id"),
      (cx - hw).as("bxmin"), (cy - hh).as("bymin"),
      (cx + hw).as("bxmax"), (cy + hh).as("bymax"))
  }

  private val custBoxesSql =
    """SELECT c_custkey AS id,
      |  ((c_custkey * 13 % 2800) / 8.0 - 175.0) - ((c_custkey % 40 + 2) / 8.0) AS bxmin,
      |  ((c_custkey * 17 % 1280) / 8.0 - 80.0)  - ((c_custkey % 30 + 2) / 8.0) AS bymin,
      |  ((c_custkey * 13 % 2800) / 8.0 - 175.0) + ((c_custkey % 40 + 2) / 8.0) AS bxmax,
      |  ((c_custkey * 17 % 1280) / 8.0 - 80.0)  + ((c_custkey % 30 + 2) / 8.0) AS bymax
      |FROM customer""".stripMargin

  /** Small boxes (1/16° dyadic lattice) from customer — the INSIDE-join probe side. */
  private def smallBoxes(s: SparkSession, dir: String): DataFrame = {
    val cx = (col("c_custkey") * 13 % 2800) / 8.0 - 175.0
    val cy = (col("c_custkey") * 17 % 1280) / 8.0 - 80.0
    val hw = (col("c_custkey") % 10 + 1) / 16.0
    val hh = (col("c_custkey") % 8 + 1) / 16.0
    s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey").as("id"),
      (cx - hw).as("bxmin"), (cy - hh).as("bymin"),
      (cx + hw).as("bxmax"), (cy + hh).as("bymax"))
  }

  private val smallBoxesSql =
    """SELECT c_custkey AS id,
      |  ((c_custkey * 13 % 2800) / 8.0 - 175.0) - ((c_custkey % 10 + 1) / 16.0) AS bxmin,
      |  ((c_custkey * 17 % 1280) / 8.0 - 80.0)  - ((c_custkey % 8 + 1) / 16.0) AS bymin,
      |  ((c_custkey * 13 % 2800) / 8.0 - 175.0) + ((c_custkey % 10 + 1) / 16.0) AS bxmax,
      |  ((c_custkey * 17 % 1280) / 8.0 - 80.0)  + ((c_custkey % 8 + 1) / 16.0) AS bymax
      |FROM customer""".stripMargin

  /** Part boxes translated east by their own width: each shares its west edge
    * with the original (MEET-join coverage). */
  private def shiftedBoxes(s: SparkSession, dir: String): DataFrame = {
    val cx = (col("p_partkey") * 13 % 2800) / 8.0 - 175.0
    val cy = (col("p_partkey") * 17 % 1280) / 8.0 - 80.0
    val hw = (col("p_partkey") % 40 + 2) / 8.0
    val hh = (col("p_partkey") % 30 + 2) / 8.0
    s.read.parquet(s"$dir/part.parquet").select(
      col("p_partkey").as("id"),
      (cx + hw).as("bxmin"), (cy - hh).as("bymin"),
      ((cx + hw) + (hw + hw)).as("bxmax"), (cy + hh).as("bymax"))
  }

  private val shiftedBoxesSql =
    """SELECT p_partkey AS id,
      |  ((p_partkey * 13 % 2800) / 8.0 - 175.0) + ((p_partkey % 40 + 2) / 8.0) AS bxmin,
      |  ((p_partkey * 17 % 1280) / 8.0 - 80.0)  - ((p_partkey % 30 + 2) / 8.0) AS bymin,
      |  (((p_partkey * 13 % 2800) / 8.0 - 175.0) + ((p_partkey % 40 + 2) / 8.0)) + (((p_partkey % 40 + 2) / 8.0) + ((p_partkey % 40 + 2) / 8.0)) AS bxmax,
      |  ((p_partkey * 17 % 1280) / 8.0 - 80.0)  + ((p_partkey % 30 + 2) / 8.0) AS bymax
      |FROM part""".stripMargin

  /** Points on the exact 1/8° dyadic lattice: every coordinate, difference
    * and small product is an exact double, so collinearity / diamond-edge
    * boundary tests agree bit-for-bit between the engine's kernels and the
    * DuckDB oracle's formulas. */
  private def orderPoints8(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet").select(
      col("o_orderkey").as("id"),
      ((col("o_orderkey") * 7 % 2880) / 8.0 - 180.0).as("x"),
      ((col("o_orderkey") * 11 % 1360) / 8.0 - 85.0).as("y"))

  private val orderPoints8Sql =
    """SELECT o_orderkey AS id,
      |  (o_orderkey * 7 % 2880) / 8.0 - 180.0 AS x,
      |  (o_orderkey * 11 % 1360) / 8.0 - 85.0 AS y
      |FROM orders""".stripMargin

  /** Slope-1 diagonal segments from part: MBRs are fat but the geometry is a
    * line, so MBR-overlapping points are almost all geometry-disjoint — the
    * reference's tile-local DISJOINT-join semantics become observable. */
  private def diagSegs(s: SparkSession, dir: String): DataFrame = {
    val cx = (col("p_partkey") * 13 % 2800) / 8.0 - 175.0
    val cy = (col("p_partkey") * 17 % 1280) / 8.0 - 80.0
    val h = (col("p_partkey") % 20 + 2) / 8.0
    s.read.parquet(s"$dir/part.parquet").select(
      col("p_partkey").as("id"),
      (cx - h).as("x1"), (cy - h).as("y1"), (cx + h).as("x2"), (cy + h).as("y2"))
  }

  private val diagSegsSql =
    """SELECT p_partkey AS id,
      |  ((p_partkey * 13 % 2800) / 8.0 - 175.0) - ((p_partkey % 20 + 2) / 8.0) AS x1,
      |  ((p_partkey * 17 % 1280) / 8.0 - 80.0)  - ((p_partkey % 20 + 2) / 8.0) AS y1,
      |  ((p_partkey * 13 % 2800) / 8.0 - 175.0) + ((p_partkey % 20 + 2) / 8.0) AS x2,
      |  ((p_partkey * 17 % 1280) / 8.0 - 80.0)  + ((p_partkey % 20 + 2) / 8.0) AS y2
      |FROM part""".stripMargin

  /** Diamond (rotated-square) polygons from part: point-in-diamond is
    * SQL-expressible exactly (|x-cx|*hh + |y-cy|*hw <= hw*hh on dyadic
    * lattices), yet NOT rectangular — the APRIL interval verdicts and the
    * exact PiP refinement both run for real. */
  private def diamonds(s: SparkSession, dir: String)(implicit sp: SparkSession): Dataset[GeoRow] = {
    import sp.implicits._
    val cx = (col("p_partkey") * 13 % 2800) / 8.0 - 175.0
    val cy = (col("p_partkey") * 17 % 1280) / 8.0 - 80.0
    val hw = (col("p_partkey") % 40 + 2) / 8.0
    val hh = (col("p_partkey") % 30 + 2) / 8.0
    s.read.parquet(s"$dir/part.parquet").select(
      col("p_partkey").as("id"), lit(GeomType.POLYGON).as("gtype"),
      array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy).as("coords"),
      (cx - hw).as("xmin"), (cy - hh).as("ymin"),
      (cx + hw).as("xmax"), (cy + hh).as("ymax")).as[GeoRow]
  }

  private val diamondsSql = // (cx, cy, hw, hh) of each diamond
    """SELECT p_partkey AS id,
      |  (p_partkey * 13 % 2800) / 8.0 - 175.0 AS cx,
      |  (p_partkey * 17 % 1280) / 8.0 - 80.0 AS cy,
      |  (p_partkey % 40 + 2) / 8.0 AS hw,
      |  (p_partkey % 30 + 2) / 8.0 AS hh
      |FROM part""".stripMargin

  private def docPoints(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id").as("id"),
      ((col("doc_id") * 37 % 3600) / 10.0 - 180.0).as("x"),
      ((col("doc_id") * 53 % 1700) / 10.0 - 85.0).as("y"))

  /** Skewed point table: four of five docs land inside ONE fine tile
    * (a ~0.01° blob near (10, 20) — far smaller than the 0.41°×0.21° tile),
    * the rest spread world-wide. The Common-Crawl shape where one city
    * dominates the corpus. */
  private def skewPoints(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id").as("id"),
      when(col("doc_id") % 5 =!= 0, (col("doc_id") % 97) / 10000.0 + 10.0)
        .otherwise((col("doc_id") * 37 % 3600) / 10.0 - 180.0).as("x"),
      when(col("doc_id") % 5 =!= 0, (col("doc_id") % 89) / 10000.0 + 20.0)
        .otherwise((col("doc_id") * 53 % 1700) / 10.0 - 85.0).as("y"))

  /** Star-polygon table for q_poly_relations: codegen star synthesis
    * (GeoKernels.starPoly) — bit-identical rings to the former UDF (same
    * literals, same op order), no per-row boxing. Widen BEFORE the starPoly
    * projection: a repartition added later lands above the projection, so
    * the synthesis would still run on the scan's (possibly single-file)
    * partitioning. */
  private def starTable(s: SparkSession, dir: String, table: String,
                        key: String, rad: Double): Dataset[GeoRow] = {
    implicit val sp: SparkSession = s
    import sp.implicits._
    val base = GeoEngine.widen(
      s.read.parquet(s"$dir/$table.parquet").select(
        col(key).cast("long").as("id"),
        ((col(key) * 13 % 2800) / 8.0 - 175.0).as("cx"),
        ((col(key) * 17 % 1280) / 8.0 - 80.0).as("cy")))
      .withColumn("coords", graft.functions.GeoExprs.starPoly(
        col("id"), col("cx"), col("cy"), lit(rad), 8, 5, 0.6, 0.4))
    base.select(col("id"), lit(GeomType.POLYGON).as("gtype"), col("coords"),
      (col("cx") - rad).as("xmin"), (col("cy") - rad).as("ymin"),
      (col("cx") + rad).as("xmax"), (col("cy") + rad).as("ymax")).as[GeoRow]
  }

  /** Test hook (OptimizationR06Spec "static SideMeta constants are safe"):
    * (input, static, dynamically computed) SideMeta triples for every
    * static-dispatch constant over the actual bench inputs at `dir` — the
    * safety contract is: type flags exactly equal, and dynamic wide/narrow
    * presence implies the static flag. */
  private[graft] def staticMetaPairs(s: SparkSession, dir: String):
      Seq[(String, GeoEngine.SideMeta, GeoEngine.SideMeta)] = {
    implicit val sp: SparkSession = s
    def dyn(ds: Dataset[GeoRow]) = GeoEngine.sideMeta(ds, grid)
    Seq(
      ("orderPoints", MPoints.get, dyn(pointsGeo(orderPoints(s, dir)))),
      ("orderPoints8", MPoints.get, dyn(pointsGeo(orderPoints8(s, dir)))),
      ("skewPoints", MPoints.get, dyn(pointsGeo(skewPoints(s, dir)))),
      ("partBoxes", MBoxes.get, dyn(boxesGeo(partBoxes(s, dir)))),
      ("custBoxes", MBoxes.get, dyn(boxesGeo(custBoxes(s, dir)))),
      ("smallBoxes", MBoxes.get, dyn(boxesGeo(smallBoxes(s, dir)))),
      ("shiftedBoxes", MBoxes.get, dyn(boxesGeo(shiftedBoxes(s, dir)))),
      ("diagSegs", MSegs.get, dyn(segsGeo(diagSegs(s, dir)))),
      ("partStars", MStarsWide.get,
        dyn(starTable(s, dir, "part", "p_partkey", 2.0))),
      ("custStars", MStarsNarrow.get,
        dyn(starTable(s, dir, "customer", "c_custkey", 0.4))))
  }

  // ---- GeoRow constructors ------------------------------------------------

  private def pointsGeo(df: DataFrame)(implicit s: SparkSession): Dataset[GeoRow] = {
    import s.implicits._
    df.select(col("id"), lit(GeomType.POINT).as("gtype"),
      array(col("x"), col("y")).as("coords"),
      col("x").as("xmin"), col("y").as("ymin"),
      col("x").as("xmax"), col("y").as("ymax")).as[GeoRow]
  }

  private def boxesGeo(df: DataFrame)(implicit s: SparkSession): Dataset[GeoRow] = {
    import s.implicits._
    df.select(col("id"), lit(GeomType.BOX).as("gtype"),
      array(col("bxmin"), col("bymin"), col("bxmax"), col("bymin"),
            col("bxmax"), col("bymax"), col("bxmin"), col("bymax"),
            col("bxmin"), col("bymin")).as("coords"),
      col("bxmin").as("xmin"), col("bymin").as("ymin"),
      col("bxmax").as("xmax"), col("bymax").as("ymax")).as[GeoRow]
  }

  private def segsGeo(df: DataFrame)(implicit s: SparkSession): Dataset[GeoRow] = {
    import s.implicits._
    df.select(col("id"), lit(GeomType.LINESTRING).as("gtype"),
      array(col("x1"), col("y1"), col("x2"), col("y2")).as("coords"),
      col("x1").as("xmin"), col("y1").as("ymin"),
      col("x2").as("xmax"), col("y2").as("ymax")).as[GeoRow]
  }

  // ---- persisted APRIL index (reference lifecycle: buildIndex once, query
  //      the stored index; API/Hecatoncheir.cpp:509-564) ---------------------

  /** Per-SF index root, content-keyed (table file size and modification
    * time) so a regenerated testdata dir invalidates the cache instead of
    * serving a stale index, and keyed by the index code's CRC so builds of
    * different code on one machine each keep their own index instead of
    * rebuilding each other's. */
  private def idxRoot(dir: String): String = {
    val f = new java.io.File(s"$dir/part.parquet")
    s"/tmp/graft_idx/${new java.io.File(dir).getName}_${f.length}_${f.lastModified}" +
      s"_${graft.store.SpatialIndex.codeCrc}"
  }

  /** The diamond table's persisted APRIL index (order 10), served from the
    * path snapshot under `idxRoot(dir)`: built once, loaded by every later
    * query with matching parameters. */
  private[graft] def diamondIndex(s: SparkSession, dir: String): graft.store.SpatialIndex.Loaded =
    graft.store.SpatialIndex.ensure(s, idxRoot(dir), "diamonds_o10_serve",
      grid, order = 10) {
      diamonds(s, dir)(s).toDF()
    }

  // ---- flagship -----------------------------------------------------------

  /** Flagship: spatial point-in-box join on sf0.001 via the tile engine. */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    val dir = "/root/testdata/sf0.001"
    GeoEngine.spatialJoin(pointsGeo(orderPoints(spark, dir)),
      boxesGeo(partBoxes(spark, dir)), Predicates.INTERSECTS, grid)
  }

  // ---- query registry -----------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tiling / partitioning ---
    "q_tile_assign" -> ((s, dir) => {
      GeoEngine.tileAssignments(docPoints(s, dir), grid, hexRes = 7)
        .select(col("id"), col("tile"), col("coarseTile").as("coarse_tile"))
    }),
    "q_tile_histogram" -> ((s, dir) => {
      GeoEngine.tileAssignments(docPoints(s, dir), grid, hexRes = 7)
        .groupBy(col("tile")).agg(count(lit(1)).as("n"))
    }),

    // --- spatial joins ---
    "q_pip_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // size-based chooser picks broadcast vs shuffle from Catalyst stats
      GeoEngine.spatialJoinAuto(pointsGeo(orderPoints(s, dir)),
        boxesGeo(partBoxes(s, dir)), Predicates.INTERSECTS, grid,
        rMeta = MPoints, sMeta = MBoxes)
    }),
    // 80% of the points share ONE fine tile (worst-case key skew): the
    // salted shuffle path fans the hot tile across 8 sub-keys so no single
    // task owns 80% of the join. Result-identity of salting is
    // property-tested in sbt; this entry puts it under the driver's
    // DuckDB oracle gate and in the bench set.
    "q_skew_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.spatialJoin(pointsGeo(skewPoints(s, dir)),
        boxesGeo(partBoxes(s, dir)), Predicates.INTERSECTS, grid,
        saltFactor = 8, rMeta = MPoints, sMeta = MBoxes)
    }),
    "q_inside_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.spatialJoin(boxesGeo(smallBoxes(s, dir)),
        boxesGeo(partBoxes(s, dir)), Predicates.INSIDE, grid,
        rMeta = MBoxes, sMeta = MBoxes)
    }),
    "q_equal_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.spatialJoin(boxesGeo(custBoxes(s, dir)),
        boxesGeo(partBoxes(s, dir)), Predicates.EQUAL, grid,
        rMeta = MBoxes, sMeta = MBoxes)
    }),
    "q_meet_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.spatialJoin(boxesGeo(partBoxes(s, dir)),
        boxesGeo(shiftedBoxes(s, dir)), Predicates.MEET, grid,
        rMeta = MBoxes, sMeta = MBoxes)
    }),
    "q_find_relation" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.findRelationJoin(boxesGeo(partBoxes(s, dir)),
        boxesGeo(custBoxes(s, dir)), grid, rMeta = MBoxes, sMeta = MBoxes)
    }),
    "q_contains_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.spatialJoin(boxesGeo(partBoxes(s, dir)),
        boxesGeo(smallBoxes(s, dir)), Predicates.CONTAINS, grid,
        rMeta = MBoxes, sMeta = MBoxes)
    }),
    "q_covers_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.spatialJoin(boxesGeo(partBoxes(s, dir)),
        boxesGeo(smallBoxes(s, dir)), Predicates.COVERS, grid,
        rMeta = MBoxes, sMeta = MBoxes)
    }),
    "q_covered_by_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.spatialJoin(boxesGeo(smallBoxes(s, dir)),
        boxesGeo(partBoxes(s, dir)), Predicates.COVERED_BY, grid,
        rMeta = MBoxes, sMeta = MBoxes)
    }),
    // tile-local DISJOINT: MBR-overlapping candidates whose geometries are
    // disjoint (points off a diagonal segment) — the reference's documented
    // common-tile semantics, SURVEY §2.4 caveat
    "q_disjoint_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.spatialJoin(pointsGeo(orderPoints8(s, dir)),
        segsGeo(diagSegs(s, dir)), Predicates.DISJOINT, grid,
        rMeta = MPoints, sMeta = MSegs)
    }),
    // APRIL-path oracles: the interval verdicts run for real (non-rectangular
    // geometry), inconclusive pairs fall through to exact refinement. The
    // diamond side reads the PERSISTED index snapshot (rasterized once at
    // build, amortized across queries); the point side synthesizes its
    // A-list inline — no per-run rasterization anywhere in this plan.
    "q_pip_join_april" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val idx = diamondIndex(s, dir)
      // no broadcastS: a broadcast S carries its payload (coords + interval
      // arrays) through the tile explode, multiplying the broadcast bytes
      // per covered tile — measured 1.5x slower than the slim exchange +
      // re-join-by-id even at sf0.1. The point side is broadcast instead
      // when its emission fits Spark's threshold, and the diamonds'
      // payload rides their own emission.
      GeoEngine.spatialJoin(pointsGeo(orderPoints8(s, dir)),
        idx.df.as[GeoRow], Predicates.INTERSECTS, grid,
        useApril = true, aprilOrder = 10, rMeta = MPoints,
        sMeta = Some(idx.meta))
    }),
    // the buildIndex lifecycle itself, oracle-checked end-to-end: force a
    // fresh build + commit, read the snapshot back, emit the stored MBRs
    "q_index_build" -> ((s, dir) => {
      val built = graft.store.SpatialIndex.build(diamonds(s, dir)(s).toDF(),
        grid, order = 10, idxRoot(dir), "diamonds_o10")
      built.df.select(col("id"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"))
    }),
    // topology filter on NON-rectangular geometry (points × diamond
    // polygons): the interval algebra genuinely resolves DISJOINT/INSIDE
    // pairs here — all-box workloads prune the APRIL sub-plan entirely
    // (see FindRelationPlanSpec)
    "q_find_relation_april" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val idx = diamondIndex(s, dir)
      GeoEngine.findRelationJoin(pointsGeo(orderPoints8(s, dir)),
        idx.df.as[GeoRow], grid, useApril = true, aprilOrder = 10,
        rMeta = MPoints, sMeta = Some(idx.meta))
    }),
    "q_distance_join" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GeoEngine.distanceJoin(pointsGeo(orderPoints(s, dir)),
        pointsGeo(supplierPoints(s, dir)), 3.0, grid)
    }),
    "q_knn" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // queries stay a DataFrame — no driver-side collect of the query table
      val qs = supplierPoints(s, dir).select(
        col("id").as("qid"), col("x").as("qx"), col("y").as("qy"))
      GeoEngine.knnBatchDf(pointsGeo(orderPoints(s, dir)), qs, 5, Some(grid))
        .select(col("qid"), col("id"), col("rnk").cast("long").as("rnk"))
    }),

    // --- CSV scan (reference load semantics: count header, id col ignored,
    //     recID = file line index) ---
    "q_csv_scan" -> ((s, dir) => {
      val rows = supplierPoints(s, dir).orderBy("id").collect()
      val f = new java.io.File(s"/tmp/graft_csv_${math.abs(dir.hashCode)}.csv")
      val w = new java.io.PrintWriter(f)
      try {
        w.println(rows.length)
        rows.foreach(r => w.println(s"${r.getLong(0)},${r.getDouble(1)} ${r.getDouble(2)}"))
      } finally w.close()
      GeoEngine.readCsv(s, f.getPath, GeomType.POINT)
        .select(col("id"), col("xmin").as("x"), col("ymin").as("y"))
    }),

    // --- WKT scan (reference load semantics: recID = 0-based line number,
    //     invalid rows skipped but consume their line number) ---
    "q_wkt_scan" -> ((s, dir) => {
      val rows = supplierPoints(s, dir).orderBy("id").collect()
      val f = new java.io.File(s"/tmp/graft_wkt_${math.abs(dir.hashCode)}.wkt")
      val w = new java.io.PrintWriter(f)
      try rows.foreach(r => w.println(s"POINT (${r.getDouble(1)} ${r.getDouble(2)})"))
      finally w.close()
      GeoEngine.readWkt(s, f.getPath, GeomType.POINT)
        .select(col("id"), col("xmin").as("x"), col("ymin").as("y"))
    }),

    // --- range queries ---
    // polygon (diamond) windows with the on-the-fly window APRIL filter
    "q_range_poly_april" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wins = s.read.parquet(s"$dir/nation.parquet").select(
        col("n_nationkey").cast("long").as("qid"),
        ((col("n_nationkey") * 29 % 2800) / 8.0 - 175.0).as("cx"),
        ((col("n_nationkey") * 31 % 1280) / 8.0 - 80.0).as("cy"),
        ((col("n_nationkey") % 6 + 15) / 8.0).as("hw"),
        ((col("n_nationkey") % 4 + 12) / 8.0).as("hh")
      ).collect().map { r =>
        val (qid, cx, cy, hw, hh) =
          (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
        (qid, Geom(GeomType.POLYGON,
          Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy)))
      }.toSeq
      GeoEngine.rangeBatch(pointsGeo(orderPoints8(s, dir)), wins, grid,
        useApril = true, aprilOrder = 10, dataMeta = MPoints)
    }),
    "q_range_count" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wins = nationWindows(s, dir).collect().map(r =>
        (r.getLong(0), Geom.box(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toSeq
      GeoEngine.rangeBatch(pointsGeo(orderPoints(s, dir)), wins, grid,
        dataMeta = MPoints)
        .groupBy("qid").agg(count(lit(1)).as("n"))
    }),
    "q_range_collect" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wins = nationWindows(s, dir).collect().map(r =>
        (r.getLong(0), Geom.box(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toSeq
      GeoEngine.rangeBatch(pointsGeo(orderPoints(s, dir)), wins, grid,
        dataMeta = MPoints)
    }),

    // --- dedup ---
    "q_dedup_exact" -> ((s, dir) =>
      TextOps.exactDedup(s.read.parquet(s"$dir/documents.parquet"))),
    // in-flight dedup's batch semantics: keeper ROW per distinct hash.
    // (StreamingSpec pins the cross-mode guarantee — the distinct-hash SET;
    // keeper identity is mode-specific by design, see dedupDocs scaladoc.)
    "q_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamOps.dedupDocs(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))),
    "q_minhash_pairs" -> ((s, dir) =>
      TextOps.minhashDedupPairs(s.read.parquet(s"$dir/documents.parquet"), tau = 0.5)
        .select(col("a"), col("b"))),
    "q_simhash_pairs" -> ((s, dir) =>
      TextOps.simhashDupPairs(s.read.parquet(s"$dir/documents.parquet"))),
    // connected components over the verified near-dup pairs — the group
    // table a pipeline keeps one doc per
    "q_dedup_groups" -> ((s, dir) =>
      TextOps.dupGroups(
        TextOps.minhashDedupPairs(s.read.parquet(s"$dir/documents.parquet"),
          tau = 0.5).select(col("a"), col("b")))),

    // --- text analysis ---
    "q_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(s.read.parquet(s"$dir/documents.parquet"))),
    "q_quality" -> ((s, dir) =>
      TextOps.qualityFlags(s.read.parquet(s"$dir/documents.parquet"))),
    "q_lang_dist" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang").agg(count(lit(1)).as("n"))),
    "q_langid" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextExprs.langId(col("text")).as("lang_pred"))),
    "q_fingerprint" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextExprs.fingerprint(col("text")).as("fp"),
          graft.functions.TextExprs.simhash64(col("text")).as("sh"))),

    // --- similarity search ---
    "q_ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val qs = emb.where(col("vec_id") < 5).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      Ann.bruteForceTopK(emb, qs, 10)
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val qs = emb.where(col("vec_id") < 5).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      Ann.lshTopK(emb, qs, 10)
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val qs = emb.where(col("vec_id") < 5).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      Ann.ivfTopK(emb, qs, 10)
    }),

    // --- polygon predicates beyond intersects (rows-only: SQL can't
    //     express polygon topology; pinned instead by golden + property tests) ---
    "q_poly_relations" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      def polyTable(table: String, key: String, rad: Double) =
        starTable(s, dir, table, key, rad)
      // plain refinement path: these stars are 8-13 vertices, so exact
      // relate is cheaper than rasterize+broadcast of degree-scale APRIL
      // lists (the APRIL topology filter pays on vertex-heavy geometry —
      // see ScaleBench's 3.4x and the useApril equivalence test)
      GeoEngine.findRelationJoin(polyTable("part", "p_partkey", 2.0),
        polyTable("customer", "c_custkey", 0.4), grid,
        rMeta = MStarsWide, sMeta = MStarsNarrow)
        .groupBy("relation").agg(count(lit(1)).as("n"))
    }),

    // --- embedding-cosine near-dup (LSH buckets + exact rescoring) ---
    "q_embed_dedup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val tables = s.range(4).select(col("id").cast("int").as("t"))
      val banded = emb.crossJoin(tables)
        .withColumn("bucket", graft.functions.GeoExprs.lshSig(col("embedding"),
          lit(42L) + col("t").cast("long"), 8))
      val l = banded.select(col("t"), col("bucket"), col("vec_id").as("a"))
      val r = banded.select(col("t"), col("bucket"), col("vec_id").as("b"))
      // distinct over (a, b) id pairs only; vectors re-join by id afterwards
      // (a distinct carrying both float arrays shuffles the full vectors)
      val vecs = emb.select(col("vec_id"), col("embedding"))
      l.join(r, Seq("t", "bucket")).where(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
        .join(vecs.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
        .join(vecs.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
        .where(graft.functions.GeoExprs.cosineSim(col("ea"), col("eb")) >= 0.3)
        .select(col("a"), col("b"))
    }),

    // --- event-time windowed tile aggregation (streaming op, batch-checked) ---
    "q_events_window" -> ((s, dir) => {
      graft.streaming.StreamOps.tileWindowCounts(
        s.read.parquet(s"$dir/events.parquet"), grid)
        .select(unix_timestamp(col("win_start")).as("win_s"),
          col("coarse_tile"), col("n"))
    }),

    // --- raster <-> vector materialization ---
    "q_hex_vectorize" -> ((s, dir) =>
      // raster->vector: distinct hex cells of the doc points, materialized
      // as polygon WKT (deterministic, codegen expression)
      GeoEngine.tileAssignments(docPoints(s, dir), grid, hexRes = 5)
        .select(col("hexCell")).distinct()
        .select(col("hexCell").as("hex_cell"),
          graft.functions.GeoExprs.hexCellWkt(col("hexCell")).as("wkt"))),
    // S2-style fallback cell index (north star: "H3 (and S2 fallback)"):
    // the codegen GeoKernels.pointCell call IS the distributed form of
    // HexGrid.s2LikeCell (parity-tested)
    "q_s2_cells" -> ((s, dir) => {
      docPoints(s, dir).select(col("id"),
        graft.functions.GeoExprs.hilbertCell(col("x"), col("y"),
          -180.0, -90.0, 360.0, 180.0, 12).as("s2_cell"))
    }),
    "q_rasterize" -> ((s, dir) => {
      // vector->raster: boxes rasterized to APRIL interval lists; emit
      // interval/cell counts per geometry (deterministic)
      implicit val sp: SparkSession = s
      val g = grid
      val ix = GeoEngine.aprilIndex(boxesGeo(partBoxes(s, dir)).toDF(), g, order = 10)
      ix.select(col("id"),
        (size(col("april_all")) / 2).cast("long").as("n_all_intervals"),
        (size(col("april_full")) / 2).cast("long").as("n_full_intervals"))
    }),

    // --- stream-static spatial join (region tagging; batch-checked here,
    //     stream == batch asserted in StreamingSpec) ---
    "q_region_tag" -> ((s, dir) => {
      val regions = nationWindows(s, dir).select(
        col("qid").as("region_id"), col("wxmin").as("xmin"),
        col("wymin").as("ymin"), col("wxmax").as("xmax"),
        col("wymax").as("ymax"))
      graft.streaming.StreamOps.regionTag(
        s.read.parquet(s"$dir/events.parquet"), regions, grid)
        .select(col("event_id"), col("region_id"))
    }),

    // --- stateful sessionization (streaming op, batch-checked vs oracle) ---
    "q_sessions" -> ((s, dir) => {
      graft.streaming.StreamOps.sessionize(
        s.read.parquet(s"$dir/events.parquet"), grid)
        .select(col("user_id"), col("n_events").cast("long").as("n_events"),
          col("start_ms"), col("end_ms"), col("tiles").cast("long").as("tiles"))
    }),

    // --- web-scale layer (synthetic pages; deterministic) ---
    "q_geotag_tiles" -> ((s, dir) => {
      val n = if (dir.contains("0.001")) 2000L else if (dir.contains("0.01")) 20000L else 200000L
      // the tile assignment reads only url and text: column pruning drops
      // the html/ts/lang kernels from the synthesis
      Pages.tileAssignments(s, Pages.synthesize(s, n).select("url", "text"))
        .select(col("id"), col("tile"), col("coarseTile").as("coarse_tile"), col("hexCell").as("hex_cell"))
    }),
    "q_media_features" -> ((s, dir) => {
      import s.implicits._
      val n = if (dir.contains("0.001")) 500L else 2000L
      // REAL media payloads, synthesized deterministically per doc across
      // all four decodable formats (doc_id mod 4): PCM-16 WAV sine
      // (freq/length from the id), 24-bit BMP gradient, PNG gradient
      // (lossless — decoded pixels are exact), JPEG solid color (lossy —
      // a solid frame keeps the dominant histogram bin stable through
      // quantization). Each is encoded to actual file bytes and DECODED
      // back — WAV/BMP by the pure-JVM codecs, PNG/JPEG by javax.imageio.
      // kind / width / height / frames all come from the real decode.
      // doc_id = fnv64(url) — the url is the ONLY page field this query
      // reads; column pruning drops the other kernels from the synthesis
      val pages = Pages.synthesize(s, n).select("url", "text")
        .withColumn("doc_id", graft.functions.GeoExprs.fnv64(col("url")))
      // ONE pass: synthesize bytes, header-parse the metadata, decode the
      // features — no double synthesis, no join (map-side only)
      pages.select(col("doc_id")).as[Long].mapPartitions { it =>
        it.map { id =>
          val bytes = Math.floorMod(id, 4L) match {
            case 0L =>
              val sr = 4000
              val freq = 200.0 + Math.floorMod(id, 800L)
              val nSamp = sr / 5 + Math.floorMod(id, 400L).toInt
              val samples = Array.tabulate(nSamp)(i =>
                (0.5 * math.sin(2 * math.Pi * freq * i / sr)).toFloat)
              graft.ops.MediaCodec.encodeWavPcm16(sr, 1, samples)
            case 1L =>
              val w = 8 + Math.floorMod(id, 16L).toInt
              val h = 6 + Math.floorMod(id, 12L).toInt
              val px = Array.tabulate(w * h) { i =>
                val x = i % w; val y = i / w
                ((x * 255 / math.max(w - 1, 1)) << 16) |
                  ((y * 255 / math.max(h - 1, 1)) << 8) |
                  Math.floorMod(id, 256L).toInt
              }
              graft.ops.MediaCodec.encodeBmp24(w, h, px)
            case 2L =>
              val w = 8 + Math.floorMod(id, 16L).toInt
              val h = 6 + Math.floorMod(id, 12L).toInt
              val px = Array.tabulate(w * h) { i =>
                val x = i % w; val y = i / w
                ((x * 255 / math.max(w - 1, 1)) << 16) |
                  ((y * 255 / math.max(h - 1, 1)) << 8) |
                  Math.floorMod(id, 256L).toInt
              }
              graft.ops.MediaCodec.encodeImageIO(w, h, px, "png")
            case _ =>
              val w = 8 + Math.floorMod(id, 16L).toInt
              val h = 6 + Math.floorMod(id, 12L).toInt
              // solid gray at a histogram-bin center: 13 bins over 0..255 →
              // bin g*13/256 survives JPEG's ±few-level quantization noise
              val gray = (Math.floorMod(id, 13L).toInt * 256 + 128) / 13
              val px = Array.fill(w * h)((gray << 16) | (gray << 8) | gray)
              graft.ops.MediaCodec.encodeImageIO(w, h, px, "jpeg")
          }
          val meta = Multimodal.metaOf(id, bytes)
          val (kind, feats, frames) = Multimodal.decodeFeatures(bytes, 16)
          // feat_argmax pins the decoded CONTENT in the oracle, not just the
          // headers: dominant FFT band for audio (a function of the sine
          // frequency), dominant gray-histogram bin for images (a function
          // of the gradient) — first index wins ties, deterministic floats
          def argmax(off: Int): Int = {
            var best = off; var i = off + 1
            while (i < feats.length) {
              if (feats(i) > feats(best)) best = i
              i += 1
            }
            best - off
          }
          val featArgmax = kind match {
            case "wav" => argmax(2) // spectral bands start at index 2
            case "bmp" | "png" | "jpeg" => argmax(3) // gray histogram at 3
            case _ => -1
          }
          (id, kind, frames, meta.n_bytes, meta.width, meta.height, featArgmax)
        }
      }.toDF("doc_id", "kind", "frames", "n_bytes", "width", "height",
        "feat_argmax")
    })
  )

  // ---- DuckDB oracles ------------------------------------------------------

  private val gridSql =
    """(SELECT (-180.0 - 1e-8) AS gxmin, (-90.0 - 1e-8) AS gymin,
      |  ((180.0 + 1e-8) - (-180.0 - 1e-8)) / 872.0 AS fex,
      |  ((90.0 + 1e-8) - (-90.0 - 1e-8)) / 872.0 AS fey) g""".stripMargin

  private val docPointsSql =
    """SELECT doc_id AS id,
      |  (doc_id * 37 % 3600) / 10.0 - 180.0 AS x,
      |  (doc_id * 53 % 1700) / 10.0 - 85.0 AS y
      |FROM documents""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_tile_assign" ->
      s"""WITH pts AS ($docPointsSql),
         |t AS (SELECT id,
         |  CAST(FLOOR((x - gxmin) / fex) AS BIGINT) AS fi,
         |  CAST(FLOOR((y - gymin) / fey) AS BIGINT) AS fj
         |  FROM pts, $gridSql)
         |SELECT id, fi + fj * 872 AS tile,
         |  CAST(FLOOR(fi / 8.0) AS BIGINT) + CAST(FLOOR(fj / 8.0) AS BIGINT) * 109 AS coarse_tile
         |FROM t""".stripMargin,
    "q_tile_histogram" ->
      s"""WITH pts AS ($docPointsSql),
         |t AS (SELECT CAST(FLOOR((x - gxmin) / fex) AS BIGINT)
         |  + CAST(FLOOR((y - gymin) / fey) AS BIGINT) * 872 AS tile
         |  FROM pts, $gridSql)
         |SELECT tile, COUNT(*) AS n FROM t GROUP BY tile""".stripMargin,
    "q_pip_join" ->
      s"""WITH pts AS ($orderPointsSql), boxes AS ($partBoxesSql)
         |SELECT pts.id AS rid, boxes.id AS sid FROM pts, boxes
         |WHERE x >= bxmin AND x <= bxmax AND y >= bymin AND y <= bymax""".stripMargin,
    "q_skew_join" ->
      s"""WITH pts AS (SELECT doc_id AS id,
         |  CASE WHEN doc_id % 5 <> 0 THEN (doc_id % 97) / 10000.0 + 10.0
         |       ELSE (doc_id * 37 % 3600) / 10.0 - 180.0 END AS x,
         |  CASE WHEN doc_id % 5 <> 0 THEN (doc_id % 89) / 10000.0 + 20.0
         |       ELSE (doc_id * 53 % 1700) / 10.0 - 85.0 END AS y
         |  FROM documents), boxes AS ($partBoxesSql)
         |SELECT pts.id AS rid, boxes.id AS sid FROM pts, boxes
         |WHERE x >= bxmin AND x <= bxmax AND y >= bymin AND y <= bymax""".stripMargin,
    "q_inside_join" ->
      s"""WITH r AS ($smallBoxesSql), s AS ($partBoxesSql)
         |SELECT r.id AS rid, s.id AS sid FROM r, s
         |WHERE r.bxmin >= s.bxmin AND r.bxmax <= s.bxmax
         |  AND r.bymin >= s.bymin AND r.bymax <= s.bymax""".stripMargin,
    "q_equal_join" ->
      s"""WITH r AS ($custBoxesSql), s AS ($partBoxesSql)
         |SELECT r.id AS rid, s.id AS sid FROM r, s
         |WHERE r.bxmin = s.bxmin AND r.bxmax = s.bxmax
         |  AND r.bymin = s.bymin AND r.bymax = s.bymax""".stripMargin,
    "q_meet_join" ->
      s"""WITH r AS ($partBoxesSql), s AS ($shiftedBoxesSql)
         |SELECT r.id AS rid, s.id AS sid FROM r, s
         |WHERE r.bxmin <= s.bxmax AND r.bxmax >= s.bxmin
         |  AND r.bymin <= s.bymax AND r.bymax >= s.bymin
         |  AND (r.bxmin = s.bxmax OR r.bxmax = s.bxmin
         |    OR r.bymin = s.bymax OR r.bymax = s.bymin)""".stripMargin,
    "q_find_relation" ->
      s"""WITH r AS ($partBoxesSql), s AS ($custBoxesSql)
         |SELECT r.id AS rid, s.id AS sid,
         |  CASE
         |    WHEN r.bxmin = s.bxmin AND r.bxmax = s.bxmax
         |     AND r.bymin = s.bymin AND r.bymax = s.bymax THEN 6
         |    WHEN r.bxmin <= s.bxmin AND r.bxmax >= s.bxmax
         |     AND r.bymin <= s.bymin AND r.bymax >= s.bymax THEN 3
         |    WHEN r.bxmin >= s.bxmin AND r.bxmax <= s.bxmax
         |     AND r.bymin >= s.bymin AND r.bymax <= s.bymax THEN 2
         |    WHEN r.bxmin = s.bxmax OR r.bxmax = s.bxmin
         |      OR r.bymin = s.bymax OR r.bymax = s.bymin THEN 7
         |    ELSE 1 END AS relation
         |FROM r, s
         |WHERE r.bxmin <= s.bxmax AND r.bxmax >= s.bxmin
         |  AND r.bymin <= s.bymax AND r.bymax >= s.bymin""".stripMargin,
    "q_contains_join" ->
      s"""WITH r AS ($partBoxesSql), s AS ($smallBoxesSql)
         |SELECT r.id AS rid, s.id AS sid FROM r, s
         |WHERE s.bxmin >= r.bxmin AND s.bxmax <= r.bxmax
         |  AND s.bymin >= r.bymin AND s.bymax <= r.bymax""".stripMargin,
    "q_covers_join" ->
      s"""WITH r AS ($partBoxesSql), s AS ($smallBoxesSql)
         |SELECT r.id AS rid, s.id AS sid FROM r, s
         |WHERE s.bxmin >= r.bxmin AND s.bxmax <= r.bxmax
         |  AND s.bymin >= r.bymin AND s.bymax <= r.bymax""".stripMargin,
    "q_covered_by_join" ->
      s"""WITH r AS ($smallBoxesSql), s AS ($partBoxesSql)
         |SELECT r.id AS rid, s.id AS sid FROM r, s
         |WHERE r.bxmin >= s.bxmin AND r.bxmax <= s.bxmax
         |  AND r.bymin >= s.bymin AND r.bymax <= s.bymax""".stripMargin,
    "q_disjoint_join" ->
      s"""WITH p AS ($orderPoints8Sql), g AS ($diagSegsSql)
         |SELECT p.id AS rid, g.id AS sid FROM p, g
         |WHERE p.x >= g.x1 AND p.x <= g.x2 AND p.y >= g.y1 AND p.y <= g.y2
         |  AND NOT ((g.x2 - g.x1) * (p.y - g.y1) = (g.y2 - g.y1) * (p.x - g.x1))""".stripMargin,
    "q_pip_join_april" ->
      s"""WITH p AS ($orderPoints8Sql), d AS ($diamondsSql)
         |SELECT p.id AS rid, d.id AS sid FROM p, d
         |WHERE ABS(p.x - d.cx) * d.hh + ABS(p.y - d.cy) * d.hw <= d.hw * d.hh""".stripMargin,
    // the persisted index must round-trip every object with its exact MBR
    "q_index_build" ->
      s"""WITH d AS ($diamondsSql)
         |SELECT id, cx - hw AS xmin, cy - hh AS ymin,
         |  cx + hw AS xmax, cy + hh AS ymax FROM d""".stripMargin,
    // point × diamond topology: strictly-inside → INSIDE(2), on the diamond
    // boundary → COVERED_BY(4), in the MBR but off the diamond → DISJOINT(0);
    // dyadic lattices make the |dx|·hh + |dy|·hw vs hw·hh comparison exact
    "q_find_relation_april" ->
      s"""WITH p AS ($orderPoints8Sql), d AS ($diamondsSql)
         |SELECT p.id AS rid, d.id AS sid,
         |  CASE
         |    WHEN ABS(p.x - d.cx) * d.hh + ABS(p.y - d.cy) * d.hw < d.hw * d.hh THEN 2
         |    WHEN ABS(p.x - d.cx) * d.hh + ABS(p.y - d.cy) * d.hw = d.hw * d.hh THEN 4
         |    ELSE 0 END AS relation
         |FROM p, d
         |WHERE p.x >= d.cx - d.hw AND p.x <= d.cx + d.hw
         |  AND p.y >= d.cy - d.hh AND p.y <= d.cy + d.hh""".stripMargin,
    "q_distance_join" ->
      s"""WITH r AS ($orderPointsSql), s AS ($supplierPointsSql)
         |SELECT r.id AS rid, s.id AS sid FROM r, s
         |WHERE SQRT((r.x - s.x) * (r.x - s.x) + (r.y - s.y) * (r.y - s.y)) <= 3.0""".stripMargin,
    "q_knn" ->
      s"""WITH p AS ($orderPointsSql), q AS ($supplierPointsSql)
         |SELECT qid, id, rnk FROM (
         |  SELECT q.id AS qid, p.id AS id,
         |    ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
         |      SQRT((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)), p.id) AS rnk
         |  FROM p, q) WHERE rnk <= 5""".stripMargin,
    "q_csv_scan" ->
      s"""WITH s AS ($supplierPointsSql)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS BIGINT) AS id, x, y
         |FROM s""".stripMargin,
    "q_wkt_scan" ->
      s"""WITH s AS ($supplierPointsSql)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS BIGINT) AS id, x, y
         |FROM s""".stripMargin,
    "q_range_poly_april" ->
      s"""WITH p AS ($orderPoints8Sql),
         |w AS (SELECT CAST(n_nationkey AS BIGINT) AS qid,
         |  (n_nationkey * 29 % 2800) / 8.0 - 175.0 AS cx,
         |  (n_nationkey * 31 % 1280) / 8.0 - 80.0 AS cy,
         |  (n_nationkey % 6 + 15) / 8.0 AS hw,
         |  (n_nationkey % 4 + 12) / 8.0 AS hh
         |  FROM nation)
         |SELECT w.qid AS qid, p.id AS id FROM p, w
         |WHERE ABS(p.x - w.cx) * w.hh + ABS(p.y - w.cy) * w.hw <= w.hw * w.hh""".stripMargin,
    "q_range_count" ->
      s"""WITH p AS ($orderPointsSql), w AS ($nationWindowsSql)
         |SELECT qid, COUNT(*) AS n FROM p, w
         |WHERE x >= wxmin AND x <= wxmax AND y >= wymin AND y <= wymax
         |GROUP BY qid""".stripMargin,
    "q_range_collect" ->
      s"""WITH p AS ($orderPointsSql), w AS ($nationWindowsSql)
         |SELECT qid, p.id AS id FROM p, w
         |WHERE x >= wxmin AND x <= wxmax AND y >= wymin AND y <= wymax""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keeper
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_stream_dedup" ->
      """SELECT doc_id, text, md5(text) AS h FROM documents
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1""".stripMargin,
    "q_token_stats" ->
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens_ws,
        |  CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens_re,
        |  CAST(LENGTH(text) - LENGTH(REPLACE(text, '.', '')) AS BIGINT) AS n_periods,
        |  CAST(LENGTH(text) - LENGTH(REPLACE(text, ',', '')) AS BIGINT) AS n_commas
        |FROM documents""".stripMargin,
    "q_quality" ->
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |  LENGTH(text) >= 200 AS len_ok,
        |  (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) >= 20 AS tok_ok,
        |  LENGTH(text) < 20000 AS not_huge
        |FROM documents""".stripMargin,
    "q_lang_dist" ->
      "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang",
    "q_region_tag" ->
      s"""WITH e AS (SELECT event_id,
         |  (user_id * 7 % 3600) / 10.0 - 180.0 AS x,
         |  (user_id * 11 % 1700) / 10.0 - 85.0 AS y FROM events),
         |w AS ($nationWindowsSql)
         |SELECT e.event_id AS event_id, w.qid AS region_id FROM e, w
         |WHERE x >= wxmin AND x <= wxmax AND y >= wymin AND y <= wymax""".stripMargin,
    "q_sessions" ->
      s"""WITH e AS (SELECT user_id, ts,
         |  CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000 AS ms,
         |  (user_id * 7 % 3600) / 10.0 - 180.0 AS x,
         |  (user_id * 11 % 1700) / 10.0 - 85.0 AS y FROM events),
         |t AS (SELECT user_id, ts, ms,
         |  CAST(FLOOR((x - gxmin) / fex) AS BIGINT)
         |    + CAST(FLOOR((y - gymin) / fey) AS BIGINT) * 872 AS tile
         |  FROM e, $gridSql),
         |marked AS (SELECT user_id, ms, tile,
         |  CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms)
         |         > 1800000 THEN 1
         |       WHEN LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL THEN 1
         |       ELSE 0 END AS brk
         |  FROM t),
         |sess AS (SELECT user_id, ms, tile,
         |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
         |    ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM marked)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  MIN(ms) AS start_ms, MAX(ms) AS end_ms,
         |  CAST(COUNT(DISTINCT tile) AS BIGINT) AS tiles
         |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "q_events_window" ->
      s"""WITH e AS (SELECT ts, user_id,
         |  (user_id * 7 % 3600) / 10.0 - 180.0 AS x,
         |  (user_id * 11 % 1700) / 10.0 - 85.0 AS y FROM events),
         |t AS (SELECT ts,
         |  CAST(FLOOR((x - gxmin) / fex) AS BIGINT) AS fi,
         |  CAST(FLOOR((y - gymin) / fey) AS BIGINT) AS fj
         |  FROM e, $gridSql)
         |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_s,
         |  CAST(FLOOR(fi / 8.0) AS BIGINT) + CAST(FLOOR(fj / 8.0) AS BIGINT) * 109 AS coarse_tile,
         |  COUNT(*) AS n
         |FROM t GROUP BY 1, 2""".stripMargin
  ) ++ pinnedOracles

  /**
   * Pinned-fixture oracles for the deterministic hash-based operators whose
   * math (FNV64, MinHash permutations, SimHash voting, hex axial rounding,
   * Hilbert rasterization, n-gram language ID, stubbed media decode) is not
   * expressible in DuckDB SQL. The fixture parquet under
   * src/test/resources/expected_sf0.01/ is the committed reference output at
   * sf0.01 — the operator kernels themselves are pinned by sbt-level unit /
   * property tests; the fixture oracle turns any REGRESSION (changed hash
   * seed, reordered permutation, altered rounding) into a hard
   * CORRECTNESS failure instead of an unchecked `no_oracle` row.
   * (The ANN top-k queries stay fixture-free on purpose: their contract is
   * recall, gated by planted-neighbor tests, not bit-stable row sets.)
   *
   * CONSTRAINTS (deliberate, driver-contract-shaped): these oracles are only
   * valid for the driver's correctness run — sf0.01 inputs, repo checked out
   * at /root/repo (oracleSql is a static map, so it cannot see sfDir or the
   * checkout path). Running the oracle compare at another SF or path fails
   * loudly (row-count/file-not-found), never silently. Regenerate with:
   * Verify at sf0.01 → copy each part file to
   * src/test/resources/expected_sf0.01/<q>.parquet.
   *
   * q_ann_topk IS pinned: brute-force cosine top-k is fully deterministic
   * (seeded synthetic embeddings; fixed per-pair accumulation order makes
   * the IEEE sim doubles stable; row_number tie-breaks on vec_id). Only the
   * LSH/IVF recall-contract queries legitimately stay no_oracle — their
   * contract is recall, gated by planted-neighbor tests.
   */
  private def pinnedOracles: Map[String, String] = {
    val root = "/root/repo/src/test/resources/expected_sf0.01"
    Seq("q_fingerprint", "q_langid", "q_geotag_tiles", "q_hex_vectorize",
      "q_rasterize", "q_minhash_pairs", "q_simhash_pairs", "q_poly_relations",
      "q_media_features", "q_embed_dedup", "q_dedup_groups", "q_s2_cells",
      "q_ann_topk")
      .map(q => q -> s"SELECT * FROM read_parquet('$root/$q.parquet')")
      .toMap
  }
}
