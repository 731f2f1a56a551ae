package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._
import graft.functions.{GeoExprs, GeoKernels}

/**
 * Spark-native spatial engine: the reference's prepare/partition/index/query
 * pipeline re-expressed as lazy DataFrame transformations
 * (SURVEY.md §3.1-3.3). One shuffle per join (the tile repartition); the
 * MBR → APRIL → exact-refinement cascade runs inside the joined stage with
 * no extra exchange.
 *
 * Exactly-once pair generation uses the reference-point filter (equivalent
 * to the reference's two-layer class sweeps, proven by RefPointPropertySpec)
 * so no dropDuplicates shuffle is ever needed.
 */
object GeoEngine {

  // ------------------------------------------------------------------ source

  /**
   * Read a WKT file as Dataset[GeoRow] with reference load semantics:
   * recID = 0-based line number, invalid/mismatched rows skipped but still
   * consuming their line number, and only `newline count` lines loaded
   * (an unterminated final line is dropped) — partitioning.cpp:489-531.
   */
  def readWkt(spark: SparkSession, path: String, gtype: Int): Dataset[GeoRow] = {
    import spark.implicits._
    val totalLines = countNewlines(spark, path)
    // zipWithIndex gives the deterministic global line number (the only RDD
    // use in the engine; Spark has no lazy row-number-in-file primitive).
    spark.read.textFile(path).rdd.zipWithIndex()
      .filter(_._2 < totalLines)
      .flatMap { case (line, idx) =>
        val wkt = line.split('\t')(0)
        Wkt.parse(wkt, gtype).map(g => GeoRow.of(idx, g))
      }.toDS()
  }

  /** Newline count through the Hadoop FileSystem API so the reference's
    * wc-l load cap works for any Spark-readable path (hdfs://, s3a://, ...),
    * not just driver-local files. */
  private def countNewlines(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.BufferedInputStream(fs.open(p), 1 << 20)
    try {
      var n = 0L; var c = in.read()
      while (c != -1) { if (c == '\n') n += 1; c = in.read() }
      n
    } finally in.close()
  }

  /**
   * Read a headerless CSV dataset (`count` header line, then `id,x y,...`
   * rows) with reference load semantics: the declared count caps the number
   * of data lines loaded, the file's id column is ignored, and recID = the
   * line's 0-based index in the file (header = line 0, so data ids start
   * at 1) — mirroring `object.recID = currentLine` (partitioning.cpp:270).
   */
  def readCsv(spark: SparkSession, path: String, gtype: Int): Dataset[GeoRow] = {
    import spark.implicits._
    val declared = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // fail fast with a clear message: the count-header + line-index recID
      // semantics require ONE plain, non-empty file (a glob/directory would
      // silently break the per-line ids)
      require(fs.exists(p), s"readCsv: $path does not exist")
      require(fs.getFileStatus(p).isFile,
        s"readCsv: $path is not a regular file (directories/globs are not " +
          "supported — recID is the line index within one file)")
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p)))
      try {
        val header = in.readLine()
        require(header != null && header.trim.nonEmpty,
          s"readCsv: $path is empty or has a blank count header")
        header.trim.toLong
      } finally in.close()
    }
    spark.read.textFile(path).rdd.zipWithIndex()
      .filter { case (_, idx) => idx >= 1 && idx <= declared }
      .flatMap { case (line, idx) =>
        Csv.parseLine(line, gtype).map(g => GeoRow.of(idx, g))
      }.toDS()
  }

  /** Query-file semantics: all lines (incl. unterminated last) — see
    * API/Hecatoncheir.cpp:799. */
  def loadQueriesWkt(path: String, gtype: Int): Seq[(Long, Geom)] =
    scala.io.Source.fromFile(path).getLines().zipWithIndex.flatMap {
      case (line, i) => Wkt.parse(line.split('\t')(0), gtype).map(g => (i.toLong, g))
    }.toSeq

  // -------------------------------------------------------------- dataspace

  /** Global bounds of one or more datasets (one scan each, tiny result). */
  def dataspace(dss: Dataset[GeoRow]*): Dataspace = {
    val bounds = dss.map { ds =>
      val r = ds.agg(min("xmin"), min("ymin"), max("xmax"), max("ymax")).head()
      require(!r.isNullAt(0), "dataspace: empty dataset (no rows to bound)")
      Dataspace(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }
    bounds.reduce((a, b) => Dataspace(
      math.min(a.xmin, b.xmin), math.min(a.ymin, b.ymin),
      math.max(a.xmax, b.xmax), math.max(a.ymax, b.ymax)))
  }

  def gridFor(ds: Dataspace,
              coarsePpd: Int = GridConfig.DefaultCoarsePpd,
              globalPpd: Int = GridConfig.DefaultGlobalPpd): GridConfig =
    GridConfig.fromDataBounds(ds.xmin, ds.ymin, ds.xmax, ds.ymax, coarsePpd, globalPpd)

  // ----------------------------------------------------------------- tiling

  /** Explode a dataset by its fine-tile cover: adds `tile` (and keeps every
    * original column). Points take the single-tile fast path. */
  def withTiles(ds: Dataset[GeoRow], grid: GridConfig): DataFrame =
    withTiles2(ds.toDF(), grid)

  /** Tile explode for any DataFrame carrying (gtype, xmin, ymin, xmax, ymax).
    * Pure Catalyst expressions (sequence/transform/flatten) — no UDF, the
    * cover generation stays inside whole-stage codegen. */
  def withTiles2(df: DataFrame, grid: GridConfig): DataFrame =
    explodeCover(df, grid.fineExtX, grid.fineExtY, grid.xMin, grid.yMin,
      grid.globalPpd)

  private[graft] def clampIdx(c: Column, ext: Double, lo: Double, ppd: Int): Column =
    least(greatest(floor((c - lit(lo)) / lit(ext)).cast("long"), lit(0L)),
      lit(ppd - 1L))

  /** Explode by the MBR's cell cover at an arbitrary granularity (fine or
    * coarse grid); points take the single-cell fast path. */
  private def explodeCover(df: DataFrame, extX: Double, extY: Double,
                           lox: Double, loy: Double, ppd: Int): DataFrame = {
    val iMin = clampIdx(col("xmin"), extX, lox, ppd)
    val iMax = clampIdx(col("xmax"), extX, lox, ppd)
    val jMin = clampIdx(col("ymin"), extY, loy, ppd)
    val jMax = clampIdx(col("ymax"), extY, loy, ppd)
    val p = lit(ppd.toLong)
    val cover = flatten(transform(sequence(jMin, jMax),
      j => transform(sequence(iMin, iMax), i => i + j * p)))
    val single = array(iMin + jMin * p)
    df.withColumn("tile",
      explode(when(col("gtype") === GeomType.POINT, single).otherwise(cover)))
  }

  /** Fine-grid cell count of the row's MBR cover (pre-explode). */
  private def fineCoverCnt(grid: GridConfig, rc: RectCols): Column = {
    val iMin = clampIdx(rc.xmin, grid.fineExtX, grid.xMin, grid.globalPpd)
    val iMax = clampIdx(rc.xmax, grid.fineExtX, grid.xMin, grid.globalPpd)
    val jMin = clampIdx(rc.ymin, grid.fineExtY, grid.yMin, grid.globalPpd)
    val jMax = clampIdx(rc.ymax, grid.fineExtY, grid.yMin, grid.globalPpd)
    (iMax - iMin + lit(1L)) * (jMax - jMin + lit(1L))
  }

  /** Per-side dispatch metadata (the reference's dataset-metadata /
    * BaseIndex::evaluateQuery chooser analogue): does the side hold any wide
    * (> maxFineCover fine cells) or non-rectangular objects, and how hot is
    * the hottest fine tile (home-tile histogram max — the density statistic
    * that drives plane-sweep selection, mirroring the reference's
    * always-sweep kernels on dense tiles)? Lets the join planner skip tile
    * levels that cannot produce pairs in the level-tagged exchange and run
    * the in-tile sweep where the O(k²) hash-path filter would melt. */
  final case class SideMeta(hasWide: Boolean, hasNarrow: Boolean,
                            hasNonRect: Boolean, hasNonBox: Boolean,
                            hasRect: Boolean, hasBox: Boolean,
                            maxHomeTileCnt: Long = 0L,
                            maxCoarseCellCnt: Long = 0L)

  /** Home fine tile of the MBR min corner (pure column tile math). */
  private def homeTileCol(grid: GridConfig): Column =
    clampIdx(col("xmin"), grid.fineExtX, grid.xMin, grid.globalPpd) +
      clampIdx(col("ymin"), grid.fineExtY, grid.yMin, grid.globalPpd) *
        lit(grid.globalPpd.toLong)

  /** One column-pruned pass computing SideMeta (two-stage aggregation: the
    * per-home-tile partial bounds the shuffle at ≤ ppd² rows). Compute once
    * at index-build time (the reference's prepare/partition metadata pass)
    * and pass to spatialJoin/findRelationJoin for repeated queries over the
    * same data. */
  def sideMeta(ds: Dataset[_], grid: GridConfig,
               maxFineCover: Int = MaxFineCover): SideMeta =
    sideStats(ds.toDF(), grid, maxFineCover, withDensity = true)

  /** `withDensity = false` skips the per-home-tile partial (one flat agg, no
    * exchange) for callers that won't consult maxHomeTileCnt — e.g. a
    * broadcast join, or a caller that fixed `sweep` explicitly. Index-build
    * time always computes the full statistics. */
  private def sideStats(df: DataFrame, grid: GridConfig, maxFineCover: Int,
                        withDensity: Boolean): SideMeta = {
    val wide = fineCoverCnt(grid, rowRect) > maxFineCover
    val nonRect = col("gtype") === GeomType.LINESTRING ||
      col("gtype") === GeomType.POLYGON
    val nonBox = col("gtype") =!= GeomType.BOX
    val rect = col("gtype") === GeomType.POINT || col("gtype") === GeomType.BOX
    val box = col("gtype") === GeomType.BOX
    if (!withDensity) {
      def flag0(c: Column) = coalesce(max(when(c, 1).otherwise(0)), lit(0))
      val row = df.agg(flag0(wide), flag0(!wide), flag0(nonRect), flag0(nonBox),
        flag0(rect), flag0(box)).head()
      SideMeta(row.getInt(0) == 1, row.getInt(1) == 1, row.getInt(2) == 1,
        row.getInt(3) == 1, row.getInt(4) == 1, row.getInt(5) == 1, 0L)
    } else {
      def flag(c: Column) = max(when(c, 1).otherwise(0))
      val grouped = df.groupBy(homeTileCol(grid).as("t")).agg(
        count(lit(1)).as("c"), flag(wide).as("w"), flag(!wide).as("na"),
        flag(nonRect).as("nr"), flag(nonBox).as("nb"), flag(rect).as("re"),
        flag(box).as("bx"))
      // coarse-cell histogram derived from the fine partial WHEN the grids
      // nest (globalPpd an exact multiple of coarsePpd — the reference's
      // 872 = 8·109 layout): a fine home tile's coarse cell is index
      // division, and the per-coarse-cell count is a sum over its ≤ fpc²
      // fine tiles. Costs one extra two-stage agg over the ≤ ppd²-row
      // partial — NOT a second pass over the data. This is the density
      // statistic for the COARSE level: a pile-up of wide objects in
      // one coarse cell takes the O(k²) hash filter unless detected here
      // (the fine histogram cannot see it — wide objects never join at the
      // fine level). Non-nested custom grids keep the pre-round-4 behavior:
      // maxCoarseCellCnt = 0 (coarse auto-sweep never engages; the explicit
      // sweep flag still works) — a conservative fallback, never an error.
      // (Non-nested grids also fold out-of-range coarse indices onto other
      // cells' ids in coarseId — correct, since exact verification follows,
      // but it inflates coarse-join candidates; the reference layout nests,
      // and nesting is the supported configuration for performance work.)
      val nested = grid.globalPpd % grid.coarsePpd == 0
      val fpc = math.max(grid.globalPpd / grid.coarsePpd, 1)
      val fi = pmod(col("t"), lit(grid.globalPpd.toLong))
      val fj = floor(col("t") / lit(grid.globalPpd.toLong))
      val ct =
        if (nested)
          floor(fi / lit(fpc)) + floor(fj / lit(fpc)) * lit(grid.coarsePpd.toLong)
        else lit(0L)
      val byCoarse = grouped.groupBy(ct.as("ct")).agg(
        sum("c").as("cc"), max("c").as("mc"), max("w").as("w"),
        max("na").as("na"), max("nr").as("nr"), max("nb").as("nb"),
        max("re").as("re"), max("bx").as("bx"))
      val coarseCnt =
        if (nested) coalesce(max("cc"), lit(0L)) else lit(0L)
      val row = byCoarse.agg(
        coalesce(max("w"), lit(0)), coalesce(max("na"), lit(0)),
        coalesce(max("nr"), lit(0)), coalesce(max("nb"), lit(0)),
        coalesce(max("re"), lit(0)), coalesce(max("bx"), lit(0)),
        coalesce(max("mc"), lit(0L)), coarseCnt).head()
      SideMeta(row.getInt(0) == 1, row.getInt(1) == 1, row.getInt(2) == 1,
        row.getInt(3) == 1, row.getInt(4) == 1, row.getInt(5) == 1,
        row.getLong(6), row.getLong(7))
    }
  }

  /** One side's exploded row for the in-tile plane sweep. */
  final case class SweepRow(tile: Long, id: Long, g: Int,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double)

  /** Candidate pair emitted by the sweep (same shape as the hash-join path). */
  final case class CandRow(rid: Long, sid: Long, rg: Int, sg: Int,
      rxmin: Double, rymin: Double, rxmax: Double, rymax: Double,
      sxmin: Double, symin: Double, sxmax: Double, symax: Double)

  /**
   * In-tile forward plane sweep over one (level, cell) group of the
   * level-tagged exchange (the reference's sweep kernels,
   * src/TwoLayer/intersection_join_filter.cpp:31-361, re-expressed): both
   * sides of a tile sorted by ymin; each element forward-scans the other
   * list over the ymin window [own ymin, own ymax], so y-overlap is implied
   * and only the x-overlap is tested — O((m+n)·log + scanned) instead of the
   * m×n cross product a hash join feeds to the filter. Exactly-once within
   * the tile via the ymin tie-break (r-scan takes s.ymin ≥ r.ymin, s-scan
   * takes r.ymin > s.ymin). Across tiles and levels it applies the hash
   * path's own rules (mergedJoin): the reference-point dedup at the tile's
   * level (GeoKernels.refCellDedup) and, in a coarse cell, the both-narrow
   * level filter (GeoKernels.fineCoverCnt) — used here to split each side
   * into narrow and wide rows, so narrow×narrow pairs are never scanned.
   *
   * Use for DENSE tiles: the hash-join path is fully codegen'd and wins on
   * ordinary density, but a tile holding k objects costs it O(k²) filter
   * evaluations — the sweep caps hot-tile cost without salting.
   */
  private def sweepTile(grid: GridConfig, maxFineCover: Int, tile: Long,
      rsIn: Iterator[SweepRow], ssIn: Iterator[SweepRow]): Iterator[CandRow] = {
    val rs = rsIn.toArray
    val ss = ssIn.toArray
    if (rs.isEmpty || ss.isEmpty) return Iterator.empty
    val byYmin = Ordering.by((w: SweepRow) => w.ymin)
    java.util.Arrays.sort(rs, byYmin)
    java.util.Arrays.sort(ss, byYmin)
    val out = scala.collection.mutable.ArrayBuffer.empty[CandRow]
    @inline def emit(r: SweepRow, s: SweepRow): Unit =
      if (r.xmax >= s.xmin && r.xmin <= s.xmax &&
          GeoKernels.refCellDedup(tile, r.xmin, r.ymin, s.xmin, s.ymin,
            grid.xMin, grid.yMin, grid.fineExtX, grid.fineExtY, grid.globalPpd,
            grid.coarseExtX, grid.coarseExtY, grid.coarsePpd, LvlOffset))
        out += CandRow(r.id, s.id, r.g, s.g,
          r.xmin, r.ymin, r.xmax, r.ymax, s.xmin, s.ymin, s.xmax, s.ymax)
    def sweep(rs: Array[SweepRow], ss: Array[SweepRow]): Unit = {
      // pointer into ss of the first element with ymin >= current r.ymin
      var j0 = 0
      var i = 0
      while (i < rs.length) {
        val r = rs(i)
        while (j0 < ss.length && ss(j0).ymin < r.ymin) j0 += 1
        var j = j0
        while (j < ss.length && ss(j).ymin <= r.ymax) { emit(r, ss(j)); j += 1 }
        i += 1
      }
      // symmetric pass for pairs where r.ymin > s.ymin (strict — no double emit)
      var i0 = 0
      var k = 0
      while (k < ss.length) {
        val s = ss(k)
        while (i0 < rs.length && rs(i0).ymin <= s.ymin) i0 += 1
        var i2 = i0
        while (i2 < rs.length && rs(i2).ymin <= s.ymax) { emit(rs(i2), s); i2 += 1 }
        k += 1
      }
    }
    if (tile < LvlOffset) sweep(rs, ss)
    else {
      // coarse cell: a pair joins here only if one member is wide (both-
      // narrow pairs joined at fine) — all r × wide s, then wide r × narrow s
      def isWide(w: SweepRow): Boolean =
        GeoKernels.fineCoverCnt(w.xmin, w.ymin, w.xmax, w.ymax, grid.xMin,
          grid.yMin, grid.fineExtX, grid.fineExtY, grid.globalPpd) > maxFineCover
      val (sWide, sNarrow) = ss.partition(isWide)
      sweep(rs, sWide)
      sweep(rs.filter(isWide), sNarrow)
    }
    out.iterator
  }

  /**
   * Exactly-once MBR-overlapping candidate pairs via multi-resolution
   * tiling. Objects whose fine-tile cover exceeds `maxFineCover` cells are
   * assigned at the coarse (distribution) grid instead — the reference's
   * two-grid intent (containers.h:1722-1874) — so a wide object ships
   * O(coarse cells) copies through the shuffle instead of O(fine tiles)
   * (a 5°-wide box on the 872² world grid covers ~500 fine tiles but ≤ 8
   * coarse cells; the explode amplification is what dies first at 100 TB).
   *
   * One level-tagged exchange: each side explodes once (mrEmission) onto a
   * long tile key encoding (level, cell) — fine ids as-is, coarse ids offset
   * by LvlOffset. Narrow rows emit their fine cover (iff the other side has
   * narrow rows) and their coarse cover (iff the other side has wide rows);
   * wide rows emit their coarse cover. Every pair of a given key group is at
   * one level, so one physical join serves both levels:
   *   - hash (default): mergedJoin — equi-join on the key, MBR overlap, the
   *     reference-point dedup at the pair's level, and the level filter
   *     dropping coarse-level both-narrow pairs (they joined at fine);
   *   - sweep (`sweep`, dense data; callers select it only in slim mode):
   *     one cogroup on the key running sweepTile, which applies the same
   *     dedup and level rule.
   * A pair's levels are fixed functions of its MBRs, so it is emitted
   * exactly once either way.
   *
   * Output columns: rid, sid, rg, sg, r/s MBRs (+ caller payload columns in
   * broadcast mode). In slim (shuffle) mode only ids+gtype+MBRs cross the
   * exchange; geometry/APRIL re-join by id downstream.
   */
  private def mrCandidates(rIx: DataFrame, sIx: DataFrame, grid: GridConfig,
      broadcastS: Boolean, saltFactor: Int, maxFineCover: Int,
      rm: SideMeta, sm: SideMeta,
      payload: String => Seq[Column],
      sweep: Boolean): DataFrame = {
    val slim = !broadcastS
    val rt = mrEmission(rIx, "r", "rid",
      emitF = rm.hasNarrow && sm.hasNarrow,
      emitCNarrow = rm.hasNarrow && sm.hasWide,
      emitCWide = rm.hasWide,
      grid, maxFineCover, slim, payload)
    val st = mrEmission(sIx, "s", "sid",
      emitF = rm.hasNarrow && sm.hasNarrow,
      emitCNarrow = sm.hasNarrow && rm.hasWide,
      emitCWide = sm.hasWide,
      grid, maxFineCover, slim, payload)
    if (sweep) {
      val spark = rIx.sparkSession
      import spark.implicits._
      def rows(df: DataFrame, p: String, idName: String): Dataset[SweepRow] =
        df.select(col("tile"), col(idName).as("id"), col(p + "g").as("g"),
          col(p + "xmin").as("xmin"), col(p + "ymin").as("ymin"),
          col(p + "xmax").as("xmax"), col(p + "ymax").as("ymax")).as[SweepRow]
      rows(rt, "r", "rid").groupByKey(_.tile)
        .cogroup(rows(st, "s", "sid").groupByKey(_.tile)) { (tile, rs, ss) =>
          sweepTile(grid, maxFineCover, tile, rs, ss)
        }.toDF()
    } else
      mergedJoin(rt, st, grid, broadcastS, saltFactor, maxFineCover)
  }

  /** Level tag offset for the merged multi-resolution exchange: fine tile
    * ids are < globalPpd² (≤ 872² here), coarse ids get this offset — one
    * long key encodes (level, cell) with no struct boxing. */
  private val LvlOffset = 1L << 40

  /** Default wide/narrow threshold: an object whose MBR covers more fine
    * tiles than this joins at the coarse grid. */
  val MaxFineCover = 16

  /** The engine's own gtype + MBR columns. */
  private def rowRect: RectCols =
    RectCols(col("gtype"), col("xmin"), col("ymin"), col("xmax"), col("ymax"))

  /** A NaN in any MBR field: the cell formula floors NaN to cell 0, so such
    * a row would tile (and, for containment, MBR-test) as if it spanned from
    * the grid edge — it gets no tiles instead and joins nothing. */
  private def nanMbr(rc: RectCols): Column =
    isnan(rc.xmin) || isnan(rc.ymin) || isnan(rc.xmax) || isnan(rc.ymax)

  /** Level-encoded cover array at one grid level (points: single cell). */
  private def lvlCoverArr(grid: GridConfig, fine: Boolean, rc: RectCols): Column = {
    val (extX, extY, ppd, off) =
      if (fine) (grid.fineExtX, grid.fineExtY, grid.globalPpd, 0L)
      else (grid.coarseExtX, grid.coarseExtY, grid.coarsePpd, LvlOffset)
    val iMin = clampIdx(rc.xmin, extX, grid.xMin, ppd)
    val iMax = clampIdx(rc.xmax, extX, grid.xMin, ppd)
    val jMin = clampIdx(rc.ymin, extY, grid.yMin, ppd)
    val jMax = clampIdx(rc.ymax, extY, grid.yMin, ppd)
    val pl = lit(ppd.toLong)
    val o = lit(off)
    val cover = flatten(transform(sequence(jMin, jMax),
      j => transform(sequence(iMin, iMax), i => i + j * pl + o)))
    val single = array(iMin + jMin * pl + o)
    when(rc.g === GeomType.POINT, single).otherwise(cover)
  }

  /** A row's level-tagged tile array: its fine cover if it is narrow and
    * `emitF`; its coarse cover if it is narrow and `emitCNarrow`, or wide
    * and `emitCWide`. No emission at all (degenerate empty-side metadata,
    * or a NaN MBR field) is an empty array — it explodes to zero rows, the
    * schema still materializes and the row joins nothing. */
  private[graft] def lvlTiles(grid: GridConfig, maxFineCover: Int, emitF: Boolean,
      emitCNarrow: Boolean, emitCWide: Boolean, rc: RectCols): Column = {
    val wide = fineCoverCnt(grid, rc) > maxFineCover
    val emptyA = typedlit(Array.empty[Long])
    val cCond = (emitCNarrow, emitCWide) match {
      case (true, true)  => Some(lit(true))
      case (true, false) => Some(!wide)
      case (false, true) => Some(wide)
      case _             => None
    }
    Seq(
      if (emitF) Some(when(!wide, lvlCoverArr(grid, fine = true, rc)).otherwise(emptyA))
      else None,
      cCond.map(c => when(c, lvlCoverArr(grid, fine = false, rc)).otherwise(emptyA))
    ).flatten.reduceOption(concat(_, _))
      .map(t => when(nanMbr(rc), emptyA).otherwise(t)).getOrElse(emptyA)
  }

  /** One side's join columns: tile, id, gtype and MBR under the side's
    * prefix (+ payload columns when not slim). */
  private def sideCols(df: DataFrame, p: String, idName: String, slim: Boolean,
      payload: String => Seq[Column]): DataFrame = {
    val base = Seq(col("tile"), col("id").as(idName), col("gtype").as(p + "g"),
      col("xmin").as(p + "xmin"), col("ymin").as(p + "ymin"),
      col("xmax").as(p + "xmax"), col("ymax").as(p + "ymax"))
    df.select((if (slim) base else base ++ payload(p)): _*)
  }

  /** One side's single-pass multi-level emission for the merged exchange. */
  private def mrEmission(df: DataFrame, p: String, idName: String,
      emitF: Boolean, emitCNarrow: Boolean, emitCWide: Boolean,
      grid: GridConfig, maxFineCover: Int, slim: Boolean,
      payload: String => Seq[Column]): DataFrame =
    sideCols(df.withColumn("tile", explode(
      lvlTiles(grid, maxFineCover, emitF, emitCNarrow, emitCWide, rowRect))),
      p, idName, slim, payload)

  /** The merged exchange's pair filter within one level-tagged key group:
    * closed MBR overlap, the reference-point dedup at the tile's level, and
    * the level filter dropping coarse-level both-narrow pairs (they joined
    * at fine). Shared by mergedJoin and the SQL rewrite
    * (plans.SpatialJoinRewrite). */
  private[graft] def mergedPairCond(tile: Column, r: RectCols, s: RectCols,
      grid: GridConfig, maxFineCover: Int): Column = {
    val isCoarse = tile >= lit(LvlOffset)
    val mbrOverlap =
      r.xmax >= s.xmin && r.xmin <= s.xmax &&
      r.ymax >= s.ymin && r.ymin <= s.ymax
    // dedup + level filter as compact codegen kernel calls (round 6): the
    // inline clampIdx/CASE chains (12 least/greatest/FLOOR chains) pushed
    // this join's generated doConsume method to ~8.5 KB bytecode — past the
    // JVM's 8000-byte JIT ceiling (DontCompileHugeMethods), which silently
    // de-optimized the hottest stage of every merged-exchange join to
    // INTERPRETED bytecode (2.5× on q_find_relation_april at sf0.1).
    // MergedKernelParitySpec pins bit-equality with the Column chains.
    val dedup = GeoExprs.mergedRefDedup(tile, r.xmin, r.ymin, s.xmin, s.ymin,
      grid, LvlOffset)
    def coverCnt(c: RectCols): Column =
      GeoExprs.fineCoverCount(c.xmin, c.ymin, c.xmax, c.ymax, grid)
    val lvlOk = !isCoarse || coverCnt(r) > maxFineCover ||
      coverCnt(s) > maxFineCover
    mbrOverlap && dedup && lvlOk
  }

  /** The merged join over level-encoded tiles, filtered by mergedPairCond —
    * or by `pairCond` instead: containment candidates need neither dedup
    * nor level filter and apply their own containment predicate. */
  private def mergedJoin(rt0: DataFrame, st0: DataFrame, grid: GridConfig,
      broadcastS: Boolean, saltFactor: Int, maxFineCover: Int,
      saltIdCol: String = "rid",
      pairCond: Option[Column] = None): DataFrame = {
    // the side carrying `saltIdCol` is the probe (stable pmod salt from its
    // id); the other side replicates saltFactor ways — for containment
    // predicates the probe can be either physical side
    val salted = saltFactor > 1 && !broadcastS
    def pmodSalt(df: DataFrame) =
      df.withColumn("salt", pmod(hash(col(saltIdCol)), lit(saltFactor)))
    def explodeSalt(df: DataFrame) =
      df.withColumn("salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    val rtHasId = rt0.columns.contains(saltIdCol)
    val rt = if (!salted) rt0 else if (rtHasId) pmodSalt(rt0) else explodeSalt(rt0)
    val st1 = if (!salted) st0 else if (rtHasId) explodeSalt(st0) else pmodSalt(st0)
    val st = if (broadcastS) broadcast(st1) else st1
    val keys = if (salted) Seq("tile", "salt") else Seq("tile")
    // no static join-strategy hint: merge/shuffle_hash/broadcast hints on
    // this join were all measured equal-or-worse than Catalyst+AQE's own
    // choice at sf0.1 (OPTIMIZATION_r06.md "measured but rejected")
    val cond = pairCond.getOrElse(
      mergedPairCond(col("tile"), RectCols.prefixed("r"), RectCols.prefixed("s"),
        grid, maxFineCover))
    rt.join(st, keys).where(cond).drop("tile", "salt")
  }

  /**
   * Candidate pairs for CONTAINMENT predicates (INSIDE/COVERED_BY: r ⊆ s;
   * CONTAINS/COVERS: s ⊆ r). A contained object's MBR min corner lies inside
   * the container's MBR, so joining the INNER side's single home cell against
   * the OUTER side's cell cover finds every containment pair exactly once:
   * the inner side (at 10¹² rows, usually the probe) ships ONE row per
   * object through the shuffle — explode factor 1.0 — and no reference-point
   * dedup is needed. One level-tagged exchange like mrCandidates: a pair
   * joins at the outer object's level (narrow: fine grid; wide: coarse
   * grid). Pairs failing closed MBR containment drop before the exact
   * predicate.
   */
  private def containmentCandidates(rIx: DataFrame, sIx: DataFrame,
      grid: GridConfig, broadcastS: Boolean, saltFactor: Int,
      maxFineCover: Int, outerHasWide: Boolean, outerHasNarrow: Boolean,
      payload: String => Seq[Column], innerIsR: Boolean): DataFrame = {
    val slim = !broadcastS

    val (inner0, innerP, innerId) = if (innerIsR) (rIx, "r", "rid") else (sIx, "s", "sid")
    // the emission's NaN guard on the home-cell side: a row with a NaN MBR
    // field joins nothing (Spark orders NaN above every number, so it would
    // otherwise pass innerInOuter)
    val inner = inner0.where(!nanMbr(rowRect))
    val (outer, outerP, outerId) = if (innerIsR) (sIx, "s", "sid") else (rIx, "r", "rid")

    val innerInOuter =
      col(innerP + "xmin") >= col(outerP + "xmin") &&
      col(innerP + "xmax") <= col(outerP + "xmax") &&
      col(innerP + "ymin") >= col(outerP + "ymin") &&
      col(innerP + "ymax") <= col(outerP + "ymax")

    // merged level-encoded exchange (round 6, guide §2.4 — same key scheme
    // as mrCandidates): the inner side emits its home cell at each level
    // the outer population needs (≤ 2 rows per object); the outer side
    // emits narrow rows' fine cover and wide rows' coarse cover. The key's
    // level tag guarantees a containment pair joins exactly once, at the
    // outer object's own level — no post-join level filter and no
    // reference-point dedup needed.
    def homeCell(fine: Boolean): Column = {
      val (extX, extY, ppd, off) =
        if (fine) (grid.fineExtX, grid.fineExtY, grid.globalPpd, 0L)
        else (grid.coarseExtX, grid.coarseExtY, grid.coarsePpd, LvlOffset)
      clampIdx(col("xmin"), extX, grid.xMin, ppd) +
        clampIdx(col("ymin"), extY, grid.yMin, ppd) * lit(ppd.toLong) + lit(off)
    }
    // the single-level case (one outer population) keeps the inner side
    // explode-free: one row per object, plain column tile — the plan's only
    // Generate is the outer cover (MultiResSpec pins this)
    val innerTiled = (outerHasNarrow, outerHasWide) match {
      case (true, false) => inner.withColumn("tile", homeCell(fine = true))
      case (false, true) => inner.withColumn("tile", homeCell(fine = false))
      case (true, true) => inner.withColumn("tile",
        explode(array(homeCell(fine = true), homeCell(fine = false))))
      case _ => inner.withColumn("tile", homeCell(fine = true)) // degenerate
    }
    val it = sideCols(innerTiled, innerP, innerId, slim, payload)
    val ot = mrEmission(outer, outerP, outerId, emitF = outerHasNarrow,
      emitCNarrow = false, emitCWide = outerHasWide, grid, maxFineCover, slim,
      payload)
    val (rt, st) = if (innerIsR) (it, ot) else (ot, it)
    mergedJoin(rt, st, grid, broadcastS, saltFactor, maxFineCover,
      saltIdCol = innerId,
      pairCond = Some(innerInOuter))
  }

  /** Widen a narrow batch input to the session's parallelism. The engine's
    * heavy per-row kernels (rasterize, polygon synthesis, cover explode)
    * run as PROJECTIONS, which inherit the scan's partitioning — a compact
    * parquet input (one file = one partition) would serialize them all on
    * one core regardless of cluster size (measured: single-task rasterize
    * over 200k polygons at sf1). Spark cannot know a projection is
    * expensive; the engine can. No-op on wide (real-scale) or streaming
    * inputs; on narrow ones the row shuffle it costs is trivial next to
    * the kernels it parallelizes. Stored (pre-indexed) inputs widen too:
    * a path-snapshot index's compact files combine into few scan splits,
    * and skipping widen there serialized the candidate + kernel chain on
    * ~one task (measured 1.87 s vs 0.71 s on q_find_relation_april at
    * sf0.1). */
  private[graft] def widen(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // builds the RDD lineage eagerly to read the partition count — plan
    // compilation only, never launches a job
    val parts = df.rdd.getNumPartitions
    if (parts >= target) df
    else {
      // guard (round 6, VERDICT r5 #6): an input already within 2× of the
      // target parallelism pays a full row shuffle for a marginal win —
      // repartition only when clearly narrow, or when the partitions are
      // data-heavy enough (Catalyst size estimate, no job) that per-core
      // kernel time dominates the shuffle it costs
      val bytesPerPart =
        df.queryExecution.optimizedPlan.stats.sizeInBytes / math.max(parts, 1)
      if (parts < math.max(target / 2, 1) || bytesPerPart > BigInt(64L << 20))
        df.repartition(target)
      else df
    }
  }

  /**
   * APRIL index build: adds `april_all` / `april_full` interval-list columns,
   * rasterizing each object exactly once (the reference's buildAPRIL,
   * src/containers.cpp:300-334, as lazy columns instead of sidecar files).
   * Persist the result to make the index durable, exactly like the
   * reference's `persist=true` APRIL files.
   */
  def aprilIndex(df: DataFrame, grid: GridConfig, order: Int = AprilOrder): DataFrame = {
    val in = widen(df)
    // native codegen expression: raw ArrayData in, InternalRow of two long
    // arrays out — no per-element UDF boxing on either side
    in.withColumn("_april", GeoExprs.aprilRasterize(col("gtype"), col("coords"),
        grid.xMin, grid.yMin, grid.xExtent, grid.yExtent, order))
      .withColumn("april_all", col("_april.all"))
      .withColumn("april_full", col("_april.full"))
      .drop("_april")
  }

  /** Full tile assignment (fine tile + coarse tile + class + hex cell) for
    * point records — the Dataset[TileAssignment] surface of the north rule. */
  def tileAssignments(points: DataFrame, grid: GridConfig, hexRes: Int): Dataset[TileAssignment] = {
    val spark = points.sparkSession
    import spark.implicits._
    // pure column expressions (codegen, no UDF): points sit in exactly one tile
    val fi = floor((col("x") - lit(grid.xMin)) / lit(grid.fineExtX)).cast("long")
    val fj = floor((col("y") - lit(grid.yMin)) / lit(grid.fineExtY)).cast("long")
    val fic = least(greatest(fi, lit(0L)), lit(grid.globalPpd - 1L))
    val fjc = least(greatest(fj, lit(0L)), lit(grid.globalPpd - 1L))
    val fpc = grid.finePerCoarse.toDouble
    points.select(
      col("id"),
      (fic + fjc * grid.globalPpd).as("tile"),
      (floor(fic / lit(fpc)).cast("long") +
        floor(fjc / lit(fpc)).cast("long") * grid.coarsePpd).as("coarseTile"),
      lit(TwoLayerClass.A).as("clazz"),
      GeoExprs.hexCellOf(col("x"), col("y"), hexRes).as("hexCell")
    ).as[TileAssignment]
  }

  /** Column bundle for one side's gtype + MBR — what the tile emission, the
    * merged pair filter and the rectangular fast path read, shared between
    * the engine and the SQL spatial-join rewrite (plans.SpatialJoinRewrite). */
  private[graft] final case class RectCols(g: Column, xmin: Column,
      ymin: Column, xmax: Column, ymax: Column)

  private[graft] object RectCols {
    /** A side's columns under prefix `p`: p+"g", p+"xmin", … (sideCols). */
    def prefixed(p: String): RectCols = RectCols(col(p + "g"),
      col(p + "xmin"), col(p + "ymin"), col(p + "xmax"), col(p + "ymax"))
  }

  /** Both sides rectangular (POINT/BOX)? */
  private[graft] def rectangularCond(r: RectCols, s: RectCols): Column =
    (r.g === GeomType.POINT || r.g === GeomType.BOX) &&
    (s.g === GeomType.POINT || s.g === GeomType.BOX)

  /** Exact predicate over rectangular pairs that ALREADY passed the closed
    * MBR-overlap test — pure coordinate comparisons, stays in codegen. */
  private[graft] def rectExactExpr(pred: Int, r: RectCols, s: RectCols): Column = {
    val rPoint = r.g === GeomType.POINT
    val sPoint = s.g === GeomType.POINT
    val coordsEqual =
      r.xmin === s.xmin && r.ymin === s.ymin &&
      r.xmax === s.xmax && r.ymax === s.ymax
    val rInSClosed =
      r.xmin >= s.xmin && r.xmax <= s.xmax &&
      r.ymin >= s.ymin && r.ymax <= s.ymax
    val sInRClosed =
      s.xmin >= r.xmin && s.xmax <= r.xmax &&
      s.ymin >= r.ymin && s.ymax <= r.ymax
    val rPtStrictInS =
      r.xmin > s.xmin && r.xmin < s.xmax && r.ymin > s.ymin && r.ymin < s.ymax
    val sPtStrictInR =
      s.xmin > r.xmin && s.xmin < r.xmax && s.ymin > r.ymin && s.ymin < r.ymax
    val facingEdge =
      r.xmin === s.xmax || r.xmax === s.xmin ||
      r.ymin === s.ymax || r.ymax === s.ymin
    pred match {
      case Predicates.INTERSECTS => lit(true)
      case Predicates.DISJOINT => lit(false) // tile-local candidates overlap
      case Predicates.EQUAL => coordsEqual
      case Predicates.INSIDE =>
        when(rPoint && sPoint, coordsEqual)
          .when(rPoint, rPtStrictInS)
          .when(sPoint, lit(false))
          .otherwise(rInSClosed)
      case Predicates.COVERED_BY =>
        when(rPoint && sPoint, coordsEqual)
          .when(rPoint, rInSClosed)
          .when(sPoint, lit(false))
          .otherwise(rInSClosed)
      case Predicates.CONTAINS =>
        when(rPoint && sPoint, coordsEqual)
          .when(sPoint, sPtStrictInR)
          .when(rPoint, lit(false))
          .otherwise(sInRClosed)
      case Predicates.COVERS =>
        when(rPoint && sPoint, coordsEqual)
          .when(sPoint, sInRClosed)
          .when(rPoint, lit(false))
          .otherwise(sInRClosed)
      case Predicates.MEET =>
        when(rPoint && sPoint, lit(false)) // points have no boundary
          .otherwise(facingEdge) // boundary-only contact given closed overlap
      case _ => lit(false)
    }
  }

  // ------------------------------------------------------------------ joins

  /** Density-driven sweep selection (the reference always sweeps,
    * intersection_join_filter.cpp:363-489; here the codegen hash path wins
    * at ordinary density, so the sweep engages only when the dispatch
    * prepass proves a hot tile). Hot means a fine home tile holds more than
    * `hotTileThreshold` objects, or — when either side has wide rows, which
    * the fine histogram cannot see — a coarse cell does. The default
    * threshold is the measured crossover on this hardware (ScaleBench
    * hot-tile micro-bench: 8k-object tile ≈ break-even, 30k-object tile
    * sweep wins >2×; O(k²) vs O(k·window) diverges fast past it). */
  private def hotSweep(rm: SideMeta, sm: SideMeta,
      hotTileThreshold: Long): Boolean =
    math.max(rm.maxHomeTileCnt, sm.maxHomeTileCnt) > hotTileThreshold ||
      (rm.hasWide || sm.hasWide) &&
        math.max(rm.maxCoarseCellCnt, sm.maxCoarseCellCnt) > hotTileThreshold

  /**
   * Predicate spatial join: returns (rid, sid) pairs satisfying `pred`.
   *
   * Plan: tile-explode both sides → equi-join on tile (Catalyst picks
   * SHJ/SMJ; pass `broadcastS = true` to force a broadcast of S's exploded
   * form) → inclusive MBR-overlap (codegen'd column predicate) →
   * reference-point dedup → optional APRIL verdict → exact refinement for
   * inconclusive pairs only.
   *
   * Disjoint-join caveat intentionally preserved: candidates still come from
   * common tiles only (SURVEY.md §2.4).
   */
  def spatialJoin(r: Dataset[GeoRow], s: Dataset[GeoRow], pred: Int,
                  grid: GridConfig, useApril: Boolean = false,
                  broadcastS: Boolean = false,
                  saltFactor: Int = 1,
                  aprilOrder: Int = AprilOrder,
                  maxFineCover: Int = MaxFineCover,
                  rMeta: Option[SideMeta] = None,
                  sMeta: Option[SideMeta] = None,
                  sweep: Option[Boolean] = None,
                  hotTileThreshold: Long = 8192L): DataFrame = {
    def ix(df: DataFrame): DataFrame =
      if (!useApril) df
      else if (df.columns.contains("april_all")) df // pre-indexed (buildIndex)
      else aprilIndex(df, grid, aprilOrder)
    // EQUAL fast plan: point-set-equal geometries have bit-identical MBRs
    // (same coordinate multiset → same min/max extremes), so the candidate
    // set IS the equi-join on the four MBR doubles — no tile explode, no
    // shuffle amplification, no reference-point dedup. Catalyst normalizes
    // -0.0/NaN join keys; AQE picks broadcast vs shuffle. Rectangular pairs
    // are decided by the join itself (a POINT and a non-degenerate BOX can
    // never share an MBR); non-rectangular pairs reach exact refinement.
    if (pred == Predicates.EQUAL) {
      val rm0 = rMeta.getOrElse(sideStats(r.toDF(), grid, maxFineCover,
        withDensity = false))
      val sm0 = sMeta.getOrElse(sideStats(s.toDF(), grid, maxFineCover,
        withDensity = false))
      val anyNonRect0 = rm0.hasNonRect || sm0.hasNonRect
      def side0(df: DataFrame, p: String, idName: String) = {
        val base = Seq(col("id").as(idName), col("gtype").as(p + "g"),
          col("xmin").as(p + "k1"), col("ymin").as(p + "k2"),
          col("xmax").as(p + "k3"), col("ymax").as(p + "k4"))
        df.select((if (anyNonRect0) base :+ col("coords").as(p + "c")
                   else base): _*)
      }
      val joined = side0(r.toDF(), "r", "rid").join(side0(s.toDF(), "s", "sid"),
        col("rk1") === col("sk1") && col("rk2") === col("sk2") &&
        col("rk3") === col("sk3") && col("rk4") === col("sk4"))
      val rect0 =
        (col("rg") === GeomType.POINT || col("rg") === GeomType.BOX) &&
        (col("sg") === GeomType.POINT || col("sg") === GeomType.BOX)
      val out =
        if (!anyNonRect0) joined
        else joined.where(rect0 ||
          GeoExprs.stRefine(pred, col("rg"), col("rc"), col("sg"), col("sc")))
      return out.select(col("rid"), col("sid"))
    }
    // widen-before-explode: the cover explode + MBR/tile math run as
    // projections on the scan partitioning (see widen's scaladoc)
    val rIx = ix(widen(r.toDF()))
    val sIx = if (broadcastS) ix(s.toDF()) else ix(widen(s.toDF()))
    // In broadcast mode the build side ships whole (one pass, no shuffle), so
    // payload columns ride along. In shuffle mode only (tile, id, gtype, mbr)
    // go through the exchange; geometry/APRIL columns re-join by id afterwards
    // (carrying arrays through a many-tiles explode multiplies shuffle bytes).
    val slim = !broadcastS
    def payloadCols(p: String): Seq[Column] = {
      val geom = Seq(col("coords").as(p + "c"))
      val april =
        if (useApril) Seq(col("april_all").as(p + "_april_all"),
          col("april_full").as(p + "_april_full"))
        else Nil
      geom ++ april
    }
    def geomTable(df: DataFrame, p: String, idName: String): DataFrame =
      df.select((col("id").as(idName) +: payloadCols(p)): _*)

    // the density histogram only matters when the sweep decision is open
    // AND the join shuffles AND the predicate takes the tile-exchange plan —
    // broadcast joins, explicit sweep flags, and containment predicates
    // (home-cell candidates, no sweep path) get the cheap flat prepass
    val containmentPred = pred == Predicates.INSIDE ||
      pred == Predicates.COVERED_BY || pred == Predicates.CONTAINS ||
      pred == Predicates.COVERS
    val needDensity = slim && sweep.isEmpty && !containmentPred
    val rm = rMeta.getOrElse(sideStats(rIx, grid, maxFineCover, needDensity))
    val sm = sMeta.getOrElse(sideStats(sIx, grid, maxFineCover, needDensity))
    val anyNonRect = rm.hasNonRect || sm.hasNonRect
    // explicit Some(flag) overrides the density rule; the sweep needs the
    // slim (shuffle) exchange
    val sweepOn = slim && sweep.getOrElse(hotSweep(rm, sm, hotTileThreshold))

    // containment predicates take the home-cell candidate plan (probe side
    // ships one row per object; no dedup); everything else multi-res tiles
    val contRinS = pred == Predicates.INSIDE || pred == Predicates.COVERED_BY
    val contSinR = pred == Predicates.CONTAINS || pred == Predicates.COVERS
    val cands =
      if (contRinS || contSinR)
        containmentCandidates(rIx, sIx, grid, broadcastS, saltFactor,
          maxFineCover,
          outerHasWide = if (contRinS) sm.hasWide else rm.hasWide,
          outerHasNarrow = if (contRinS) sm.hasNarrow else rm.hasNarrow,
          payload = if (slim) _ => Nil else payloadCols,
          innerIsR = contRinS)
      else mrCandidates(rIx, sIx, grid, broadcastS, saltFactor,
        maxFineCover, rm, sm,
        if (slim) _ => Nil else payloadCols, sweep = sweepOn)

    def refineExpr: Column =
      GeoExprs.stRefine(pred, col("rg"), col("rc"), col("sg"), col("sc"))
    // Rectangular fast path: for POINT/BOX pairs every predicate is a pure
    // coordinate comparison (DE-9IM on axis-aligned closed rectangles) — no
    // UDF, stays in whole-stage codegen. Exact arithmetic (no tolerance);
    // non-degenerate boxes assumed (zero-area rings are rejected at parse).
    val rRC = RectCols.prefixed("r")
    val sRC = RectCols.prefixed("s")
    val rectangular = rectangularCond(rRC, sRC)
    val rectExact = rectExactExpr(pred, rRC, sRC)
    // Plan by type presence (never execute the candidate join twice):
    //   - all-rectangular workload (POINT/BOX only, the dispatch prepass
    //     proves it): pure column plan — no geometry payload touched at all;
    //   - otherwise: ONE pass with geometry (+APRIL) attached to every
    //     candidate and a per-row CASE between the rectangular column fast
    //     path and the codegen kernel. Rect-only or poly-only inputs each
    //     take exactly one branch of the CASE; nothing runs twice.
    if (!anyNonRect) {
      cands.where(rectangular && rectExact).select(col("rid"), col("sid"))
    } else {
      // All-point sides never pay the payload re-join: a point's coords ARE
      // its MBR corner (already on the candidate row), and its APRIL A-list
      // is one Hilbert cell — synthesized inline, bit-identical to the
      // rasterized form. The whole side's rasterization then prunes out of
      // the plan. Points-vs-regions workloads keep exactly one payload join.
      def attach(c: DataFrame, p: String, idName: String, df: DataFrame,
                 allPoints: Boolean): DataFrame =
        if (!slim) c
        else if (allPoints) {
          val c1 = c.withColumn(p + "c",
            array(col(p + "xmin"), col(p + "ymin")))
          if (!useApril) c1
          else {
            val cell = GeoExprs.hilbertCell(col(p + "xmin"), col(p + "ymin"),
              grid.xMin, grid.yMin, grid.xExtent, grid.yExtent, aprilOrder)
            c1.withColumn(p + "_april_all", array(cell, cell + lit(1L)))
              .withColumn(p + "_april_full", typedlit(Array.empty[Long]))
          }
        } else c.join(geomTable(df, p, idName), Seq(idName))
      val rAllPoints = rm.hasRect && !rm.hasBox && !rm.hasNonRect
      val sAllPoints = sm.hasRect && !sm.hasBox && !sm.hasNonRect
      val all = attach(attach(cands, "r", "rid", rIx, rAllPoints),
        "s", "sid", sIx, sAllPoints)
      val exactPred = when(rectangular, rectExact).otherwise(refineExpr)
      val refined = if (useApril) {
        all
          .withColumn("verdict",
            when(rectangular,
              when(rectExact, April.TRUE_HIT).otherwise(April.TRUE_NEGATIVE))
              .otherwise(GeoExprs.aprilVerdict(pred,
                col("r_april_all"), col("r_april_full"),
                col("s_april_all"), col("s_april_full"))))
          .where(col("verdict") === April.TRUE_HIT ||
            (col("verdict") === April.INCONCLUSIVE && exactPred))
      } else {
        all.where(exactPred)
      }
      refined.select(col("rid"), col("sid"))
    }
  }

  /** APRIL Hilbert order N (config_cluster.ini [APRIL] N=16). Per-pair
    * rasterization at query time like the reference's range path; dataset
    * joins should pre-rasterize at index-build — see aprilIndexed overloads
    * in later rounds. */
  val AprilOrder = 16

  /** Find-relation join: (rid, sid, relation) with the reference's TR codes.
    * With `useApril`, the APRIL topology intermediate filter resolves
    * DISJOINT / CONTAINS / INSIDE / true-hit-INTERSECT pairs from interval
    * algebra alone (the reference's MBR-case-specialized filter,
    * src/APRIL/filter.cpp:189-223); only unresolved pairs reach the exact
    * DE-9IM refinement. On an all-rectangular (POINT/BOX) workload the
    * request is ignored: the column fast path is exact, so the APRIL
    * sub-plan would be pure overhead (SideMeta proves it, plan prunes it). */
  def findRelationJoin(r: Dataset[GeoRow], s: Dataset[GeoRow],
                       grid: GridConfig, useApril: Boolean = false,
                       aprilOrder: Int = AprilOrder,
                       saltFactor: Int = 1,
                       maxFineCover: Int = MaxFineCover,
                       rMeta: Option[SideMeta] = None,
                       sMeta: Option[SideMeta] = None,
                       sweep: Option[Boolean] = None,
                       hotTileThreshold: Long = 8192L): DataFrame = {
    // APRIL interval lists are NOT shipped through the tile explode/shuffle
    // (they dwarf the ring coords); candidates re-join them by id from
    // compact per-object side tables after candidate generation.
    val rRaw = widen(r.toDF())
    val sRaw = widen(s.toDF())
    // find-relation always shuffles (never broadcast), so the density
    // histogram is consulted exactly like spatialJoin's slim path — a hot
    // tile pays the same O(k²) hash filter here
    val needDensity = sweep.isEmpty
    val rm = rMeta.getOrElse(sideStats(rRaw, grid, maxFineCover, needDensity))
    val sm = sMeta.getOrElse(sideStats(sRaw, grid, maxFineCover, needDensity))
    val anyNonBox = rm.hasNonBox || sm.hasNonBox
    val rAllPoints = rm.hasRect && !rm.hasBox && !rm.hasNonRect
    val sAllPoints = sm.hasRect && !sm.hasBox && !sm.hasNonRect
    // All-box workloads: the pure-column boxRel IS exact, so the whole APRIL
    // sub-plan (rasterize + two interval re-joins) is provably dead weight —
    // prune it from the plan. All-point sides never rasterize either: their
    // single-cell A-list is synthesized inline on the candidate row.
    val useAprilEff = useApril && anyNonBox
    def ix(df: DataFrame, allPoints: Boolean): DataFrame =
      if (!useAprilEff || allPoints) df
      else if (df.columns.contains("april_all")) df // pre-indexed (buildIndex)
      else aprilIndex(df, grid, aprilOrder)
    val rIxDf = ix(rRaw, rAllPoints)
    val sIxDf = ix(sRaw, sAllPoints)
    val cands = mrCandidates(rIxDf, sIxDf, grid, broadcastS = false,
      saltFactor, maxFineCover, rm, sm, _ => Nil,
      sweep = sweep.getOrElse(hotSweep(rm, sm, hotTileThreshold)))
    // geometry attach: an all-point side's coords ARE its MBR corner, already
    // on the candidate row — no re-join
    def attachGeom(c: DataFrame, df: DataFrame, p: String, idName: String,
                   allPoints: Boolean): DataFrame =
      if (allPoints) c.withColumn(p + "c", array(col(p + "xmin"), col(p + "ymin")))
      else c.join(df.select(col("id").as(idName), col("coords").as(p + "c")), Seq(idName))
    def relExpr: Column =
      GeoExprs.stFindRelation(col("rg"), col("rc"), col("sg"), col("sc"))

    // Box×box fast path: the reference's MBR-case routing + per-case refine
    // priority (Topology.findRelation) collapses to pure column arithmetic
    // when geometry == MBR — no coords join, no UDF, stays in codegen.
    val eps = 1e-8
    val dxmin = col("rxmin") - col("sxmin"); val dymin = col("rymin") - col("symin")
    val dxmax = col("rxmax") - col("sxmax"); val dymax = col("rymax") - col("symax")
    val coordsEqual =
      col("rxmin") === col("sxmin") && col("rymin") === col("symin") &&
      col("rxmax") === col("sxmax") && col("rymax") === col("symax")
    val mbrEqualEps =
      abs(dxmin) < eps && abs(dxmax) < eps && abs(dymin) < eps && abs(dymax) < eps
    val sInR =
      col("sxmin") >= col("rxmin") && col("sxmax") <= col("rxmax") &&
      col("symin") >= col("rymin") && col("symax") <= col("rymax")
    val rInS =
      col("rxmin") >= col("sxmin") && col("rxmax") <= col("sxmax") &&
      col("rymin") >= col("symin") && col("rymax") <= col("symax")
    val facingEdge =
      col("rxmin") === col("sxmax") || col("rxmax") === col("sxmin") ||
      col("rymin") === col("symax") || col("rymax") === col("symin")
    val boxRel =
      when(coordsEqual, Topology.TR_EQUAL)
        // MBR_EQUAL routing checks covers/covered_by without a meet branch
        .when(mbrEqualEps, when(sInR, Topology.TR_CONTAINS)
          .when(rInS, Topology.TR_INSIDE)
          .otherwise(Topology.TR_INTERSECT))
        // containment routings: for non-degenerate boxes covers ⇒ contains
        .when(dxmin <= 0 && dxmax >= 0 && dymin <= 0 && dymax >= 0, Topology.TR_CONTAINS)
        .when(dxmin >= 0 && dxmax <= 0 && dymin >= 0 && dymax <= 0, Topology.TR_INSIDE)
        // MBR_INTERSECT routing: boundary-only contact ⇔ a facing edge
        .when(facingEdge, Topology.TR_MEET)
        .otherwise(Topology.TR_INTERSECT)
    val bothBox = col("rg") === GeomType.BOX && col("sg") === GeomType.BOX

    if (!useAprilEff) {
      if (!anyNonBox)
        cands.select(col("rid"), col("sid"), boxRel.as("relation"))
      else
        attachGeom(attachGeom(cands, rIxDf, "r", "rid", rAllPoints),
            sIxDf, "s", "sid", sAllPoints)
          .select(col("rid"), col("sid"),
            when(bothBox, boxRel).otherwise(relExpr).as("relation"))
    } else {
      // APRIL topology filter: -1 = unresolved (refine). Sound resolutions:
      //   no ALL overlap            → DISJOINT (candidates can't touch)
      //   ALL_S ⊆ FULL_R            → S strictly inside R's interior → CONTAINS
      //   ALL_R ⊆ FULL_S            → INSIDE
      //   interiors provably meet in the MBR_INTERSECT routing case → INTERSECT
      // MBR routing case as a pure column (0=EQUAL, 1=S_IN_R, 2=R_IN_S,
      // 3=INTERSECT) — mirrors relateMBRs' live branches
      val mbrCase =
        when(abs(dxmin) < eps && abs(dxmax) < eps && abs(dymin) < eps && abs(dymax) < eps, 0)
          .when(dxmin <= 0 && dxmax >= 0 && dymin <= 0 && dymax >= 0, 1)
          .when(dxmin >= 0 && dxmax <= 0 && dymin >= 0 && dymax <= 0, 2)
          .otherwise(3)
      // mc==0 (EPS-equal MBRs) never yields DISJOINT in the reference's
      // routing (refineEqual... has no disjoint check) — defer to refine;
      // MBR_INTERSECT routing can only yield DISJOINT/MEET/INTERSECT, so
      // provably-meeting interiors resolve to INTERSECT.
      // (kernel: graft.functions.GeoKernels.aprilTopoRel, codegen Expression)
      // No broadcast hints: APRIL interval arrays scale with geometry size,
      // so forcing either side driver-resident dies at scale (8 GB broadcast
      // cap). These are shuffled equi-joins on id; AQE converts a genuinely
      // small side to a broadcast at runtime. An all-point side skips the
      // re-join: its A-list is one Hilbert cell, synthesized inline and
      // bit-identical to the rasterized form (GeoKernels.pointCell).
      // ONE payload re-join per side (round 6): the APRIL interval arrays
      // and the ring coords are attached in the SAME id join — the former
      // two-step attach (april first, geometry later) planned two
      // broadcasts/exchanges of the same index table per side with no
      // intermediate filter between them to justify the split.
      def attachAll(c: DataFrame, df: DataFrame, p: String, idName: String,
                    allPoints: Boolean): DataFrame =
        if (allPoints) {
          val cell = GeoExprs.hilbertCell(col(p + "xmin"), col(p + "ymin"),
            grid.xMin, grid.yMin, grid.xExtent, grid.yExtent, aprilOrder)
          c.withColumn(p + "a", array(cell, cell + lit(1L)))
            .withColumn(p + "f", typedlit(Array.empty[Long]))
            .withColumn(p + "c", array(col(p + "xmin"), col(p + "ymin")))
        } else c.join(df.select(col("id").as(idName),
          col("april_all").as(p + "a"), col("april_full").as(p + "f"),
          col("coords").as(p + "c")), Seq(idName))
      attachAll(attachAll(cands, rIxDf, "r", "rid", rAllPoints),
          sIxDf, "s", "sid", sAllPoints)
        .withColumn("april_rel",
          GeoExprs.aprilTopoRel(col("ra"), col("rf"), col("sa"), col("sf"), mbrCase))
        // unresolved box pairs fall back to the column fast path; only
        // unresolved non-box pairs pay the geometry kernel
        // (useAprilEff implies anyNonBox — the all-box case was pruned above).
        .select(col("rid"), col("sid"),
          when(col("april_rel") >= 0, col("april_rel"))
            .otherwise(when(bothBox, boxRel).otherwise(relExpr))
            .as("relation"))
    }
  }

  /**
   * Size-based join-strategy chooser (the BaseIndex::evaluateQuery dispatch
   * analogue, containers.h:1999-2048): broadcast S when Catalyst's size
   * estimate of its pre-explode footprint fits comfortably on every
   * executor; otherwise shuffle (multi-resolution tile exchange + AQE).
   */
  def chooseBroadcast(s: Dataset[_], thresholdBytes: Long = 16L << 20): Boolean =
    s.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thresholdBytes)

  /** spatialJoin with the broadcast/shuffle decision taken from size
    * estimates instead of a caller flag. APRIL joins never broadcast: in
    * broadcast mode the payload (coords + interval arrays) rides through
    * the tile explode, multiplying broadcast bytes per covered tile —
    * measured slower than the slim exchange + re-join-by-id even for a
    * 20k-row S at sf0.1; AQE still converts the small id-keyed re-joins. */
  def spatialJoinAuto(r: Dataset[GeoRow], s: Dataset[GeoRow], pred: Int,
                      grid: GridConfig, useApril: Boolean = false,
                      saltFactor: Int = 1,
                      aprilOrder: Int = AprilOrder,
                      maxFineCover: Int = MaxFineCover,
                      rMeta: Option[SideMeta] = None,
                      sMeta: Option[SideMeta] = None): DataFrame =
    spatialJoin(r, s, pred, grid, useApril,
      broadcastS = !useApril && chooseBroadcast(s), saltFactor, aprilOrder,
      maxFineCover, rMeta = rMeta, sMeta = sMeta)

  // ---------------------------------------------------------- range queries

  /** Batch range query: (queryId, id) for every data object intersecting the
    * query window. Query windows are broadcast (SURVEY §2.8); tile pruning
    * comes from the equi-join on the windows' exploded tile cover.
    *
    * `useApril`: the reference's on-the-fly window APRIL
    * (src/APRIL/filter.cpp:236-246) — each (polygon) window is rasterized
    * ONCE on the driver and broadcast with its tile rows; the interval
    * verdict then short-circuits most candidates before exact refinement.
    * Intended for APRIL-pre-indexed data (`april_all` columns present);
    * un-indexed data is rasterized lazily. */
  def rangeBatch(data: Dataset[GeoRow], queries: Seq[(Long, Geom)],
                 grid: GridConfig, useApril: Boolean = false,
                 aprilOrder: Int = AprilOrder,
                 maxFineCover: Int = MaxFineCover,
                 dataMeta: Option[SideMeta] = None): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    // no widen here: the range path's per-row work is plain cover
    // arithmetic (cheap even on one core — measured +0.4 s pure
    // repartition cost at sf0.1 with no offsetting win); its expensive
    // kernel, rasterization, goes through aprilIndex, which widens itself
    val dIx =
      if (!useApril) data.toDF()
      else if (data.toDF().columns.contains("april_all")) data.toDF()
      else aprilIndex(data.toDF(), grid, aprilOrder)
    // Multi-resolution covers on BOTH sides: a window (or data object)
    // whose fine cover exceeds maxFineCover cells joins at the COARSE grid
    // instead — a continent-sized window ships O(coarse cells) broadcast
    // rows (not up to globalPpd² driver-built fine tiles), and a wide data
    // polygon ships O(coarse cells) shuffle copies. Level pairing mirrors
    // mrCandidates: (narrow, narrow) joins fine; any pair with a wide
    // member joins coarse — one level-tagged join, each pair deduped by the
    // reference point at its own level.
    // each window rasterizes ONCE even when it ships at both levels (a wide
    // data side re-broadcasts ALL windows at the coarse level)
    val qApprox: Map[Long, (Array[Long], Array[Long])] =
      if (!useApril) Map.empty
      else queries.map { case (qid, g) =>
        val a = April.rasterize(g, grid.xMin, grid.yMin,
          grid.xExtent, grid.yExtent, aprilOrder)
        qid -> (a.all, a.full)
      }.toMap
    val (wideQ, narrowQ) = queries.partition { case (_, g) =>
      val m = g.mbr
      (grid.fineX(m.xmax).min(grid.globalPpd - 1).max(0) -
        grid.fineX(m.xmin).min(grid.globalPpd - 1).max(0) + 1).toLong *
      (grid.fineY(m.ymax).min(grid.globalPpd - 1).max(0) -
        grid.fineY(m.ymin).min(grid.globalPpd - 1).max(0) + 1).toLong > maxFineCover
    }
    val dm = dataMeta.getOrElse(sideStats(dIx, grid, maxFineCover,
      withDensity = false))
    // merged level-encoded broadcast join (round 6, guide §2.4 — the same
    // key scheme as mrCandidates): ONE scan + explode of the data and ONE
    // broadcast carry all three level pairings. Window rows are driver-built
    // at their level(s): narrow windows at fine (+ coarse when wide data
    // exists), wide windows at coarse; narrow data emits its fine cover
    // (iff narrow windows exist) and coarse cover (iff wide windows exist),
    // wide data its coarse cover. The level filter drops coarse-level
    // narrow×narrow pairs (already joined at fine); the reference-point
    // dedup runs at the pair's own level. Each window still rasterizes once.
    def qRows(sel: Seq[(Long, Geom)], fine: Boolean, isWide: Boolean) =
      sel.flatMap { case (qid, g) =>
        val m = g.mbr
        val (qall, qfull) = qApprox.getOrElse(qid,
          (Array.emptyLongArray, Array.emptyLongArray))
        val cells: Seq[Long] =
          if (fine) grid.fineTiles(m).toSeq
          else {
            val ci0 = math.min(math.max(grid.coarseX(m.xmin), 0), grid.coarsePpd - 1)
            val ci1 = math.min(math.max(grid.coarseX(m.xmax), 0), grid.coarsePpd - 1)
            val cj0 = math.min(math.max(grid.coarseY(m.ymin), 0), grid.coarsePpd - 1)
            val cj1 = math.min(math.max(grid.coarseY(m.ymax), 0), grid.coarsePpd - 1)
            (for { j <- cj0 to cj1; i <- ci0 to ci1 }
              yield grid.coarseId(i, j) + LvlOffset).toSeq
          }
        cells.map(t =>
          (qid, t, isWide, g.gtype, g.coords, m.xmin, m.ymin, m.xmax, m.ymax,
            qall, qfull))
      }
    val qdf = (
      qRows(narrowQ, fine = true, isWide = false) ++
      (if (dm.hasWide) qRows(narrowQ, fine = false, isWide = false) else Nil) ++
      qRows(wideQ, fine = false, isWide = true)
    ).toDF("qid", "tile", "qwide", "qg", "qc", "qxmin", "qymin",
      "qxmax", "qymax", "qall", "qfull")

    val mbrOverlap =
      col("xmax") >= col("qxmin") && col("xmin") <= col("qxmax") &&
      col("ymax") >= col("qymin") && col("ymin") <= col("qymax")
    if (queries.isEmpty || (!dm.hasNarrow && !dm.hasWide))
      return spark.emptyDataFrame
        .select(lit(0L).as("qid"), lit(0L).as("id")).limit(0)
    // coarse emission: narrow data pairs wide windows; wide data pairs all
    val dt = dIx.withColumn("tile", explode(lvlTiles(grid, maxFineCover,
      emitF = dm.hasNarrow && narrowQ.nonEmpty,
      emitCNarrow = dm.hasNarrow && wideQ.nonEmpty,
      emitCWide = dm.hasWide, rowRect)))
    val isCoarse = col("tile") >= lit(LvlOffset)
    // compact codegen kernels instead of inline clampIdx/CASE chains — same
    // JIT-bytecode-ceiling rationale as mergedJoin (see there)
    val dedup = GeoExprs.mergedRefDedup(col("tile"),
      col("xmin"), col("ymin"), col("qxmin"), col("qymin"), grid, LvlOffset)
    val lvlOk = !isCoarse || col("qwide") ||
      GeoExprs.fineCoverCount(col("xmin"), col("ymin"),
        col("xmax"), col("ymax"), grid) > maxFineCover
    val joined = dt.join(broadcast(qdf), Seq("tile"))
      .where(mbrOverlap && dedup && lvlOk)

    def intersectsExpr: Column = GeoExprs.stRefine(Predicates.INTERSECTS,
      col("qg"), col("qc"), col("gtype"), col("coords"))
    // rectangular fast path: for BOX windows over POINT/BOX data the MBR
    // overlap (already applied) IS the exact predicate — the reference's
    // interior-tile shortcut generalized to the whole rectangular case
    val rectangular =
      col("qg") === GeomType.BOX &&
      (col("gtype") === GeomType.POINT || col("gtype") === GeomType.BOX)
    val nonRectPredicate =
      if (useApril) {
        val verdict = GeoExprs.aprilVerdict(Predicates.INTERSECTS,
          col("april_all"), col("april_full"), col("qall"), col("qfull"))
        verdict === April.TRUE_HIT ||
          (verdict === April.INCONCLUSIVE && intersectsExpr)
      } else intersectsExpr
    joined
      .where(when(rectangular, lit(true)).otherwise(nonRectPredicate))
      .select(col("qid"), col("id"))
  }

  // ------------------------------------------------------------------- kNN

  /**
   * Batch kNN over point data: ascending (distance, id) per query, exactly
   * k rows each — reproducing the reference's heap-drain output order
   * (API/containers.cpp:961-972). One pass over the data for the whole
   * broadcast batch + windowed top-k; map-side partial top-k pruning is a
   * planned round-2 optimization (the reference likewise scans all tiles
   * with only a tile lower-bound prune, knn_filter.cpp:27-39).
   */
  def knnBatch(points: Dataset[GeoRow], queries: Seq[(Long, Geom)], k: Int,
               gridOpt: Option[GridConfig] = None): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    knnBatchDf(points,
      queries.map { case (qid, g) => (qid, g.coords(0), g.coords(1)) }
        .toDF("qid", "qx", "qy"), k, gridOpt)
  }

  /** Fully distributed batch kNN: queries stay a DataFrame end-to-end. The
    * only driver-side artifact is the per-tile histogram — bounded by
    * globalPpd² regardless of data size — broadcast to executors, where each
    * query's Chebyshev-ring expansion (the reference's checkDistance prune,
    * knn_filter.cpp:27-39) runs inside a map. Scales to 10⁴+ queries with no
    * per-query driver loop. */
  def knnBatchDf(points: Dataset[GeoRow], queries: DataFrame, k: Int,
                 gridOpt: Option[GridConfig] = None): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val grid = gridOpt.getOrElse(gridFor(dataspace(points)))

    // Phase 1 (one tiny job): per-tile point counts → broadcast map.
    // Home tile is the pure-column tile math (codegen) — identical to
    // grid.fineTileOfPoint (floor-then-clamp commutes with clamp-then-floor
    // on the clamped range).
    val homeTile = homeTileCol(grid)
    val tileCounts: Map[Long, Long] = points
      .select(homeTile.as("tile"))
      .groupBy("tile").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bcCounts = spark.sparkContext.broadcast(tileCounts)

    // Phase 2 (distributed): per query, expand rings from the home tile
    // until ≥k points are covered, derive a safe kth-distance upper bound
    // from the covered box, and emit every tile whose min distance to the
    // query is within the bound. KnnTiles is a codegen expression (the
    // engine's former last ScalaUDF): the broadcast histogram rides as a
    // plan reference object, the tile array lands as ArrayData with no
    // converter boxing.
    val qTiles = queries.select(col("qid"), col("qx"), col("qy"))
      .withColumn("tile", explode(graft.functions.GeoExprs.knnTiles(
        col("qx"), col("qy"), k, grid, bcCounts)))

    // Phase 3: tile equi-join (AQE broadcasts a small query side) → exact
    // distance → bounded heap per query; map-side partial top-k keeps the
    // shuffle at ≤ k·parts rows per query.
    val dist = sqrt(
      (col("xmin") - col("qx")) * (col("xmin") - col("qx")) +
      (col("ymin") - col("qy")) * (col("ymin") - col("qy")))
    val topk = new graft.functions.TopKAggregator(k).toColumn
    points.withColumn("tile", homeTile)
      .join(qTiles, Seq("tile"))
      .select(col("qid"), col("id"), dist.as("dist"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(topk.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "pair")))
      .select(col("qid"), col("pair._1").as("id"), col("pair._2").as("dist"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Tiles that can contain one of the k nearest neighbors of (qx, qy). */
  private[graft] def candidateKnnTiles(qx: Double, qy: Double, k: Int,
      grid: GridConfig, tileCounts: Map[Long, Long]): Seq[Long] = {
    val ppd = grid.globalPpd
    val hi = math.min(math.max(grid.fineX(qx), 0), ppd - 1)
    val hj = math.min(math.max(grid.fineY(qy), 0), ppd - 1)
    var cum = 0L
    var r = 0
    var found = -1
    while (found < 0 && r < ppd) {
      // cells on the Chebyshev ring of radius r
      var covered = 0L
      var i = math.max(hi - r, 0)
      while (i <= math.min(hi + r, ppd - 1)) {
        var j = math.max(hj - r, 0)
        while (j <= math.min(hj + r, ppd - 1)) {
          if (math.max(math.abs(i - hi), math.abs(j - hj)) == r) {
            covered += tileCounts.getOrElse(grid.tileId(i, j), 0L)
          }
          j += 1
        }
        i += 1
      }
      cum += covered
      if (cum >= k) found = r
      r += 1
    }
    if (found < 0) return tileCounts.keys.toSeq // fewer than k points overall
    // kth distance bound: the farthest corner of the covered (2·found+1) box
    val m = MBR(grid.xMin + (hi - found) * grid.fineExtX,
                grid.yMin + (hj - found) * grid.fineExtY,
                grid.xMin + (hi + found + 1) * grid.fineExtX,
                grid.yMin + (hj + found + 1) * grid.fineExtY)
    val bound = math.sqrt(Seq(
      (qx - m.xmin) * (qx - m.xmin) + (qy - m.ymin) * (qy - m.ymin),
      (qx - m.xmin) * (qx - m.xmin) + (qy - m.ymax) * (qy - m.ymax),
      (qx - m.xmax) * (qx - m.xmax) + (qy - m.ymin) * (qy - m.ymin),
      (qx - m.xmax) * (qx - m.xmax) + (qy - m.ymax) * (qy - m.ymax)).max)
    val rCap = math.max(
      math.ceil(bound / grid.fineExtX).toInt,
      math.ceil(bound / grid.fineExtY).toInt) + 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = math.max(hi - rCap, 0)
    while (i <= math.min(hi + rCap, ppd - 1)) {
      var j = math.max(hj - rCap, 0)
      while (j <= math.min(hj + rCap, ppd - 1)) {
        val t = grid.tileId(i, j)
        if (tileCounts.contains(t) && grid.distanceToTile(qx, qy, t) <= bound)
          out += t
        j += 1
      }
      i += 1
    }
    out.toSeq
  }

  // --------------------------------------------------------- distance join

  /** ε-distance join over point datasets: (rid, sid) with dist <= d.
    * R explodes to its ε-expanded cell cover; S stays at its home cell —
    * one shuffle replaces the reference's 3-phase MPI exchange
    * (src/UniformGrid/dj_filter.cpp).
    *
    * The join level adapts to ε: when the ε-box would cover more than
    * `maxFineCover` fine tiles (a 3° radius covers ~450 of them — a 450×
    * shuffle amplification), both sides move to the coarse grid, capping
    * the explode at O(coarse cells) for a few extra cheap distance checks.
    * Pure column expressions throughout (no UDF in the cover or the test). */
  def distanceJoin(r: Dataset[GeoRow], s: Dataset[GeoRow], d: Double,
                   grid: GridConfig, maxFineCover: Int = MaxFineCover): DataFrame = {
    val fineBoxCover =
      (math.floor(2 * d / grid.fineExtX).toLong + 2) *
      (math.floor(2 * d / grid.fineExtY).toLong + 2)
    val (extX, extY, ppd) =
      if (fineBoxCover > maxFineCover)
        (grid.coarseExtX, grid.coarseExtY, grid.coarsePpd)
      else (grid.fineExtX, grid.fineExtY, grid.globalPpd)
    val iMin = clampIdx(col("xmin") - d, extX, grid.xMin, ppd)
    val iMax = clampIdx(col("xmin") + d, extX, grid.xMin, ppd)
    val jMin = clampIdx(col("ymin") - d, extY, grid.yMin, ppd)
    val jMax = clampIdx(col("ymin") + d, extY, grid.yMin, ppd)
    val pl = lit(ppd.toLong)
    val cover = flatten(transform(sequence(jMin, jMax),
      j => transform(sequence(iMin, iMax), i => i + j * pl)))
    // widen-before-explode: the ε-box cover explode runs on the scan
    // partitioning (see widen's scaladoc)
    val rt = widen(r.toDF()).withColumn("tile", explode(cover))
      .select(col("tile"), col("id").as("rid"),
        col("xmin").as("rx"), col("ymin").as("ry"))
    val st = s.toDF().select(
      (clampIdx(col("xmin"), extX, grid.xMin, ppd) +
        clampIdx(col("ymin"), extY, grid.yMin, ppd) * pl).as("tile"),
      col("id").as("sid"), col("xmin").as("sx"), col("ymin").as("sy"))
    val dist = sqrt(
      (col("rx") - col("sx")) * (col("rx") - col("sx")) +
      (col("ry") - col("sy")) * (col("ry") - col("sy")))
    rt.join(st, Seq("tile")).where(dist <= d).select(col("rid"), col("sid"))
  }
}
