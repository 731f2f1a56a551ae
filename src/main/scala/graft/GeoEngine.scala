package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
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

  /** Tile explode for any DataFrame carrying (gtype, xmin, ymin, xmax, ymax):
    * adds `tile`, one row per fine cell of the MBR cover (and keeps every
    * original column); a row with a NaN or null MBR field gets none. One
    * codegen `GeoKernels.lvlTiles` call — no UDF, the cover generation stays
    * inside whole-stage codegen. */
  def withTiles2(df: DataFrame, grid: GridConfig): DataFrame =
    df.withColumn("tile", explode(lvlTiles(grid, Int.MaxValue, emitF = true,
      emitCNarrow = false, emitCWide = false, rowRect)))

  private def clampIdx(c: Column, ext: Double, lo: Double, ppd: Int): Column =
    least(greatest(floor((c - lit(lo)) / lit(ext)).cast("long"), lit(0L)),
      lit(ppd - 1L))

  /** The point (x, y)'s clamped (fine tile, coarse tile) ids — the tile
    * columns of tileAssignments and the streaming surface
    * (StreamOps.withTileColumns). Pure column expressions (codegen, no UDF):
    * a point sits in exactly one tile per level. */
  private[graft] def pointTiles(grid: GridConfig, x: Column, y: Column): (Column, Column) = {
    val fi = clampIdx(x, grid.fineExtX, grid.xMin, grid.globalPpd)
    val fj = clampIdx(y, grid.fineExtY, grid.yMin, grid.globalPpd)
    val fpc = grid.finePerCoarse.toDouble
    (fi + fj * grid.globalPpd,
      floor(fi / lit(fpc)).cast("long") + floor(fj / lit(fpc)).cast("long") * grid.coarsePpd)
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

  /** A side's SideMeta in one job over its rows, with no shuffle: each
    * partition folds its rows' `sideStatCols` into a SideTally and the
    * driver merges them. The tally gives the density statistics with the
    * flags, so every caller gets both. Compute it once per dataset and pass
    * it to spatialJoin/findRelationJoin for repeated queries over the same
    * data; a stored index counts it in the pass that writes it
    * (SpatialIndex.build), so a query over the loaded index runs none. */
  def sideMeta(ds: Dataset[_], grid: GridConfig,
               maxFineCover: Int = MaxFineCover): SideMeta =
    SideTally.meta(tallies(ds, grid, maxFineCover), grid)

  /** A side's per-partition SideTallies, in one job with no shuffle. */
  private def tallies(ds: Dataset[_], grid: GridConfig,
      maxFineCover: Int): Seq[SideTally] = {
    val rows = ds.toDF().select(sideStatCols(grid, maxFineCover): _*)
      .queryExecution.toRdd
    rows.mapPartitions { it =>
      val t = new SideTally
      it.foreach(t.add(_, 0))
      Iterator.single(t)
    }.collect().toSeq
  }

  /** The per-row statistics a SideTally folds, over (gtype, xmin, ymin,
    * xmax, ymax): the row's home fine cell (its MBR's min corner, clamped
    * like every cell formula), then one flag per SideMeta boolean in field
    * order — wide (more than `maxFineCover` fine cells), narrow, non-rect,
    * non-box, rect, box. A null flag sets nothing. */
  private[graft] def sideStatCols(grid: GridConfig, maxFineCover: Int): Seq[Column] = {
    val g = col("gtype")
    val wide = GeoExprs.fineCoverCount(col("xmin"), col("ymin"), col("xmax"),
      col("ymax"), grid) > maxFineCover
    Seq(cellCol(grid, fine = true, col("xmin"), col("ymin")), wide, !wide,
      g === GeomType.LINESTRING || g === GeomType.POLYGON, g =!= GeomType.BOX,
      g === GeomType.POINT || g === GeomType.BOX, g === GeomType.BOX)
  }

  /** One partition's fold of `sideStatCols`: the rows per home cell and
    * the flags any row set. The home cell is never null (the clamp's
    * `greatest` skips a null field, homing it on cell 0). */
  private[graft] final class SideTally extends Serializable {
    private val cells = new scala.collection.mutable.LongMap[Long]
    private var flags = 0

    /** Fold one row whose fields `at` … `at + 6` hold sideStatCols. */
    def add(row: InternalRow, at: Int): Unit = {
      val c = row.getLong(at)
      cells.update(c, cells.getOrElse(c, 0L) + 1L)
      var i = 0
      while (i < 6) {
        if (!row.isNullAt(at + 1 + i) && row.getBoolean(at + 1 + i)) flags |= 1 << i
        i += 1
      }
    }
  }

  private[graft] object SideTally {
    /** The SideMeta of a side's partition tallies. The coarse-cell counts
      * sum the fine histogram when the grids nest (globalPpd an exact
      * multiple of coarsePpd — the reference's 872 = 8·109 layout), where a
      * fine cell's coarse cell is index division: the density statistic of
      * the COARSE level, where a pile-up of wide objects takes the O(k²)
      * hash filter unless detected here (the fine histogram cannot see it —
      * wide objects never join at the fine level). A non-nested custom grid
      * keeps maxCoarseCellCnt = 0 (coarse auto-sweep never engages; the
      * explicit sweep flag still works), a conservative fallback. */
    def meta(ts: Seq[SideTally], grid: GridConfig): SideMeta = {
      val ppd = grid.globalPpd
      val fpc = grid.finePerCoarse
      val nested = ppd % grid.coarsePpd == 0
      val fine = cells(ts)
      val coarse = new scala.collection.mutable.LongMap[Long]
      if (nested) fine.foreachEntry { (c, n) =>
        bump(coarse, (c % ppd) / fpc + (c / ppd) / fpc * grid.coarsePpd, n)
      }
      def hottest(m: scala.collection.mutable.LongMap[Long]) =
        m.valuesIterator.foldLeft(0L)(math.max)
      val flags = ts.foldLeft(0)(_ | _.flags)
      def bit(i: Int) = (flags & (1 << i)) != 0
      SideMeta(bit(0), bit(1), bit(2), bit(3), bit(4), bit(5), hottest(fine),
        if (nested) hottest(coarse) else 0L)
    }

    /** The side's rows per home fine cell: the tallies' histograms summed. */
    def cells(ts: Seq[SideTally]): scala.collection.mutable.LongMap[Long] = {
      val fine = new scala.collection.mutable.LongMap[Long]
      for (t <- ts) t.cells.foreachEntry(bump(fine, _, _))
      fine
    }

    private def bump(m: scala.collection.mutable.LongMap[Long], c: Long,
        n: Long): Unit = m.update(c, m.getOrElse(c, 0L) + n)
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
          GeoKernels.refCellDedup(tile, r.xmin, r.ymin, s.xmin, s.ymin, grid,
            LvlOffset))
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
        GeoKernels.fineCoverCnt(w.xmin, w.ymin, w.xmax, w.ymax, grid) > maxFineCover
      val (sWide, sNarrow) = ss.partition(isWide)
      sweep(rs, sWide)
      sweep(rs.filter(isWide), sNarrow)
    }
    out.iterator
  }

  /** A candidate join's build side. `NoBuild`: both sides shuffle on the
    * tile key and carry only (tile, id, gtype, MBR); their payloads re-join
    * by id afterwards (`attach`). `BuildR` / `BuildS`: that side ships
    * whole to every task with its payload, and the other side's payload
    * rides its own emission, the probe stream — no re-join at all. */
  private sealed trait Build
  private case object NoBuild extends Build
  private case object BuildR extends Build
  private case object BuildS extends Build

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
   *   - sweep (`sweep`, dense data; callers select it only with `NoBuild`):
   *     one cogroup on the key running sweepTile, which applies the same
   *     dedup and level rule.
   * A pair's levels are fixed functions of its MBRs, so it is emitted
   * exactly once either way.
   *
   * Output columns: rid, sid, rg, sg, r/s MBRs (+ caller payload columns
   * when one side is broadcast). With `NoBuild` only ids+gtype+MBRs cross
   * the exchange; geometry/APRIL re-join by id downstream.
   */
  private def mrCandidates(rIx: DataFrame, sIx: DataFrame, grid: GridConfig,
      build: Build, maxFineCover: Int, rm: SideMeta, sm: SideMeta,
      payload: String => Seq[Column],
      sweep: Boolean): DataFrame = {
    val slim = build == NoBuild
    val rt = mrSide(rIx, "r", "rid", rm, sm, grid, maxFineCover, slim, payload)
    val st = mrSide(sIx, "s", "sid", sm, rm, grid, maxFineCover, slim, payload)
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
      mergedJoin(rt, st, grid, build, maxFineCover)
  }

  /** One side's merged-exchange emission against the other side's
    * metadata: narrow rows emit their fine cover when the other side has
    * narrow rows, and their coarse cover when it has wide rows; wide rows
    * emit their coarse cover. */
  private def mrSide(df: DataFrame, p: String, idName: String, own: SideMeta,
      other: SideMeta, grid: GridConfig, maxFineCover: Int, slim: Boolean,
      payload: String => Seq[Column]): DataFrame =
    mrEmission(df, p, idName,
      emitF = own.hasNarrow && other.hasNarrow,
      emitCNarrow = own.hasNarrow && other.hasWide,
      emitCWide = own.hasWide,
      grid, maxFineCover, rowRect, slim, payload)

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

  /** A NaN or null in any MBR field: the cell formula floors NaN to cell 0,
    * and `greatest` skips a null, clamping it to cell 0 too, so such a row
    * would home (and MBR-test) as if it sat at the grid edge — the
    * containment inner side drops it, as `lvlTiles` gives it no tiles. */
  private def nanMbr(rc: RectCols): Column =
    Seq(rc.xmin, rc.ymin, rc.xmax, rc.ymax)
      .map(c => isnan(c) || c.isNull).reduce(_ || _)

  /** The level-encoded cell holding (x, y): fine ids as-is, coarse ids
    * offset by LvlOffset. */
  private def cellCol(grid: GridConfig, fine: Boolean, x: Column, y: Column): Column = {
    val (extX, extY, ppd) =
      if (fine) (grid.fineExtX, grid.fineExtY, grid.globalPpd)
      else (grid.coarseExtX, grid.coarseExtY, grid.coarsePpd)
    val cell = clampIdx(x, extX, grid.xMin, ppd) +
      clampIdx(y, extY, grid.yMin, ppd) * lit(ppd.toLong)
    if (fine) cell else cell + lit(LvlOffset)
  }

  /** A row's level-tagged tile array: its fine cover if it is narrow and
    * `emitF`; its coarse cover if it is narrow and `emitCNarrow`, or wide
    * (more than `maxFineCover` fine cells) and `emitCWide`. A POINT covers
    * its single cell per level. No emission at all (degenerate empty-side
    * metadata, or a NaN or null MBR field) is an empty array — it explodes
    * to zero rows, the schema still materializes and the row joins
    * nothing. One codegen call (`GeoKernels.lvlTiles`), so the explode's
    * `Generate` compiles into its whole-stage codegen stage. */
  private[graft] def lvlTiles(grid: GridConfig, maxFineCover: Int, emitF: Boolean,
      emitCNarrow: Boolean, emitCWide: Boolean, rc: RectCols): Column =
    GeoExprs.lvlTiles(rc.g, rc.xmin, rc.ymin, rc.xmax, rc.ymax, grid, LvlOffset,
      maxFineCover, emitF, emitCNarrow, emitCWide)

  /** One side's id, gtype and MBR under the side's prefix. */
  private def idMbrCols(p: String, idName: String): Seq[Column] =
    Seq(col("id").as(idName), col("gtype").as(p + "g"),
      col("xmin").as(p + "xmin"), col("ymin").as(p + "ymin"),
      col("xmax").as(p + "xmax"), col("ymax").as(p + "ymax"))

  /** One side's join columns in one projection: `tile`, id, gtype and MBR
    * under the side's prefix (+ payload columns when not slim). */
  private def sideCols(df: DataFrame, tile: Column, p: String, idName: String,
      slim: Boolean, payload: String => Seq[Column]): DataFrame =
    df.select((tile.as("tile") +: idMbrCols(p, idName)) ++
      (if (slim) Nil else payload(p)): _*)

  /** One side's single-pass multi-level emission for the merged exchange:
    * the cover of `rc` (the row's own MBR, `rowRect`, or a caller's
    * expansion of it); the emitted columns keep the row's own MBR. */
  private def mrEmission(df: DataFrame, p: String, idName: String,
      emitF: Boolean, emitCNarrow: Boolean, emitCWide: Boolean,
      grid: GridConfig, maxFineCover: Int, rc: RectCols, slim: Boolean,
      payload: String => Seq[Column]): DataFrame =
    sideCols(df, explode(
      lvlTiles(grid, maxFineCover, emitF, emitCNarrow, emitCWide, rc)),
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
      build: Build, maxFineCover: Int,
      pairCond: Option[Column] = None): DataFrame = {
    val rt = if (build == BuildR) broadcast(rt0) else rt0
    val st = if (build == BuildS) broadcast(st0) else st0
    // with `NoBuild`, no static join-strategy hint: merge/shuffle_hash/
    // broadcast hints on this join were all measured equal-or-worse than
    // Catalyst+AQE's own choice at sf0.1 (OPTIMIZATION_r06.md "measured but
    // rejected"); `BuildR` is taken only for an all-point R whose emission
    // fits Spark's broadcast threshold (tileBuild), and pins R as the build
    // side so the payloads can skip the re-join
    val cond = pairCond.getOrElse(
      mergedPairCond(col("tile"), RectCols.prefixed("r"), RectCols.prefixed("s"),
        grid, maxFineCover))
    rt.join(st, Seq("tile")).where(cond).drop("tile")
  }

  /**
   * Home-cell candidate pairs: every pair whose INNER object's MBR min
   * corner lies inside the OUTER object's cover rect `outerRect`. That holds
   * for CONTAINMENT predicates (INSIDE/COVERED_BY: r ⊆ s; CONTAINS/COVERS:
   * s ⊆ r; the outer rect is the container's MBR) and for the ε-distance
   * join (the outer rect is the ε-expanded box around an R point), so
   * joining the INNER side's single home cell against the OUTER side's cell
   * cover finds every such pair exactly once: the inner side (at 10¹² rows,
   * usually the probe) ships ONE row per object through the shuffle —
   * explode factor 1.0 — and no reference-point dedup is needed. One
   * level-tagged exchange like mrCandidates: a pair joins at the outer
   * row's level (narrow cover: fine grid; wide: coarse grid), so
   * `outerHasWide` / `outerHasNarrow` must be true whenever an outer row of
   * that level exists. Pairs failing the caller's `pairCond` (over the
   * sides' own prefixed MBRs) drop before the exact predicate.
   */
  private def containmentCandidates(rIx: DataFrame, sIx: DataFrame,
      grid: GridConfig, build: Build,
      maxFineCover: Int, outerHasWide: Boolean, outerHasNarrow: Boolean,
      payload: String => Seq[Column], innerIsR: Boolean,
      outerRect: RectCols, pairCond: Column): DataFrame = {
    val slim = build == NoBuild

    val (inner0, innerP, innerId) = if (innerIsR) (rIx, "r", "rid") else (sIx, "s", "sid")
    // the emission's NaN/null guard on the home-cell side: a row with a NaN
    // or null MBR field joins nothing (Spark orders NaN above every number,
    // so it would otherwise pass a containment pairCond)
    val inner = inner0.where(!nanMbr(rowRect))
    val (outer, outerP, outerId) = if (innerIsR) (sIx, "s", "sid") else (rIx, "r", "rid")

    // merged level-encoded exchange (round 6, guide §2.4 — same key scheme
    // as mrCandidates): the inner side emits its home cell at each level
    // the outer population needs (≤ 2 rows per object); the outer side
    // emits narrow rows' fine cover and wide rows' coarse cover. The key's
    // level tag guarantees a containment pair joins exactly once, at the
    // outer object's own level — no post-join level filter and no
    // reference-point dedup needed.
    def homeCell(fine: Boolean): Column = cellCol(grid, fine, col("xmin"), col("ymin"))
    // the single-level case (one outer population) keeps the inner side
    // explode-free: one row per object, plain column tile — the plan's only
    // Generate is the outer cover (MultiResSpec pins this)
    val innerTile = (outerHasNarrow, outerHasWide) match {
      case (true, false) => homeCell(fine = true)
      case (false, true) => homeCell(fine = false)
      case (true, true) =>
        explode(array(homeCell(fine = true), homeCell(fine = false)))
      case _ => homeCell(fine = true) // degenerate
    }
    val it = sideCols(inner, innerTile, innerP, innerId, slim, payload)
    val ot = mrEmission(outer, outerP, outerId, emitF = outerHasNarrow,
      emitCNarrow = false, emitCWide = outerHasWide, grid, maxFineCover,
      outerRect, slim, payload)
    val (rt, st) = if (innerIsR) (it, ot) else (ot, it)
    mergedJoin(rt, st, grid, build, maxFineCover, pairCond = Some(pairCond))
  }

  /** Widen a narrow batch input to the session's parallelism. The engine's
    * heavy per-row kernels (rasterize, polygon synthesis, cover explode)
    * run as PROJECTIONS, which inherit the scan's partitioning — a compact
    * parquet input (one file = one partition) would serialize them all on
    * one core (measured: single-task rasterize over 200k polygons at sf1).
    * Stored inputs widen too: a path-snapshot index's compact files combine
    * into few scan splits (skipping widen there measured 1.87 s vs 0.71 s
    * on q_find_relation_april at sf0.1).
    *
    * Decided from the planned query, launching no job: a streaming input,
    * or a plan already holding an exchange (adaptive or not, also inside a
    * cached relation), keeps its chosen partitioning — under AQE, reading
    * its partition count would run that exchange. Any other plan is narrow
    * operators over scans, whose RDD builds without a job; it repartitions
    * to `defaultParallelism` only below half that many partitions (within
    * 2× of the target a row shuffle buys a marginal win). */
  private[graft] def widen(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val plan = df.queryExecution.executedPlan
    if (holdsExchange(plan)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plan.execute().getNumPartitions < math.max(target / 2, 1))
      df.repartition(target)
    else df
  }

  private def holdsExchange(p: QueryPlan[_]): Boolean = p match {
    case _: Exchange | _: AdaptiveSparkPlanExec => true
    case _ => (p.children ++ p.innerChildren).exists {
      case c: QueryPlan[_] => holdsExchange(c)
      case _ => false
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
    val (tile, coarseTile) = pointTiles(grid, col("x"), col("y"))
    points.select(
      col("id"),
      tile.as("tile"),
      coarseTile.as("coarseTile"),
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

  /** Bit-identical MBRs. */
  private def mbrEqual(a: RectCols, b: RectCols): Column =
    a.xmin === b.xmin && a.ymin === b.ymin && a.xmax === b.xmax && a.ymax === b.ymax

  /** `a`'s MBR within `b`'s, boundary included. */
  private def mbrIn(a: RectCols, b: RectCols): Column =
    a.xmin >= b.xmin && a.xmax <= b.xmax && a.ymin >= b.ymin && a.ymax <= b.ymax

  /** An edge of `r`'s MBR on the facing edge of `s`'s: for closed-overlapping
    * boxes, boundary-only contact. */
  private def mbrFacingEdge(r: RectCols, s: RectCols): Column =
    r.xmin === s.xmax || r.xmax === s.xmin || r.ymin === s.ymax || r.ymax === s.ymin

  /** Exact predicate over rectangular pairs that ALREADY passed the closed
    * MBR-overlap test — pure coordinate comparisons, stays in codegen. */
  private[graft] def rectExactExpr(pred: Int, r: RectCols, s: RectCols): Column = {
    val rPoint = r.g === GeomType.POINT
    val sPoint = s.g === GeomType.POINT
    val coordsEqual = mbrEqual(r, s)
    val rInSClosed = mbrIn(r, s)
    val sInRClosed = mbrIn(s, r)
    val rPtStrictInS =
      r.xmin > s.xmin && r.xmin < s.xmax && r.ymin > s.ymin && r.ymin < s.ymax
    val sPtStrictInR =
      s.xmin > r.xmin && s.xmin < r.xmax && s.ymin > r.ymin && s.ymin < r.ymax
    val facingEdge = mbrFacingEdge(r, s)
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

  /** Default `hotTileThreshold`: the measured crossover (ScaleBench hot-tile
    * micro-bench: 8k-object tile ≈ break-even, 30k-object tile sweep wins
    * >2×; O(k²) vs O(k·window) diverges fast past it). */
  val HotTileThreshold = 8192L

  /** Density-driven sweep selection (the reference always sweeps,
    * intersection_join_filter.cpp:363-489; here the codegen hash path wins
    * at ordinary density, so the sweep engages only when the dispatch
    * prepass proves a hot tile). Hot means a fine home tile holds more than
    * `hotTileThreshold` objects, or — when either side has wide rows, which
    * the fine histogram cannot see — a coarse cell does. */
  private def hotSweep(rm: SideMeta, sm: SideMeta,
      hotTileThreshold: Long): Boolean =
    math.max(rm.maxHomeTileCnt, sm.maxHomeTileCnt) > hotTileThreshold ||
      (rm.hasWide || sm.hasWide) &&
        math.max(rm.maxCoarseCellCnt, sm.maxCoarseCellCnt) > hotTileThreshold

  /** Only points on this side (no BOX, LINESTRING or POLYGON)? */
  private def allPoints(m: SideMeta): Boolean =
    m.hasRect && !m.hasBox && !m.hasNonRect

  /** One side's APRIL-indexed form: `df` itself when APRIL is off, when the
    * side holds only points (their payload is synthesized, see payloadCols)
    * or when it is pre-indexed (buildIndex); otherwise `aprilIndex`. */
  private def ix(df: DataFrame, grid: GridConfig, useApril: Boolean,
      aprilOrder: Int, m: SideMeta): DataFrame =
    if (!useApril || allPoints(m) || df.columns.contains("april_all")) df
    else aprilIndex(df, grid, aprilOrder)

  /** One side's payload under prefix `p`: ring coords (p+"c") and, with
    * APRIL, the interval lists (p+"_april_all", p+"_april_full"). When a
    * candidate join broadcasts one side, both sides carry it through their
    * tile emission — the build side in the broadcast, the other on its
    * probe stream; with `NoBuild` it is `attach`ed after the join. An
    * all-point side's payload is synthesized from its MBR corner (x, y): a
    * point's coords ARE that corner and its A-list is one Hilbert cell,
    * bit-identical to the rasterized form — so `ix` never rasterizes it. */
  private def payloadCols(p: String, points: Boolean, withApril: Boolean,
      grid: GridConfig, aprilOrder: Int, x: Column = col("xmin"),
      y: Column = col("ymin")): Seq[Column] =
    if (points) {
      val cell = GeoExprs.hilbertCell(x, y, grid.xMin, grid.yMin,
        grid.xExtent, grid.yExtent, aprilOrder)
      array(x, y).as(p + "c") +: (if (!withApril) Nil
        else Seq(array(cell, cell + lit(1L)).as(p + "_april_all"),
          typedlit(Array.empty[Long]).as(p + "_april_full")))
    } else col("coords").as(p + "c") +: (if (!withApril) Nil
      else Seq(col("april_all").as(p + "_april_all"),
        col("april_full").as(p + "_april_full")))

  /** Both sides' emitted payload columns by prefix for a join with
    * `build`: none with `NoBuild` (`attach` re-joins them), else
    * payloadCols, each synthesized when its side holds only points. */
  private def sidePayload(build: Build, rm: SideMeta, sm: SideMeta,
      withApril: Boolean, grid: GridConfig,
      aprilOrder: Int): String => Seq[Column] =
    if (build == NoBuild) _ => Nil
    else p => payloadCols(p, allPoints(if (p == "r") rm else sm), withApril,
      grid, aprilOrder)

  /** Attach one side's payloadCols to slim (id, gtype, MBR) candidate rows,
    * which only a `NoBuild` candidate join leaves: ONE id re-join per side,
    * the coords and the APRIL interval lists in the same join (no broadcast
    * hint: interval arrays scale with geometry size; AQE converts a
    * genuinely small side at runtime). An all-point side never re-joins:
    * its payload is synthesized from the MBR already on the row. */
  private def attach(c: DataFrame, p: String, idName: String, df: DataFrame,
      points: Boolean, withApril: Boolean, grid: GridConfig,
      aprilOrder: Int): DataFrame =
    if (points) c.select(col("*") +: payloadCols(p, points, withApril, grid,
      aprilOrder, col(p + "xmin"), col(p + "ymin")): _*)
    else c.join(df.select(col("id").as(idName) +:
      payloadCols(p, points, withApril, grid, aprilOrder): _*), Seq(idName))

  /**
   * The tile candidate join's build side, and R's `ix`-indexed form, for a
   * join whose caller fixed no build side and whose plan is the hash path
   * (a hot tile selects the sweep first, which shuffles). `BuildR` only for
   * an all-point R whose emission fits Spark's
   * `spark.sql.autoBroadcastJoinThreshold` (chooseBroadcast on the planned
   * query, no job): a point emits one tile per level and synthesizes its
   * payload (payloadCols), so that estimate bounds what the broadcast
   * carries. Spark's estimate of a wider side's tile explode does not scale
   * with its cover, so a non-point R keeps `NoBuild`. The hint pins R even
   * where Catalyst would have broadcast a smaller S. A broadcast R is not
   * widened: its rows only feed the broadcast's collect, so the round-robin
   * shuffle would be paid for nothing. Otherwise `NoBuild` over `ix(rW)`.
   */
  private def tileBuild(r0: DataFrame, rW: => DataFrame, grid: GridConfig,
      useApril: Boolean, aprilOrder: Int, maxFineCover: Int,
      rm: SideMeta, sm: SideMeta): (Build, DataFrame) = {
    def fits = chooseBroadcast(mrSide(r0, "r", "rid", rm, sm, grid,
      maxFineCover, slim = false,
      sidePayload(BuildR, rm, sm, useApril, grid, aprilOrder)),
      r0.queryExecution.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    if (allPoints(rm) && fits) (BuildR, r0)
    else (NoBuild, ix(rW, grid, useApril, aprilOrder, rm))
  }

  /** EQUAL's candidates: point-set-equal geometries have bit-identical
    * MBRs, so the candidates ARE the equi-join on the four MBR doubles (no
    * explode, no dedup; AQE picks broadcast vs shuffle). Catalyst normalizes
    * NaN join keys as equal, so NaN/null MBR rows are dropped first, as on
    * every tile path. Nothing explodes, so the coords ride the sides. */
  private def equalCandidates(r: DataFrame, s: DataFrame,
      withCoords: Boolean): DataFrame = {
    def side(df: DataFrame, p: String, idName: String) =
      df.where(!nanMbr(rowRect)).select(idMbrCols(p, idName) ++
        (if (withCoords) Seq(col("coords").as(p + "c")) else Nil): _*)
    side(r, "r", "rid").join(side(s, "s", "sid"),
      mbrEqual(RectCols.prefixed("r"), RectCols.prefixed("s")))
  }

  /** A join output's per-pair decision, the cascade's last step. */
  private sealed trait Decision
  /** A predicate's accept test; the output is (rid, sid). */
  private final case class Accept(pred: Int) extends Decision
  /** Find-relation's relation code; the output is (rid, sid, relation). */
  private case object Relate extends Decision

  /**
   * The one filter-and-refine cascade behind every join output (the
   * reference's MBR filter → APRIL filter → refinement; find-relation
   * differs only in the per-pair decision, SURVEY §2.4–2.6): both SideMetas
   * (the caller's, or a tally job each); the payload the decision reads
   * (coords only when a side holds non-rectangular rows, or non-box rows for
   * find-relation, whose APRIL is pruned on boxes; EQUAL ignores APRIL);
   * the candidate source — EQUAL's equi-join, else sides widened (R lazily,
   * once known to shuffle, and not with `widenR = false`; S unless
   * broadcast), the sweep decided (hotSweep, never with a broadcast S), the
   * build side chosen (`broadcastS`; `NoBuild` for the sweep and
   * containment; else tileBuild), each side `ix`-indexed, and the home-cell
   * (containment) or tile exchange; with `NoBuild` one `attach` per side;
   * then the decision. With a build side the payloads ride the emissions,
   * so the decision folds into the candidate join's own condition.
   */
  private def cascade(r: DataFrame, s: DataFrame, decision: Decision,
      grid: GridConfig, useApril: Boolean, aprilOrder: Int, maxFineCover: Int,
      rMeta: Option[SideMeta], sMeta: Option[SideMeta],
      broadcastS: Boolean = false, widenR: Boolean = true,
      sweep: Option[Boolean] = None,
      hotTileThreshold: Long = HotTileThreshold): DataFrame = {
    val rm = rMeta.getOrElse(sideMeta(r, grid, maxFineCover))
    val sm = sMeta.getOrElse(sideMeta(s, grid, maxFineCover))
    // find-relation's candidates are INTERSECTS's: every MBR-overlapping pair
    val (pred, withPayload, april) = decision match {
      case Accept(p) => (p, rm.hasNonRect || sm.hasNonRect,
        useApril && p != Predicates.EQUAL)
      case Relate =>
        val anyNonBox = rm.hasNonBox || sm.hasNonBox
        (Predicates.INTERSECTS, anyNonBox, useApril && anyNonBox)
    }
    val contRinS = pred == Predicates.INSIDE || pred == Predicates.COVERED_BY
    val contSinR = pred == Predicates.CONTAINS || pred == Predicates.COVERS
    val rRC = RectCols.prefixed("r")
    val sRC = RectCols.prefixed("s")

    val all =
      if (pred == Predicates.EQUAL) equalCandidates(r, s, withPayload)
      else {
        // widen-before-explode: the cover explode + MBR/tile math run as
        // projections on the scan partitioning (see widen's scaladoc)
        lazy val rW = if (widenR) widen(r) else r
        val sW = if (broadcastS) s else widen(s)
        // explicit Some(flag) overrides the density rule; the sweep needs
        // the slim (shuffle) exchange, so it is decided before any broadcast
        val sweepOn = !broadcastS &&
          sweep.getOrElse(hotSweep(rm, sm, hotTileThreshold))
        val (build, rIx) =
          if (broadcastS) (BuildS, ix(rW, grid, april, aprilOrder, rm))
          else if (sweepOn || contRinS || contSinR)
            (NoBuild, ix(rW, grid, april, aprilOrder, rm))
          else tileBuild(r, rW, grid, april, aprilOrder, maxFineCover, rm, sm)
        val sIx = ix(sW, grid, april, aprilOrder, sm)
        val payload = sidePayload(build, rm, sm, april, grid, aprilOrder)
        val cands =
          if (contRinS || contSinR)
            containmentCandidates(rIx, sIx, grid, build, maxFineCover,
              outerHasWide = if (contRinS) sm.hasWide else rm.hasWide,
              outerHasNarrow = if (contRinS) sm.hasNarrow else rm.hasNarrow,
              payload, innerIsR = contRinS, outerRect = rowRect,
              pairCond = if (contRinS) mbrIn(rRC, sRC) else mbrIn(sRC, rRC))
          else mrCandidates(rIx, sIx, grid, build, maxFineCover, rm, sm,
            payload, sweep = sweepOn)
        if (!withPayload || build != NoBuild) cands
        else attach(attach(cands, "r", "rid", rIx, allPoints(rm), april,
          grid, aprilOrder), "s", "sid", sIx, allPoints(sm), april, grid,
          aprilOrder)
      }
    decision match {
      case Accept(_) => accept(all, pred, withPayload, april)
      case Relate => relate(all, withPayload, april)
    }
  }

  /**
   * A predicate's accept test. POINT/BOX pairs take the rectangular column
   * fast path (exact DE-9IM on closed rectangles, in codegen; EQUAL's
   * equi-join already decided them). An all-rectangular workload reads no
   * payload; otherwise one per-row CASE picks the fast path or, for a
   * non-rectangular pair, the APRIL verdict (when on) and the exact kernel
   * only if it is inconclusive — one verdict call per pair, since a column
   * tested twice would be inlined twice into the join condition.
   */
  private def accept(all: DataFrame, pred: Int, withPayload: Boolean,
      april: Boolean): DataFrame = {
    val rRC = RectCols.prefixed("r")
    val sRC = RectCols.prefixed("s")
    val rectangular = rectangularCond(rRC, sRC)
    val rectExact =
      if (pred == Predicates.EQUAL) lit(true) else rectExactExpr(pred, rRC, sRC)
    val keep =
      if (!withPayload) rectangular && rectExact
      else {
        val refine =
          GeoExprs.stRefine(pred, col("rg"), col("rc"), col("sg"), col("sc"))
        val nonRect =
          if (!april) refine
          else coalesce(GeoExprs.aprilDecision(GeoExprs.aprilVerdict(pred,
            col("r_april_all"), col("r_april_full"),
            col("s_april_all"), col("s_april_full"))), refine)
        when(rectangular, rectExact).otherwise(nonRect)
      }
    all.where(keep).select(col("rid"), col("sid"))
  }

  /** Find-relation's relation code. Box×box pairs take `boxRel`, the
    * reference's MBR-case routing (Topology.findRelation) as column
    * arithmetic; with APRIL the topology filter (src/APRIL/filter.cpp:
    * 189-223) resolves what it can from interval algebra, and only the rest
    * reaches the exact DE-9IM kernel. */
  private def relate(all: DataFrame, withPayload: Boolean,
      april: Boolean): DataFrame = {
    val rRC = RectCols.prefixed("r")
    val sRC = RectCols.prefixed("s")
    val eps = 1e-8
    val dxmin = rRC.xmin - sRC.xmin; val dymin = rRC.ymin - sRC.ymin
    val dxmax = rRC.xmax - sRC.xmax; val dymax = rRC.ymax - sRC.ymax
    // the MBR routing cases of relateMBRs
    val mbrEqualEps =
      abs(dxmin) < eps && abs(dxmax) < eps && abs(dymin) < eps && abs(dymax) < eps
    val sInRRoute = dxmin <= 0 && dxmax >= 0 && dymin <= 0 && dymax >= 0
    val rInSRoute = dxmin >= 0 && dxmax <= 0 && dymin >= 0 && dymax <= 0
    val boxRel =
      when(mbrEqual(rRC, sRC), Topology.TR_EQUAL)
        // MBR_EQUAL routing checks covers/covered_by without a meet branch
        .when(mbrEqualEps, when(mbrIn(sRC, rRC), Topology.TR_CONTAINS)
          .when(mbrIn(rRC, sRC), Topology.TR_INSIDE)
          .otherwise(Topology.TR_INTERSECT))
        // containment routings: for non-degenerate boxes covers ⇒ contains
        .when(sInRRoute, Topology.TR_CONTAINS)
        .when(rInSRoute, Topology.TR_INSIDE)
        // MBR_INTERSECT routing: boundary-only contact ⇔ a facing edge
        .when(mbrFacingEdge(rRC, sRC), Topology.TR_MEET)
        .otherwise(Topology.TR_INTERSECT)
    if (!withPayload)
      return all.select(col("rid"), col("sid"), boxRel.as("relation"))

    val bothBox = rRC.g === GeomType.BOX && sRC.g === GeomType.BOX
    val exactRel = when(bothBox, boxRel).otherwise(
      GeoExprs.stFindRelation(col("rg"), col("rc"), col("sg"), col("sc")))
    if (!april)
      all.select(col("rid"), col("sid"), exactRel.as("relation"))
    else {
      // APRIL topology filter: -1 = unresolved (refine). Sound resolutions:
      //   no ALL overlap            → DISJOINT (candidates can't touch)
      //   ALL_S ⊆ FULL_R            → S strictly inside R's interior → CONTAINS
      //   ALL_R ⊆ FULL_S            → INSIDE
      //   interiors provably meet in the MBR_INTERSECT routing case → INTERSECT
      // MBR routing case as a pure column (0=EQUAL, 1=S_IN_R, 2=R_IN_S,
      // 3=INTERSECT) — mirrors relateMBRs' live branches
      val mbrCase =
        when(mbrEqualEps, 0).when(sInRRoute, 1).when(rInSRoute, 2).otherwise(3)
      // mc==0 (EPS-equal MBRs) never yields DISJOINT in the reference's
      // routing (refineEqual... has no disjoint check) — defer to refine;
      // MBR_INTERSECT routing can only yield DISJOINT/MEET/INTERSECT, so
      // provably-meeting interiors resolve to INTERSECT.
      // (kernel: graft.functions.GeoKernels.aprilTopoRel, codegen Expression;
      // one projection, so the kernel is evaluated once per pair)
      all
        .withColumn("april_rel", GeoExprs.aprilTopoRel(
          col("r_april_all"), col("r_april_full"),
          col("s_april_all"), col("s_april_full"), mbrCase))
        // unresolved box pairs fall back to the column fast path; only
        // unresolved non-box pairs pay the geometry kernel
        .select(col("rid"), col("sid"),
          when(col("april_rel") >= 0, col("april_rel")).otherwise(exactRel)
            .as("relation"))
    }
  }

  /**
   * Predicate spatial join: (rid, sid) pairs satisfying `pred`, through the
   * one cascade. Plan: tile-explode both sides → equi-join on tile
   * (`broadcastS = true` broadcasts S's emission; else a non-containment
   * join without a hot tile broadcasts an all-point R's emission when it
   * fits `spark.sql.autoBroadcastJoinThreshold`) → MBR overlap →
   * reference-point dedup → optional APRIL verdict → exact refinement.
   * Containment predicates take the home-cell exchange; EQUAL the MBR
   * equi-join (`useApril`, `broadcastS` and the sweep do not apply). A hot
   * tile the statistics show (`hotTileThreshold`, or `sweep` to force
   * either way) takes the in-tile plane sweep. Disjoint-join caveat: the
   * candidates come from common tiles only (SURVEY.md §2.4).
   */
  def spatialJoin(r: Dataset[GeoRow], s: Dataset[GeoRow], pred: Int,
                  grid: GridConfig, useApril: Boolean = false,
                  broadcastS: Boolean = false,
                  aprilOrder: Int = AprilOrder,
                  maxFineCover: Int = MaxFineCover,
                  rMeta: Option[SideMeta] = None,
                  sMeta: Option[SideMeta] = None,
                  sweep: Option[Boolean] = None,
                  hotTileThreshold: Long = HotTileThreshold): DataFrame =
    cascade(r.toDF(), s.toDF(), Accept(pred), grid, useApril, aprilOrder,
      maxFineCover, rMeta, sMeta, broadcastS = broadcastS, sweep = sweep,
      hotTileThreshold = hotTileThreshold)

  /** APRIL Hilbert order N (config_cluster.ini [APRIL] N=16). A dataset
    * without stored interval lists is rasterized at query time (`ix`); a
    * stored index (SpatialIndex, `aprilIndex` persisted) carries its own
    * order's lists and is read as is. */
  val AprilOrder = 16

  /** Find-relation join: (rid, sid, relation) with the reference's TR codes,
    * through the one cascade (see `cascade`): the same candidates, build
    * side, sweep and payload as spatialJoin's INTERSECTS, with the relation
    * code as the per-pair decision (see `relate`). On an all-box workload
    * the `useApril` request is ignored: the column fast path is exact, so
    * the APRIL sub-plan would be pure overhead (SideMeta proves it, the
    * plan prunes it). */
  def findRelationJoin(r: Dataset[GeoRow], s: Dataset[GeoRow],
                       grid: GridConfig, useApril: Boolean = false,
                       aprilOrder: Int = AprilOrder,
                       maxFineCover: Int = MaxFineCover,
                       rMeta: Option[SideMeta] = None,
                       sMeta: Option[SideMeta] = None,
                       sweep: Option[Boolean] = None,
                       hotTileThreshold: Long = HotTileThreshold): DataFrame =
    cascade(r.toDF(), s.toDF(), Relate, grid, useApril, aprilOrder,
      maxFineCover, rMeta, sMeta, sweep = sweep,
      hotTileThreshold = hotTileThreshold)

  /**
   * Size-based join-strategy chooser (the BaseIndex::evaluateQuery dispatch
   * analogue, containers.h:1999-2048): broadcast S when Catalyst's size
   * estimate of its pre-explode footprint fits comfortably on every
   * executor; otherwise shuffle (multi-resolution tile exchange + AQE).
   */
  def chooseBroadcast(s: Dataset[_], thresholdBytes: Long = 16L << 20): Boolean =
    s.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thresholdBytes)

  /** spatialJoin with the broadcast/shuffle decision taken from size
    * estimates instead of a caller flag. APRIL joins never force S's
    * broadcast: S's payload (coords + interval arrays) would ride through
    * its tile explode, multiplying broadcast bytes per covered tile —
    * measured slower than the slim exchange + re-join-by-id even for a
    * 20k-row S at sf0.1. Without a broadcast S the cascade still
    * broadcasts an all-point R's emission when it fits Spark's own
    * threshold. */
  def spatialJoinAuto(r: Dataset[GeoRow], s: Dataset[GeoRow], pred: Int,
                      grid: GridConfig, useApril: Boolean = false,
                      aprilOrder: Int = AprilOrder,
                      maxFineCover: Int = MaxFineCover,
                      rMeta: Option[SideMeta] = None,
                      sMeta: Option[SideMeta] = None): DataFrame =
    cascade(r.toDF(), s.toDF(), Accept(pred), grid, useApril, aprilOrder,
      maxFineCover, rMeta, sMeta,
      broadcastS = !useApril && chooseBroadcast(s))

  // ---------------------------------------------------------- range queries

  /** Batch range query: (queryId, id) for every data object intersecting the
    * query window. The reference broadcasts the query table and joins it
    * with the data (SURVEY §2.8); here that is a spatial join of the data
    * (r) against a broadcast window table (s) through the one cascade:
    * windows and data objects wider than `maxFineCover` fine cells join at
    * the coarse grid, so a continent-sized window ships O(coarse cells)
    * rows.
    *
    * `useApril`: the reference's on-the-fly window APRIL
    * (src/APRIL/filter.cpp:236-246) — each window is rasterized ONCE on the
    * driver and broadcast with its row; the interval verdict then
    * short-circuits most candidates before exact refinement. Intended for
    * APRIL-pre-indexed data (`april_all` columns present); un-indexed data
    * is rasterized lazily. */
  def rangeBatch(data: Dataset[GeoRow], queries: Seq[(Long, Geom)],
                 grid: GridConfig, useApril: Boolean = false,
                 aprilOrder: Int = AprilOrder,
                 maxFineCover: Int = MaxFineCover,
                 dataMeta: Option[SideMeta] = None): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val windows = queries.map { case (qid, g) =>
      val m = g.mbr
      val a = if (useApril) April.rasterize(g, grid.xMin, grid.yMin,
        grid.xExtent, grid.yExtent, aprilOrder)
        else April.Approx(Array.emptyLongArray, Array.emptyLongArray)
      (qid, g.gtype, g.coords, m.xmin, m.ymin, m.xmax, m.ymax, a.all, a.full)
    }.toDF("id", "gtype", "coords", "xmin", "ymin", "xmax", "ymax",
      "april_all", "april_full")
    // the windows' dispatch metadata from the driver-side Geoms (no job)
    def any(p: Geom => Boolean) = queries.exists { case (_, g) => p(g) }
    def wide(g: Geom) = GeoKernels.fineCoverCnt(g.mbr.xmin, g.mbr.ymin,
      g.mbr.xmax, g.mbr.ymax, grid) > maxFineCover
    def rect(g: Geom) = g.gtype == GeomType.POINT || g.gtype == GeomType.BOX
    val wm = SideMeta(hasWide = any(wide), hasNarrow = any(!wide(_)),
      hasNonRect = any(!rect(_)), hasNonBox = any(_.gtype != GeomType.BOX),
      hasRect = any(rect), hasBox = any(_.gtype == GeomType.BOX))
    // no widen for the cover arithmetic alone (cheap even on one core —
    // measured +0.4 s pure repartition cost at sf0.1 with no offsetting
    // win). With `useApril` a data side holding non-point rows IS widened:
    // the broadcast payload carries its A-lists, so `ix` rasterizes it
    // through aprilIndex, whose widen repartitions it; an all-point side's
    // A-lists are synthesized on the row.
    cascade(data.toDF(), windows, Accept(Predicates.INTERSECTS), grid,
      useApril, aprilOrder, maxFineCover, dataMeta, Some(wm),
      broadcastS = true, widenR = false)
      .select(col("sid").as("qid"), col("rid").as("id"))
  }

  // ------------------------------------------------------------------- kNN

  /**
   * Batch kNN over point data: ascending (distance, id) per query, exactly
   * k rows each (all of them, ranked 1..n, when the data holds n < k
   * points) — reproducing the reference's heap-drain output order
   * (API/containers.cpp:961-972). One pass over the data for the whole
   * batch, pruned to the tiles that can hold a neighbor (the reference's
   * tile lower-bound prune, knn_filter.cpp:27-39), then a windowed top-k
   * that Spark limits map-side before the exchange (see knnBatchDf).
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
    val grid = gridOpt.getOrElse(gridFor(dataspace(points)))

    // Phase 1 (one shuffle-free job): per-tile point counts → broadcast
    // map — the home fine-cell histogram of the side's SideTally fold, the
    // same cell column as the join below. Home tile is the pure-column tile
    // math (codegen) — identical to grid.fineTileOfPoint (floor-then-clamp
    // commutes with clamp-then-floor on the clamped range).
    val homeTile = cellCol(grid, fine = true, col("xmin"), col("ymin"))
    val tileCounts: Map[Long, Long] =
      SideTally.cells(tallies(points, grid, MaxFineCover)).toMap
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
    // distance → rank per query, ties on id (the reference's heap order).
    // The rank filter plans as a partial WindowGroupLimit before the
    // exchange (for k up to spark.sql.optimizer.windowGroupLimitThreshold),
    // so the shuffle carries ≤ k·parts rows per query.
    val dist = sqrt(
      (col("xmin") - col("qx")) * (col("xmin") - col("qx")) +
      (col("ymin") - col("qy")) * (col("ymin") - col("qy")))
    points.withColumn("tile", homeTile)
      .join(qTiles, Seq("tile"))
      .select(col("qid"), col("id"), dist.as("dist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy("dist", "id")))
      .where(col("rnk") <= k)
  }

  /** Tiles that can contain one of the k nearest neighbors of (qx, qy);
    * `total` is the histogram's point count. */
  private[graft] def candidateKnnTiles(qx: Double, qy: Double, k: Int,
      grid: GridConfig, tileCounts: Map[Long, Long], total: Long): Seq[Long] = {
    // fewer than k points overall: every non-empty tile holds a neighbor
    if (total < k) return tileCounts.keys.toSeq
    val ppd = grid.globalPpd
    val hi = math.min(math.max(grid.fineX(qx), 0), ppd - 1)
    val hj = math.min(math.max(grid.fineY(qy), 0), ppd - 1)
    def count(i: Int, j: Int): Long =
      if (i < 0 || i >= ppd || j < 0 || j >= ppd) 0L
      else tileCounts.getOrElse(grid.tileId(i, j), 0L)
    // points on the Chebyshev ring of radius r: its perimeter cells only
    def ring(r: Int): Long =
      if (r == 0) count(hi, hj)
      else {
        var c = 0L
        var i = hi - r
        while (i <= hi + r) { c += count(i, hj - r) + count(i, hj + r); i += 1 }
        var j = hj - r + 1
        while (j < hj + r) { c += count(hi - r, j) + count(hi + r, j); j += 1 }
        c
      }
    // the rings cover the whole grid by r = ppd - 1
    var cum = ring(0)
    var found = 0
    while (cum < k && found < ppd - 1) { found += 1; cum += ring(found) }
    if (cum < k) return tileCounts.keys.toSeq // histogram keys off the grid
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
    // every non-empty tile of the rCap box within the bound: walk the box's
    // cells, or the histogram's keys when they are fewer (few, spread-out
    // points make the box most of the grid)
    val (iLo, iHi) = (math.max(hi - rCap, 0), math.min(hi + rCap, ppd - 1))
    val (jLo, jHi) = (math.max(hj - rCap, 0), math.min(hj + rCap, ppd - 1))
    def near(t: Long) = grid.distanceToTile(qx, qy, t) <= bound
    if (tileCounts.size.toLong < (iHi - iLo + 1).toLong * (jHi - jLo + 1))
      return tileCounts.keys.filter { t =>
        val (i, j) = (t % ppd, t / ppd)
        t >= 0 && i >= iLo && i <= iHi && j >= jLo && j <= jHi && near(t)
      }.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = iLo
    while (i <= iHi) {
      var j = jLo
      while (j <= jHi) {
        val t = grid.tileId(i, j)
        if (tileCounts.contains(t) && near(t)) out += t
        j += 1
      }
      i += 1
    }
    out.toSeq
  }

  // --------------------------------------------------------- distance join

  /** ε-distance join over point datasets: (rid, sid) with dist <= d.
    * R explodes the cell cover of its ε-expanded box; S stays at its home
    * cell — one shuffle replaces the reference's 3-phase MPI exchange
    * (src/UniformGrid/dj_filter.cpp). This is containmentCandidates' plan
    * with outer = R's ε-box and inner = S's point: a pair within ε has S
    * inside R's ε-box, so it meets exactly once, at the level of R's box
    * (an ε-box wider than `maxFineCover` fine tiles — a 3° radius covers
    * ~480 of them on the world grid — joins at the coarse grid, capping the
    * explode at O(coarse cells)). The exact distance on the original
    * coordinates is the pair filter. */
  def distanceJoin(r: Dataset[GeoRow], s: Dataset[GeoRow], d: Double,
                   grid: GridConfig, maxFineCover: Int = MaxFineCover): DataFrame = {
    // the level flags, on the driver: a box 2d wide spans at most ⌊2d/ext⌋+2
    // cells per axis (the ceiling absorbs the rounding of x ± d) and
    // clamping only shrinks a cover, so no box is wide unless this bound
    // is. A clamped box at the grid edge, or around a point outside the
    // grid, can be narrow at any ε, so narrow boxes are always assumed.
    def cells(ext: Double) = math.ceil(2 * d / ext) + 2
    val hasWide = cells(grid.fineExtX) * cells(grid.fineExtY) > maxFineCover
    val epsBox = RectCols(lit(GeomType.BOX), col("xmin") - d, col("ymin") - d,
      col("xmin") + d, col("ymin") + d)
    val dx = col("rxmin") - col("sxmin")
    val dy = col("rymin") - col("symin")
    // widen-before-explode: the ε-box cover explode runs on the scan
    // partitioning (see widen's scaladoc)
    containmentCandidates(widen(r.toDF()), s.toDF(), grid, NoBuild,
      maxFineCover, outerHasWide = hasWide,
      outerHasNarrow = true, _ => Nil, innerIsR = false, outerRect = epsBox,
      pairCond = sqrt(dx * dx + dy * dy) <= d)
      .select(col("rid"), col("sid"))
  }
}
