package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, Literal, QuaternaryExpression, QuinaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core._

/**
 * Static geometry kernels callable from whole-stage-generated Java — the
 * reference's fused filter→refine pipeline (src/APRIL/filter.cpp:296-303)
 * as native Catalyst expressions instead of Scala UDFs. A ScalaUDF pays
 * CatalystTypeConverters per row (array<double> → boxed Seq[Double]); these
 * expressions take the raw `ArrayData` and bulk-copy to primitive arrays.
 */
object GeoKernels {
  /** Deterministic star-polygon ring synthesis (closed, n = nBase + id%nMod
    * vertices, per-vertex radius jitter from a 97-cycle LCG-ish mix) — the
    * fixture generator for the polygon workloads, as a codegen kernel so
    * synthesizing 10⁵-10⁶ input polygons doesn't pay a per-row ScalaUDF. */
  def starPoly(id: Long, cx: Double, cy: Double, rad: Double,
               nBase: Int, nMod: Int, rBase: Double, rSpan: Double): ArrayData = {
    val n = nBase + (id % nMod).toInt
    val cs = new Array[Double](2 * (n + 1))
    var i = 0
    while (i < n) {
      val ang = 2 * math.Pi * i / n
      val rr = rad * (rBase + rSpan * (((id * 31 + i * 17) % 97) / 97.0))
      cs(2 * i) = cx + rr * math.cos(ang)
      cs(2 * i + 1) = cy + rr * math.sin(ang)
      i += 1
    }
    cs(2 * n) = cs(0); cs(2 * n + 1) = cs(1)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(cs)
  }

  def refine(pred: Int, rg: Int, rc: ArrayData, sg: Int, sc: ArrayData): Boolean =
    Topology.evalPredicate(pred,
      Geom(rg, rc.toDoubleArray()), Geom(sg, sc.toDoubleArray()))

  def findRelation(rg: Int, rc: ArrayData, sg: Int, sc: ArrayData): Int =
    Topology.findRelation(
      Geom(rg, rc.toDoubleArray()), Geom(sg, sc.toDoubleArray()))

  // ---- zero-copy interval algebra over ArrayData (round 6) --------------
  // Identical semantics to April.intervalsOverlap / intervalsContained /
  // verdict (AprilKernelParitySpec property-pins the equivalence): the
  // expression entry points were copying every candidate pair's interval
  // lists to fresh long[]s (toLongArray) before the merge scan — at ~10⁶
  // candidate pairs per query the per-pair copies dominated the APRIL
  // filter stage (measured 1.9 s vs 0.5 s exact-only on
  // q_find_relation_april at sf0.1).

  /** Index (in flat element units) of the first interval of `b` whose END
    * exceeds `s` — the only interval that can overlap/cover a probe starting
    * at `s` (intervals are sorted and disjoint). O(log n). */
  private def firstEndAbove(b: ArrayData, bn: Int, s: Long): Int = {
    var lo = 0; var hi = bn >>> 1 // interval count
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (b.getLong(2 * mid + 1) <= s) lo = mid + 1 else hi = mid
    }
    2 * lo
  }

  private[graft] def overlapAD(a: ArrayData, b: ArrayData): Boolean = {
    val an = a.numElements(); val bn = b.numElements()
    // single-interval probe (a point's A-list is one Hilbert cell): binary
    // search instead of the linear merge — O(log) per pair on the hot
    // point-probe joins
    if (an == 2) {
      val j = firstEndAbove(b, bn, a.getLong(0))
      return j < bn && b.getLong(j) < a.getLong(1)
    }
    if (bn == 2) {
      val i = firstEndAbove(a, an, b.getLong(0))
      return i < an && a.getLong(i) < b.getLong(1)
    }
    var i = 0; var j = 0
    while (i < an && j < bn) {
      val as = a.getLong(i); val ae = a.getLong(i + 1)
      val bs = b.getLong(j); val be = b.getLong(j + 1)
      if (as < be && bs < ae) return true
      if (ae <= bs) i += 2 else j += 2
    }
    false
  }

  /** Is every interval of `a` fully contained in the union of `b`? */
  private[graft] def containedAD(a: ArrayData, b: ArrayData): Boolean = {
    val an = a.numElements(); val bn = b.numElements()
    if (an == 0) return true
    if (bn == 0) return false
    if (bn == 2) // sorted a: containment is a two-endpoint check
      return a.getLong(0) >= b.getLong(0) && a.getLong(an - 1) <= b.getLong(1)
    if (an == 2) { // single probe interval: binary search its covering slot
      val as = a.getLong(0); val ae = a.getLong(1)
      val j = firstEndAbove(b, bn, as)
      return j < bn && b.getLong(j) <= as && b.getLong(j + 1) >= ae
    }
    var i = 0; var j = 0
    while (i < an) {
      val as = a.getLong(i); val ae = a.getLong(i + 1)
      while (j < bn && b.getLong(j + 1) <= as) j += 2
      if (j >= bn || b.getLong(j) > as || b.getLong(j + 1) < ae) return false
      i += 2
    }
    true
  }

  def aprilVerdict(pred: Int, ra: ArrayData, rf: ArrayData,
                   sa: ArrayData, sf: ArrayData): Int = pred match {
    // mirrors April.verdict case-for-case on the zero-copy ops
    case Predicates.INTERSECTS =>
      if (!overlapAD(ra, sa)) April.TRUE_NEGATIVE
      else if (overlapAD(rf, sa) || overlapAD(ra, sf)) April.TRUE_HIT
      else April.INCONCLUSIVE
    case Predicates.DISJOINT =>
      if (!overlapAD(ra, sa)) April.TRUE_HIT
      else if (overlapAD(rf, sa) || overlapAD(ra, sf)) April.TRUE_NEGATIVE
      else April.INCONCLUSIVE
    case Predicates.INSIDE | Predicates.COVERED_BY =>
      if (!containedAD(ra, sa)) April.TRUE_NEGATIVE
      else if (containedAD(ra, sf)) April.TRUE_HIT
      else April.INCONCLUSIVE
    case Predicates.CONTAINS | Predicates.COVERS =>
      if (!containedAD(sa, ra)) April.TRUE_NEGATIVE
      else if (containedAD(sa, rf)) April.TRUE_HIT
      else April.INCONCLUSIVE
    case Predicates.EQUAL =>
      if (!overlapAD(ra, sa)) April.TRUE_NEGATIVE
      else April.INCONCLUSIVE
    case Predicates.MEET =>
      if (!overlapAD(ra, sa)) April.TRUE_NEGATIVE
      else if (overlapAD(rf, sa) || overlapAD(ra, sf)) April.TRUE_NEGATIVE
      else April.INCONCLUSIVE
    case _ => April.INCONCLUSIVE
  }

  /** Hilbert cell id of a point — identical math to April.rasterize's POINT
    * case, so an inline-synthesized [cell, cell+1) A-list is bit-identical
    * to the rasterized one. */
  def pointCell(x: Double, y: Double, xMin: Double, yMin: Double,
                cellW: Double, cellH: Double, n: Long): Long = {
    @inline def clamp(v: Long): Long = if (v < 0) 0 else if (v >= n) n - 1 else v
    Hilbert.xy2d(n, clamp(((x - xMin) / cellW).toLong), clamp(((y - yMin) / cellH).toLong))
  }

  /** Rasterize a geometry into its (ALL, FULL) interval lists, returned as
    * an InternalRow of two long arrays (the struct the index build emits). */
  def rasterize(gtype: Int, coords: ArrayData, xMin: Double, yMin: Double,
                xExt: Double, yExt: Double, order: Int): InternalRow = {
    val a = April.rasterize(Geom(gtype, coords.toDoubleArray()),
      xMin, yMin, xExt, yExt, order)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a.all),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a.full)))
  }

  /** Clamped grid index — scalar twin of GeoEngine.clampIdx's Column chain
    * (`least(greatest(floor((v - lo)/ext), 0), ppd-1)`), bit-identical for
    * the non-null finite inputs the join paths feed it (Spark's FLOOR on a
    * double is `(long) Math.floor(x)`). */
  @inline private def clampIdxL(v: Double, lo: Double, ext: Double, ppd: Int): Long = {
    val i = math.floor((v - lo) / ext).toLong
    if (i < 0L) 0L else if (i > ppd - 1L) ppd - 1L else i
  }

  /** Level-aware reference-cell dedup for the merged multi-resolution
    * exchange: keep the pair only in the cell (at the tile's own level)
    * owning the MBR intersection's min corner — the one rule for both
    * physical joins (the hash join's `mergedRefDedup` and the plane sweep's
    * GeoEngine.sweepTile). Bit-identical for finite non-null inputs to the
    * Column chain `greatest` + clampIdx (on a NaN corner Spark's `greatest`
    * returns NaN, the scalar max here the other operand; both joins test
    * MBR overlap first, which drops such rows). One static call replacing a
    * ~1.2 KB inline chain of 4 clampIdx expressions + a CASE — the merged
    * join's doConsume method was 8.5 KB of bytecode, just past the JVM's
    * 8000-byte JIT ceiling (DontCompileHugeMethods), so the hottest join
    * stage ran INTERPRETED (measured 2.5× on q_find_relation_april). */
  def refCellDedup(tile: Long, axmin: Double, aymin: Double,
                   bxmin: Double, bymin: Double, grid: GridConfig,
                   lvlOffset: Long): Boolean = {
    val ix = if (axmin >= bxmin) axmin else bxmin
    val iy = if (aymin >= bymin) aymin else bymin
    import grid._
    if (tile >= lvlOffset)
      clampIdxL(ix, xMin, coarseExtX, coarsePpd) +
        clampIdxL(iy, yMin, coarseExtY, coarsePpd) * coarsePpd + lvlOffset == tile
    else
      clampIdxL(ix, xMin, fineExtX, globalPpd) +
        clampIdxL(iy, yMin, fineExtY, globalPpd) * globalPpd == tile
  }

  /** Fine-grid cover count of an MBR — scalar twin of the four-clampIdx
    * Column product (same clamped-floor arithmetic), for the merged
    * join's both-narrow level filter. Same JIT-ceiling motivation as
    * refCellDedup: 4 more inline clampIdx chains per side collapse to one
    * call. */
  def fineCoverCnt(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                   grid: GridConfig): Long = {
    val iMin = clampIdxL(xmin, grid.xMin, grid.fineExtX, grid.globalPpd)
    val iMax = clampIdxL(xmax, grid.xMin, grid.fineExtX, grid.globalPpd)
    val jMin = clampIdxL(ymin, grid.yMin, grid.fineExtY, grid.globalPpd)
    val jMax = clampIdxL(ymax, grid.yMin, grid.fineExtY, grid.globalPpd)
    (iMax - iMin + 1L) * (jMax - jMin + 1L)
  }

  /** One grid level's clamped cover of an MBR, level-tagged (cell
    * i + j·ppd + `tag`), j-major; a range counts down when its bounds are
    * inverted, as Spark's `sequence` does. A POINT takes the single cell of
    * its (xmin, ymin). */
  private def levelCover(point: Boolean, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double, xMin: Double, yMin: Double,
      extX: Double, extY: Double, ppd: Int, tag: Long): Array[Long] = {
    val i0 = clampIdxL(xmin, xMin, extX, ppd)
    val j0 = clampIdxL(ymin, yMin, extY, ppd)
    if (point) return Array(i0 + j0 * ppd + tag)
    val i1 = clampIdxL(xmax, xMin, extX, ppd)
    val j1 = clampIdxL(ymax, yMin, extY, ppd)
    val di = if (i1 >= i0) 1L else -1L
    val dj = if (j1 >= j0) 1L else -1L
    val ni = (math.abs(i1 - i0) + 1).toInt
    val nj = (math.abs(j1 - j0) + 1).toInt
    val out = new Array[Long](ni * nj)
    var b = 0
    while (b < nj) {
      val row = (j0 + b * dj) * ppd + tag
      var a = 0
      while (a < ni) { out(b * ni + a) = i0 + a * di + row; a += 1 }
      b += 1
    }
    out
  }

  /** A row's level-tagged tile cover for the merged exchange (see
    * GeoEngine.lvlTiles): empty when any MBR field is NaN; a wide row (fine
    * cover count > `maxFineCover`) emits its coarse cover iff `emitCWide`;
    * a narrow row its fine cover iff `emitF`, then its coarse cover iff
    * `emitCNarrow`. Coarse cells carry `lvlOffset`. */
  def lvlTiles(g: Int, xmin: Double, ymin: Double, xmax: Double, ymax: Double,
               grid: GridConfig, lvlOffset: Long, maxFineCover: Int,
               emitF: Boolean, emitCNarrow: Boolean,
               emitCWide: Boolean): ArrayData = {
    val point = g == GeomType.POINT
    def fine = levelCover(point, xmin, ymin, xmax, ymax, grid.xMin, grid.yMin,
      grid.fineExtX, grid.fineExtY, grid.globalPpd, 0L)
    def coarse = levelCover(point, xmin, ymin, xmax, ymax, grid.xMin, grid.yMin,
      grid.coarseExtX, grid.coarseExtY, grid.coarsePpd, lvlOffset)
    val tiles =
      if (xmin.isNaN || ymin.isNaN || xmax.isNaN || ymax.isNaN) Array.emptyLongArray
      else if (fineCoverCnt(xmin, ymin, xmax, ymax, grid) > maxFineCover)
        if (emitCWide) coarse else Array.emptyLongArray
      else if (emitF && emitCNarrow) Array.concat(fine, coarse)
      else if (emitF) fine
      else if (emitCNarrow) coarse
      else Array.emptyLongArray
    UnsafeArrayData.fromPrimitiveArray(tiles)
  }

  /** MBR (xmin, ymin, xmax, ymax) of a packed coordinate array
    * [x0, y0, x1, y1, …]: `array_min` / `array_max` over its even and odd
    * elements, bit for bit — a trailing odd element is ignored, null
    * elements are skipped (an axis with none left is null), NaN orders
    * above every number and the first of equal values is kept. */
  def coordsMbr(cc: ArrayData): InternalRow = {
    val out = new Array[Any](4)
    val n = cc.numElements() / 2
    var axis = 0
    while (axis < 2) {
      var lo = 0.0; var hi = 0.0; var seen = false
      var v = 0
      while (v < n) {
        val e = 2 * v + axis
        if (!cc.isNullAt(e)) {
          val d = cc.getDouble(e)
          if (!seen) { lo = d; hi = d; seen = true }
          else {
            if (SQLOrderingUtil.compareDoubles(d, lo) < 0) lo = d
            if (SQLOrderingUtil.compareDoubles(d, hi) > 0) hi = d
          }
        }
        v += 1
      }
      if (seen) { out(axis) = lo; out(axis + 2) = hi }
      axis += 1
    }
    new GenericInternalRow(out)
  }

  /** Boundary polygon of a hex cell as WKT (raster→vector materialization). */
  def hexCellWkt(cell: Long): UTF8String =
    UTF8String.fromString(Wkt.write(HexGrid.cellPolygon(cell)))

  /** APRIL topology (find-relation) intermediate filter; -1 = unresolved.
    * See GeoEngine.findRelationJoin for the soundness argument. Zero-copy
    * (round 6): interval scans run directly on the ArrayData — no per-pair
    * long[] materialization. */
  def aprilTopoRel(ra: ArrayData, rf: ArrayData, sa: ArrayData, sf: ArrayData,
                   mbrCase: Int): Int = {
    if (!overlapAD(ra, sa)) {
      if (mbrCase == 0) -1 else Topology.TR_DISJOINT
    } else if (containedAD(sa, rf)) Topology.TR_CONTAINS
    else if (containedAD(ra, sf)) Topology.TR_INSIDE
    else if (mbrCase == 3 &&
      (overlapAD(rf, sa) || overlapAD(ra, sf))) Topology.TR_INTERSECT
    else -1
  }
}

/** Exact predicate refinement: evalPredicate(pred, (rg, rc), (sg, sc)).
  * ExpectsInputTypes so SQL misuse (coords passed as gtype, int arrays, ...)
  * is an analysis-time error, not a runtime ClassCastException. */
case class STRefine(predId: Int, rg: Expression, rc: Expression,
                    sg: Expression, sc: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(IntegerType, ArrayType(DoubleType), IntegerType, ArrayType(DoubleType))
  override def first: Expression = rg
  override def second: Expression = rc
  override def third: Expression = sg
  override def fourth: Expression = sc
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_refine"
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoKernels.refine(predId, a.asInstanceOf[Int], b.asInstanceOf[ArrayData],
      c.asInstanceOf[Int], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.GeoKernels.refine($predId, $a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): STRefine =
    copy(rg = a, rc = b, sg = c, sc = d)
}

/** DE-9IM relation classifier with the reference's MBR-case routing. */
case class STFindRelation(rg: Expression, rc: Expression,
                          sg: Expression, sc: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(IntegerType, ArrayType(DoubleType), IntegerType, ArrayType(DoubleType))
  override def first: Expression = rg
  override def second: Expression = rc
  override def third: Expression = sg
  override def fourth: Expression = sc
  override def dataType: DataType = IntegerType
  override def prettyName: String = "st_find_relation"
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoKernels.findRelation(a.asInstanceOf[Int], b.asInstanceOf[ArrayData],
      c.asInstanceOf[Int], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.GeoKernels.findRelation($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): STFindRelation =
    copy(rg = a, rc = b, sg = c, sc = d)
}

/** APRIL predicate verdict over (ALL, FULL) interval-list columns. */
case class AprilVerdict(predId: Int, ra: Expression, rf: Expression,
                        sa: Expression, sf: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType), ArrayType(LongType), ArrayType(LongType))
  override def first: Expression = ra
  override def second: Expression = rf
  override def third: Expression = sa
  override def fourth: Expression = sf
  override def dataType: DataType = IntegerType
  override def prettyName: String = "april_verdict"
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoKernels.aprilVerdict(predId, a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.GeoKernels.aprilVerdict($predId, $a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): AprilVerdict =
    copy(ra = a, rf = b, sa = c, sf = d)
}

/** APRIL topology intermediate filter (find-relation); -1 = unresolved. */
case class AprilTopoRel(ra: Expression, rf: Expression, sa: Expression,
                        sf: Expression, mbrCase: Expression)
    extends QuinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType), ArrayType(LongType),
      ArrayType(LongType), IntegerType)
  override def children: Seq[Expression] = Seq(ra, rf, sa, sf, mbrCase)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "april_topo_rel"
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
    GeoKernels.aprilTopoRel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData], e.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d, e) =>
      s"graft.functions.GeoKernels.aprilTopoRel($a, $b, $c, $d, $e)")
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AprilTopoRel =
    copy(ra = newChildren(0), rf = newChildren(1), sa = newChildren(2),
      sf = newChildren(3), mbrCase = newChildren(4))
}

/** APRIL rasterization at index build: struct(all, full) interval lists. */
case class AprilRasterize(gtype: Expression, coords: Expression,
                          xMin: Double, yMin: Double,
                          xExt: Double, yExt: Double, order: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(IntegerType, ArrayType(DoubleType))
  override def left: Expression = gtype
  override def right: Expression = coords
  override def dataType: DataType = StructType(Seq(
    StructField("all", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("full", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "april_rasterize"
  override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernels.rasterize(a.asInstanceOf[Int], b.asInstanceOf[ArrayData],
      xMin, yMin, xExt, yExt, order)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.GeoKernels.rasterize($a, $b, ${xMin}D, ${yMin}D, " +
        s"${xExt}D, ${yExt}D, $order)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AprilRasterize =
    copy(gtype = newLeft, coords = newRight)
}

/** FNV-1a 64 over the string's UTF-16 chars — bit-identical to
  * TextOps.fnv64(String), as a codegen expression. Replaces the ScalaUDF in
  * the headline geotag/id path: no CatalystTypeConverters, no row wrapper —
  * one UTF8String→String decode per call inside whole-stage codegen. */
case class Fnv64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"
  override def nullSafeEval(s: Any): Any = graft.ops.TextOps.fnv64(s.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextOps.fnv64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): Fnv64 =
    copy(child = newChild)
}

/** H3-style hex cell id of a lon/lat point at a fixed resolution (codegen) —
  * replaces the per-row hexUdf in the tile-assignment path. */
case class HexCellOf(x: Expression, y: Expression, res: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  // pack() gives res a 5-bit field → [0, 31] is the representable range
  require(res >= 0 && res <= 31, s"hex_cell: res must be in [0, 31] (got $res)")
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = LongType
  override def prettyName: String = "hex_cell"
  override def nullSafeEval(a: Any, b: Any): Any =
    HexGrid.latLngToCell(a.asInstanceOf[Double], b.asInstanceOf[Double], res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.core.HexGrid.latLngToCell($a, $b, $res)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HexCellOf =
    copy(x = newLeft, y = newRight)
}

/** Random-hyperplane LSH signature of an embedding (codegen): the ANN
  * family's per-row hot kernel — raw ArrayData in, primitive float array,
  * no Seq boxing. The seed is a column so per-table salting
  * (seed + tableId) stays inside one whole-stage-codegen'd projection. */
case class LshSig(vec: Expression, seed: Expression, nBits: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  require(nBits > 0 && nBits <= 64, s"lsh_sig: nBits must be in [1, 64] (got $nBits)")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), LongType)
  override def left: Expression = vec
  override def right: Expression = seed
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sig"
  override def nullSafeEval(v: Any, s: Any): Any =
    graft.ops.Ann.lshSignatureArr(
      v.asInstanceOf[ArrayData].toFloatArray(), nBits, s.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) =>
      s"graft.ops.Ann.lshSignatureArr($v.toFloatArray(), $nBits, $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshSig =
    copy(vec = newLeft, seed = newRight)
}

/** Cosine similarity of two float-array embeddings (codegen). */
case class CosineSim(a: Expression, b: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def nullSafeEval(x: Any, y: Any): Any =
    graft.ops.Ann.cosineArr(x.asInstanceOf[ArrayData].toFloatArray(),
      y.asInstanceOf[ArrayData].toFloatArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.ops.Ann.cosineArr($x.toFloatArray(), $y.toFloatArray())")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(a = newLeft, b = newRight)
}

/** IVF cell assignment: nearest centroid by cosine (codegen). The centroid
  * matrix rides as a plan reference object — no broadcast-closure UDF, no
  * per-row Seq boxing over the full table. */
case class IvfAssign(vec: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def child: Expression = vec
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_assign"
  override def nullSafeEval(v: Any): Any =
    graft.ops.Ann.nearestCentroid(
      v.asInstanceOf[ArrayData].toFloatArray(), centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCentroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.ops.Ann.nearestCentroid($v.toFloatArray(), $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): IvfAssign =
    copy(vec = newChild)
}

/** kNN candidate tiles of a query point (codegen): ring expansion over the
  * broadcast per-tile histogram until ≥k points are covered, then every
  * tile within the derived kth-distance bound. Replaces the engine's last
  * ScalaUDF — the broadcast handle rides as a plan reference object, so the
  * histogram still ships once per executor, and the per-row call emits
  * ArrayData directly (no Seq boxing through CatalystTypeConverters).
  * Evaluated on the QUERY side only — rows bounded by the query batch, not
  * the data. */
case class KnnTiles(x: Expression, y: Expression, k: Int,
    grid: graft.core.GridConfig,
    counts: org.apache.spark.broadcast.Broadcast[Map[Long, Long]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  require(k > 0, s"knn_tiles: k must be > 0 (got $k)")
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "knn_tiles"
  @transient private lazy val total: Long = counts.value.valuesIterator.sum
  def evalTiles(qx: Double, qy: Double): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.GeoEngine.candidateKnnTiles(qx, qy, k, grid, counts.value, total).toArray)
  override def nullSafeEval(a: Any, b: Any): Any =
    evalTiles(a.asInstanceOf[Double], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("knnTiles", this, classOf[KnnTiles].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.evalTiles($a, $b)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KnnTiles =
    copy(x = newLeft, y = newRight)
}

/**
 * Column-level wrappers.
 *
 * A kernel is bound through Spark's `StaticInvoke` (`invoke` below): the
 * generated code calls the object's static forwarder, the interpreted path
 * calls it by reflection, and `explain` prints
 * `static_invoke(graft.functions.GeoKernels.<kernel>(…))`. An expression
 * keeps its own class only where `StaticInvoke` cannot give what it needs:
 *  - the 14 SQL functions that `GraftExtensions` registers, for their SQL
 *    names, their analysis-time type errors and their constructor checks
 *    (`STRefine` is also `SpatialJoinRewrite`'s anchor);
 *  - `AprilTopoRel` and `AprilRasterize`, which perfbench's
 *    `engine.april_exprs` counts by class name;
 *  - `KnnTiles` and `IvfAssign`, which carry a driver-side object.
 */
object GeoExprs {
  private def e(c: Column): Expression = GraftColumnBridge.expression(c)

  /** `kernel.fn(args…, consts…)` as one codegen call. Each argument column
    * is cast to its parameter type at analysis; the constants ride as
    * literals, a grid as one object literal (its nine fields as nine
    * literals measured slower to analyze and run). A null argument gives a
    * null result, so the output is nullable only where an argument is. */
  private def invoke(kernel: AnyRef, fn: String, dataType: DataType,
                     args: Seq[(Column, DataType)], consts: Any*): Column = {
    val lits = consts.map {
      case grid: GridConfig => Literal.fromObject(grid)
      case v => Literal(v)
    }
    GraftColumnBridge.column(StaticInvoke(kernel.getClass, dataType, fn,
      args.map(a => e(a._1)) ++ lits, args.map(_._2) ++ lits.map(_.dataType),
      returnNullable = false))
  }

  private def doubles(cs: Column*): Seq[(Column, DataType)] = cs.map(_ -> DoubleType)

  def stRefine(pred: Int, rg: Column, rc: Column, sg: Column, sc: Column): Column =
    GraftColumnBridge.column(STRefine(pred, e(rg), e(rc), e(sg), e(sc)))

  def stFindRelation(rg: Column, rc: Column, sg: Column, sc: Column): Column =
    GraftColumnBridge.column(STFindRelation(e(rg), e(rc), e(sg), e(sc)))

  def aprilVerdict(pred: Int, ra: Column, rf: Column, sa: Column, sf: Column): Column =
    GraftColumnBridge.column(AprilVerdict(pred, e(ra), e(rf), e(sa), e(sf)))

  def aprilTopoRel(ra: Column, rf: Column, sa: Column, sf: Column, mbrCase: Column): Column =
    GraftColumnBridge.column(AprilTopoRel(e(ra), e(rf), e(sa), e(sf), e(mbrCase)))

  /** GeoKernels.refCellDedup: the merged exchange's reference-cell dedup. */
  def mergedRefDedup(tile: Column, axmin: Column, aymin: Column,
                     bxmin: Column, bymin: Column,
                     grid: GridConfig, lvlOffset: Long): Column =
    invoke(GeoKernels, "refCellDedup", BooleanType,
      (tile -> LongType) +: doubles(axmin, aymin, bxmin, bymin), grid, lvlOffset)

  /** GeoKernels.fineCoverCnt: an MBR's fine-grid cover count. */
  def fineCoverCount(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                     grid: GridConfig): Column =
    invoke(GeoKernels, "fineCoverCnt", LongType, doubles(xmin, ymin, xmax, ymax), grid)

  /** GeoKernels.lvlTiles: a row's level-tagged tile cover, never null. A
    * null MBR field reads as NaN (no tiles), a null gtype as -1 (not a
    * POINT); numeric bounds of any type cover as their double values. */
  def lvlTiles(g: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column,
               grid: GridConfig, lvlOffset: Long, maxFineCover: Int,
               emitF: Boolean, emitCNarrow: Boolean, emitCWide: Boolean): Column =
    invoke(GeoKernels, "lvlTiles", ArrayType(LongType, containsNull = false),
      (coalesce(g, lit(-1)) -> IntegerType) +:
        doubles(Seq(xmin, ymin, xmax, ymax).map(coalesce(_, lit(Double.NaN))): _*),
      grid, lvlOffset, maxFineCover, emitF, emitCNarrow, emitCWide)

  /** GeoKernels.coordsMbr: struct(xmin, ymin, xmax, ymax) of packed coords. */
  def coordsMbr(coords: Column): Column =
    invoke(GeoKernels, "coordsMbr",
      StructType(Seq("xmin", "ymin", "xmax", "ymax").map(StructField(_, DoubleType))),
      Seq(coords -> ArrayType(DoubleType)))

  /** GeoKernels.pointCell: a point's Hilbert cell on the 2^order raster. */
  def hilbertCell(x: Column, y: Column, xMin: Double, yMin: Double,
                  xExtent: Double, yExtent: Double, order: Int): Column = {
    val n = 1L << order
    invoke(GeoKernels, "pointCell", LongType, doubles(x, y),
      xMin, yMin, xExtent / n, yExtent / n, n)
  }

  def aprilRasterize(gtype: Column, coords: Column, xMin: Double, yMin: Double,
                     xExt: Double, yExt: Double, order: Int): Column =
    GraftColumnBridge.column(AprilRasterize(e(gtype), e(coords),
      xMin, yMin, xExt, yExt, order))

  def fnv64(s: Column): Column = GraftColumnBridge.column(Fnv64(e(s)))

  /** Pages.urlUtf8: the synthetic page url of an id. */
  def pageUrl(id: Column): Column =
    invoke(graft.web.Pages, "urlUtf8", StringType, Seq(id -> LongType))

  /** Pages.textUtf8: the synthetic page text of an id. */
  def pageText(id: Column): Column =
    invoke(graft.web.Pages, "textUtf8", StringType, Seq(id -> LongType))

  /** Pages.langUtf8: the synthetic page language of an id. */
  private[graft] def pageLang(id: Column): Column =
    invoke(graft.web.Pages, "langUtf8", StringType, Seq(id -> LongType))

  /** Pages.warcMillis: the synthetic page crawl time of an id, epoch ms. */
  private[graft] def pageWarcMillis(id: Column): Column =
    invoke(graft.web.Pages, "warcMillis", LongType, Seq(id -> LongType))

  /** GeoKernels.starPoly: the star-polygon fixture ring of an id. */
  def starPoly(id: Column, cx: Column, cy: Column, rad: Column,
               nBase: Int, nMod: Int, rBase: Double, rSpan: Double): Column =
    invoke(GeoKernels, "starPoly", ArrayType(DoubleType, containsNull = false),
      (id -> LongType) +: doubles(cx, cy, rad), nBase, nMod, rBase, rSpan)

  def hexCellOf(x: Column, y: Column, res: Int): Column =
    GraftColumnBridge.column(HexCellOf(e(x), e(y), res))

  /** GeoKernels.hexCellWkt: a hex cell's boundary polygon as WKT. */
  def hexCellWkt(cell: Column): Column =
    invoke(GeoKernels, "hexCellWkt", StringType, Seq(cell -> LongType))

  def lshSig(vec: Column, seed: Column, nBits: Int): Column =
    GraftColumnBridge.column(LshSig(e(vec), e(seed), nBits))

  def cosineSim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSim(e(a), e(b)))

  def ivfAssign(vec: Column, centroids: Array[Array[Float]]): Column =
    GraftColumnBridge.column(IvfAssign(e(vec), centroids))

  def knnTiles(x: Column, y: Column, k: Int, grid: graft.core.GridConfig,
      counts: org.apache.spark.broadcast.Broadcast[Map[Long, Long]]): Column =
    GraftColumnBridge.column(KnnTiles(e(x), e(y), k, grid, counts))
}
