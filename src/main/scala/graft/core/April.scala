package graft.core

/**
 * APRIL-style raster approximation: per object, two sorted interval lists
 * over a Hilbert-ordered 2^N × 2^N grid covering the dataspace —
 * A (ALL: cells the object touches) and F (FULL: cells fully covered by an
 * areal object). Joins of the interval lists give TRUE_HIT / TRUE_NEGATIVE /
 * INCONCLUSIVE verdicts so only inconclusive pairs reach exact refinement.
 *
 * Modeled on the reference's APRIL layer (/root/reference/Hecatoncheir/
 * src/APRIL/generate.cpp, join.cpp; config N=16, config_cluster.ini) but
 * re-derived: our lists are *conservative* (A is a superset of touched cells,
 * F a subset of covered cells), which preserves verdict soundness — final
 * results are decided by refinement either way, so engine output is
 * independent of rasterization details.
 *
 * Intervals are [start, end) pairs flattened into a Long array (Hilbert d for
 * N=16 needs 32 unsigned bits — Long avoids sign pitfalls).
 */
object April {

  val TRUE_NEGATIVE = 0
  val TRUE_HIT = 1
  val INCONCLUSIVE = 2

  final case class Approx(all: Array[Long], full: Array[Long])

  /**
   * Rasterize a geometry into (ALL, FULL) Hilbert interval lists.
   *
   * @param g geometry
   * @param xMin,yMin,xExtent,yExtent dataspace (padded) bounds/extents
   * @param order Hilbert order N (grid is 2^N per dimension)
   */
  def rasterize(g: Geom, xMin: Double, yMin: Double,
                xExtent: Double, yExtent: Double, order: Int): Approx = {
    val n = 1L << order
    val cellW = xExtent / n
    val cellH = yExtent / n
    @inline def cellX(x: Double): Long = clampCell(((x - xMin) / cellW).toLong, n)
    @inline def cellY(y: Double): Long = clampCell(((y - yMin) / cellH).toLong, n)

    g.gtype match {
      case GeomType.POINT =>
        val d = Hilbert.xy2d(n, cellX(g.coords(0)), cellY(g.coords(1)))
        Approx(Array(d, d + 1), Array.empty)

      case GeomType.LINESTRING =>
        val partial = walkEdgesPacked(g.coords, xMin, yMin, cellW, cellH, n)
        val hil = new Array[Long](partial.length)
        var i = 0
        while (i < partial.length) {
          hil(i) = Hilbert.xy2d(n, partial(i) % n, partial(i) / n); i += 1
        }
        Approx(cellsToIntervals(hil), Array.empty)

      case GeomType.BOX =>
        // closed form: a box's ALL cells are exactly its MBR's cell
        // rectangle, its FULL cells exactly the strict interior of that
        // rectangle (every interior cell center is inside the box) — emitted
        // as Hilbert intervals DIRECTLY via quadtree range decomposition,
        // O(output) instead of enumerating + sorting every covered cell.
        // Bit-identical to the generic polygon path on the same ring
        // (property-tested), just without touching 10⁶ cells for a wide box
        // at order 16.
        val m = g.mbr
        val cx0 = cellX(m.xmin); val cx1 = cellX(m.xmax)
        val cy0 = cellY(m.ymin); val cy1 = cellY(m.ymax)
        val all = Hilbert.rectIntervals(n, cx0, cy0, cx1, cy1)
        val full =
          if (cx1 - cx0 >= 2 && cy1 - cy0 >= 2)
            Hilbert.rectIntervals(n, cx0 + 1, cy0 + 1, cx1 - 1, cy1 - 1)
          else Array.emptyLongArray
        Approx(all, full)

      case _ => // POLYGON
        // edge cells packed row-major (y*n + x), sorted+deduped: cells of one
        // row are contiguous, so interior-gap classification is a linear scan
        // (no per-object maps or boxed tuples — this runs per row at
        // index-build time)
        val partial = walkEdgesPacked(g.coords, xMin, yMin, cellW, cellH, n)
        val fullB = scala.collection.mutable.ArrayBuilder.make[Long] // packed
        var i = 0
        while (i < partial.length - 1) {
          val cur = partial(i); val nxt = partial(i + 1)
          if (cur / n == nxt / n && nxt - cur > 1) {
            // classify the gap by a PiP test at the first gap cell's center
            val row = cur / n
            val gapStart = cur % n + 1
            val cxc = xMin + (gapStart + 0.5) * cellW
            val cyc = yMin + (row + 0.5) * cellH
            if (Topology.locate(cxc, cyc, g) == 0) { // IN
              var p = cur + 1
              while (p < nxt) { fullB += p; p += 1 }
            }
          }
          i += 1
        }
        val fullPacked = fullB.result()
        val allHil = new Array[Long](partial.length + fullPacked.length)
        i = 0
        while (i < partial.length) {
          allHil(i) = Hilbert.xy2d(n, partial(i) % n, partial(i) / n); i += 1
        }
        val fullHil = new Array[Long](fullPacked.length)
        var j = 0
        while (j < fullPacked.length) {
          val h = Hilbert.xy2d(n, fullPacked(j) % n, fullPacked(j) / n)
          fullHil(j) = h; allHil(partial.length + j) = h; j += 1
        }
        Approx(cellsToIntervals(allHil), cellsToIntervals(fullHil))
    }
  }

  @inline private def clampCell(v: Long, n: Long): Long =
    if (v < 0) 0 else if (v >= n) n - 1 else v

  /** Cells crossed by the polyline's edges (conservative supercover DDA),
    * packed row-major (y*n + x), sorted, deduplicated — primitive arrays
    * throughout, no boxing. */
  private def walkEdgesPacked(cs: Array[Double], xMin: Double, yMin: Double,
      cellW: Double, cellH: Double, n: Long): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    var i = 0
    while (i + 3 < cs.length) {
      supercover(cs(i), cs(i + 1), cs(i + 2), cs(i + 3), xMin, yMin, cellW, cellH, n, out)
      i += 2
    }
    val arr = out.result()
    java.util.Arrays.sort(arr)
    // in-place dedup
    var w = 0; var r = 0
    while (r < arr.length) {
      if (w == 0 || arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(arr, w)
  }

  /** Amanatides–Woo style grid traversal for one segment; conservative
    * (adds both neighbors when passing exactly through a corner). Emits
    * duplicates freely; the caller sorts + dedups once. */
  private def supercover(x0: Double, y0: Double, x1: Double, y1: Double,
      xMin: Double, yMin: Double, cellW: Double, cellH: Double, n: Long,
      out: scala.collection.mutable.ArrayBuilder[Long]): Unit = {
    var cx = clampCell(((x0 - xMin) / cellW).toLong, n)
    var cy = clampCell(((y0 - yMin) / cellH).toLong, n)
    val ex = clampCell(((x1 - xMin) / cellW).toLong, n)
    val ey = clampCell(((y1 - yMin) / cellH).toLong, n)
    out += cy * n + cx
    val dx = x1 - x0; val dy = y1 - y0
    val stepX = if (dx > 0) 1L else if (dx < 0) -1L else 0L
    val stepY = if (dy > 0) 1L else if (dy < 0) -1L else 0L
    var tMaxX =
      if (stepX > 0) ((xMin + (cx + 1) * cellW) - x0) / dx
      else if (stepX < 0) ((xMin + cx * cellW) - x0) / dx
      else Double.MaxValue
    var tMaxY =
      if (stepY > 0) ((yMin + (cy + 1) * cellH) - y0) / dy
      else if (stepY < 0) ((yMin + cy * cellH) - y0) / dy
      else Double.MaxValue
    val tDeltaX = if (stepX != 0) math.abs(cellW / dx) else Double.MaxValue
    val tDeltaY = if (stepY != 0) math.abs(cellH / dy) else Double.MaxValue
    var guard = 4 * (math.abs(ex - cx) + math.abs(ey - cy)) + 8
    while ((cx != ex || cy != ey) && guard > 0) {
      if (math.abs(tMaxX - tMaxY) < 1e-15) {
        // corner crossing: conservatively include both side cells
        out += cy * n + clampCell(cx + stepX, n)
        out += clampCell(cy + stepY, n) * n + cx
        cx = clampCell(cx + stepX, n); cy = clampCell(cy + stepY, n)
        tMaxX += tDeltaX; tMaxY += tDeltaY
      } else if (tMaxX < tMaxY) {
        cx = clampCell(cx + stepX, n); tMaxX += tDeltaX
      } else {
        cy = clampCell(cy + stepY, n); tMaxY += tDeltaY
      }
      out += cy * n + cx
      guard -= 1
    }
    out += ey * n + ex
  }

  /** Sorted distinct cell ids → flattened [start,end) interval list. */
  def cellsToIntervals(cells: Iterable[Long]): Array[Long] = {
    if (cells.isEmpty) return Array.empty
    val sorted = cells.toArray.sorted.distinct
    val buf = new scala.collection.mutable.ArrayBuffer[Long](16)
    var start = sorted(0)
    var prev = sorted(0)
    var i = 1
    while (i < sorted.length) {
      val c = sorted(i)
      if (c != prev + 1) {
        buf += start; buf += prev + 1
        start = c
      }
      prev = c
      i += 1
    }
    buf += start; buf += prev + 1
    buf.toArray
  }

  // ------------------------------------------------------- interval algebra

  /** Any overlap between two sorted [start,end) interval lists. */
  def intervalsOverlap(a: Array[Long], b: Array[Long]): Boolean = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val as = a(i); val ae = a(i + 1)
      val bs = b(j); val be = b(j + 1)
      if (as < be && bs < ae) return true
      if (ae <= bs) i += 2 else j += 2
    }
    false
  }

  /** Is every interval of `a` fully contained in the union of `b`? */
  def intervalsContained(a: Array[Long], b: Array[Long]): Boolean = {
    if (a.isEmpty) return true
    if (b.isEmpty) return false
    var i = 0; var j = 0
    while (i < a.length) {
      val as = a(i); val ae = a(i + 1)
      // advance b until b covers as
      while (j < b.length && b(j + 1) <= as) j += 2
      if (j >= b.length || b(j) > as || b(j + 1) < ae) return false
      i += 2
    }
    true
  }

  // ---------------------------------------------------------------- verdicts

  /** Verdict for a predicate from the two approximations (sound: HIT and
    * NEGATIVE are only returned when provable from the raster). */
  def verdict(pred: Int, r: Approx, s: Approx): Int = pred match {
    case Predicates.INTERSECTS =>
      if (!intervalsOverlap(r.all, s.all)) TRUE_NEGATIVE
      else if (intervalsOverlap(r.full, s.all) || intervalsOverlap(r.all, s.full)) TRUE_HIT
      else INCONCLUSIVE
    case Predicates.DISJOINT =>
      if (!intervalsOverlap(r.all, s.all)) TRUE_HIT
      else if (intervalsOverlap(r.full, s.all) || intervalsOverlap(r.all, s.full)) TRUE_NEGATIVE
      else INCONCLUSIVE
    case Predicates.INSIDE | Predicates.COVERED_BY =>
      if (!intervalsContained(r.all, s.all)) TRUE_NEGATIVE
      else if (intervalsContained(r.all, s.full)) TRUE_HIT
      else INCONCLUSIVE
    case Predicates.CONTAINS | Predicates.COVERS =>
      if (!intervalsContained(s.all, r.all)) TRUE_NEGATIVE
      else if (intervalsContained(s.all, r.full)) TRUE_HIT
      else INCONCLUSIVE
    case Predicates.EQUAL =>
      // Only the provably-order-independent negative: no A-overlap means the
      // geometries are disjoint, hence unequal. Mere A-list inequality is NOT
      // sound here (our rasterizer does not canonicalize ring orientation, so
      // a geometrically equal pair could raster to different lists near FP
      // corner ties) — those pairs go to exact refinement instead.
      if (!intervalsOverlap(r.all, s.all)) TRUE_NEGATIVE
      else INCONCLUSIVE
    case Predicates.MEET =>
      if (!intervalsOverlap(r.all, s.all)) TRUE_NEGATIVE
      else if (intervalsOverlap(r.full, s.all) || intervalsOverlap(r.all, s.full)) TRUE_NEGATIVE
      else INCONCLUSIVE
    case _ => INCONCLUSIVE
  }
}
