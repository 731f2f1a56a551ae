package graft.core

/**
 * Exact geometry predicates via a boolean DE-9IM intersection matrix,
 * computed from scratch (no Boost/JTS) with a boundary-arrangement method.
 *
 * The reference evaluates every predicate through DE-9IM masks whose entries
 * only distinguish F from non-F (/root/reference/Hecatoncheir/src/refinement/
 * topology.cpp:10-29 with the comparator at :73-95), so a *boolean* matrix is
 * sufficient for bit-exact predicate parity. Mask bit layout here:
 * bit 0=II, 1=IB, 2=IE, 3=BI, 4=BB, 5=BE, 6=EI, 7=EB, 8=EE.
 *
 * Find-relation classification reproduces the reference's MBR-case routing
 * (src/TwoLayer/topology_join_filter.cpp:38-113 — note its MBR_CROSS branches
 * are unreachable: the `d_ymin < 0` test contradicts the enclosing else) and
 * the covers→CONTAINS / covered_by→INSIDE canonicalization
 * (src/refinement/topology.cpp:199-234).
 */
object Topology {

  /** Geometric tolerance for on-boundary tests (absolute distance). */
  val Tol = 1e-9

  // DE-9IM bit masks
  val II = 1 << 0; val IB = 1 << 1; val IE = 1 << 2
  val BI = 1 << 3; val BB = 1 << 4; val BE = 1 << 5
  val EI = 1 << 6; val EB = 1 << 7; val EE = 1 << 8

  // Topology relation codes, matching the reference's TR_* enum order
  // (include/def.h:171-177 via API/def.h).
  val TR_DISJOINT = 0; val TR_INTERSECT = 1; val TR_INSIDE = 2; val TR_CONTAINS = 3
  val TR_COVERED_BY = 4; val TR_COVERS = 5; val TR_EQUAL = 6; val TR_MEET = 7

  // ---------------------------------------------------------------- predicates

  def intersects(a: Geom, b: Geom): Boolean = {
    if (!a.mbr.intersects(b.mbr)) return false
    // fast paths for points
    if (a.isPoint && b.isPoint)
      return a.coords(0) == b.coords(0) && a.coords(1) == b.coords(1)
    if (a.isPoint) return locate(a.coords(0), a.coords(1), b) != OUT
    if (b.isPoint) return locate(b.coords(0), b.coords(1), a) != OUT
    val m = relate(a, b)
    (m & (II | IB | BI | BB)) != 0
  }

  def disjoint(a: Geom, b: Geom): Boolean = !intersects(a, b)

  /** a within b (interiors intersect, a nowhere in b's exterior). */
  def inside(a: Geom, b: Geom): Boolean = {
    val m = relate(a, b)
    (m & II) != 0 && (m & IE) == 0 && (m & BE) == 0
  }

  def contains(a: Geom, b: Geom): Boolean = inside(b, a)

  /** a covered by b (a ⊆ closure(b)). */
  def coveredBy(a: Geom, b: Geom): Boolean = {
    val m = relate(a, b)
    (m & (II | IB | BI | BB)) != 0 && (m & IE) == 0 && (m & BE) == 0
  }

  def covers(a: Geom, b: Geom): Boolean = coveredBy(b, a)

  def equalsGeom(a: Geom, b: Geom): Boolean = {
    val m = relate(a, b)
    (m & II) != 0 && (m & (IE | BE | EI | EB)) == 0
  }

  /** touch/meet: boundaries interact, interiors do not. */
  def meets(a: Geom, b: Geom): Boolean = {
    val m = relate(a, b)
    (m & II) == 0 && (m & (IB | BI | BB)) != 0
  }

  def evalPredicate(pred: Int, a: Geom, b: Geom): Boolean = pred match {
    case Predicates.INTERSECTS => intersects(a, b)
    case Predicates.INSIDE => inside(a, b)
    case Predicates.DISJOINT => disjoint(a, b)
    case Predicates.EQUAL => equalsGeom(a, b)
    case Predicates.MEET => meets(a, b)
    case Predicates.CONTAINS => contains(a, b)
    case Predicates.COVERS => covers(a, b)
    case Predicates.COVERED_BY => coveredBy(a, b)
  }

  // ------------------------------------------------------------ find-relation

  /** EPS used by the reference's MBR-equality test (def.h:38). */
  private val MbrEps = 1e-8

  /** Classify a candidate pair into a TR_* relation following the reference's
    * MBR-case routing + per-case refine priority. */
  def findRelation(a: Geom, b: Geom): Int = {
    val mR = a.mbr; val mS = b.mbr
    val dxmin = mR.xmin - mS.xmin; val dymin = mR.ymin - mS.ymin
    val dxmax = mR.xmax - mS.xmax; val dymax = mR.ymax - mS.ymax
    val m = relate(a, b)
    if (math.abs(dxmin) < MbrEps && math.abs(dxmax) < MbrEps &&
        math.abs(dymin) < MbrEps && math.abs(dymax) < MbrEps) {
      // MBR_EQUAL: equal → covers→CONTAINS → coveredby→INSIDE → intersect
      if (maskEqual(m)) TR_EQUAL
      else if (maskCovers(m)) TR_CONTAINS
      else if (maskCoveredBy(m)) TR_INSIDE
      else TR_INTERSECT
    } else if (dxmin <= 0 && dxmax >= 0 && dymin <= 0 && dymax >= 0) {
      // MBR_S_IN_R: disjoint → covers(→contains) → meet → intersect
      if (maskDisjoint(m)) TR_DISJOINT
      else if (maskCovers(m)) { if (maskContains(m)) TR_CONTAINS else TR_COVERS }
      else if (maskMeet(m)) TR_MEET
      else TR_INTERSECT
    } else if (dxmin >= 0 && dxmax <= 0 && dymin >= 0 && dymax <= 0) {
      // MBR_R_IN_S: disjoint → coveredby(→inside) → meet → intersect
      if (maskDisjoint(m)) TR_DISJOINT
      else if (maskCoveredBy(m)) { if (maskInside(m)) TR_INSIDE else TR_COVERED_BY }
      else if (maskMeet(m)) TR_MEET
      else TR_INTERSECT
    } else {
      // MBR_INTERSECT: disjoint → meet → intersect
      if (maskDisjoint(m)) TR_DISJOINT
      else if (maskMeet(m)) TR_MEET
      else TR_INTERSECT
    }
  }

  @inline private def maskDisjoint(m: Int) = (m & (II | IB | BI | BB)) == 0
  @inline private def maskMeet(m: Int) = (m & II) == 0 && (m & (IB | BI | BB)) != 0
  @inline private def maskInside(m: Int) = (m & II) != 0 && (m & (IE | BE)) == 0
  @inline private def maskCoveredBy(m: Int) = (m & (II | IB | BI | BB)) != 0 && (m & (IE | BE)) == 0
  @inline private def maskContains(m: Int) = (m & II) != 0 && (m & (EI | EB)) == 0
  @inline private def maskCovers(m: Int) = (m & (II | IB | BI | BB)) != 0 && (m & (EI | EB)) == 0
  @inline private def maskEqual(m: Int) = (m & II) != 0 && (m & (IE | BE | EI | EB)) == 0

  // ---------------------------------------------------------------- distances

  /** Euclidean distance between geometries (0 when they intersect).
    * Points use the closed form; others use boundary distances. */
  def distance(a: Geom, b: Geom): Double = {
    if (a.isPoint && b.isPoint) {
      val dx = a.coords(0) - b.coords(0); val dy = a.coords(1) - b.coords(1)
      return math.sqrt(dx * dx + dy * dy)
    }
    if (intersects(a, b)) return 0.0
    var best = Double.MaxValue
    if (a.isPoint) {
      best = distPointToBoundary(a.coords(0), a.coords(1), b)
    } else if (b.isPoint) {
      best = distPointToBoundary(b.coords(0), b.coords(1), a)
    } else {
      // min over segment pairs
      val ca = a.coords; val cb = b.coords
      var i = 0
      while (i + 3 < ca.length) {
        var j = 0
        while (j + 3 < cb.length) {
          val d = segSegDistance(ca(i), ca(i + 1), ca(i + 2), ca(i + 3),
                                 cb(j), cb(j + 1), cb(j + 2), cb(j + 3))
          if (d < best) best = d
          j += 2
        }
        i += 2
      }
    }
    best
  }

  private def distPointToBoundary(px: Double, py: Double, g: Geom): Double = {
    val cs = g.coords
    var best = Double.MaxValue
    if (g.isPoint) {
      val dx = px - cs(0); val dy = py - cs(1)
      return math.sqrt(dx * dx + dy * dy)
    }
    var i = 0
    while (i + 3 < cs.length) {
      val d = pointSegDistance(px, py, cs(i), cs(i + 1), cs(i + 2), cs(i + 3))
      if (d < best) best = d
      i += 2
    }
    best
  }

  // =======================================================================
  // Boolean DE-9IM computation
  // =======================================================================

  // point-location results
  private val IN = 0; private val BOUND = 1; private val OUT = 2

  /** Locate a point relative to a geometry: IN (interior), BOUND, OUT. */
  def locate(px: Double, py: Double, g: Geom): Int = g.gtype match {
    case GeomType.POINT =>
      if (px == g.coords(0) && py == g.coords(1)) IN else OUT
    case GeomType.LINESTRING =>
      val cs = g.coords; val n = cs.length
      // boundary = endpoints
      if ((near(px, py, cs(0), cs(1))) || near(px, py, cs(n - 2), cs(n - 1))) {
        // closed linestrings have no boundary (mod-2 rule)
        val closed = cs(0) == cs(n - 2) && cs(1) == cs(n - 1)
        if (closed) IN else BOUND
      } else if (onAnySegment(px, py, cs)) IN
      else OUT
    case _ => // POLYGON / BOX: ring
      if (onAnySegment(px, py, g.coords)) BOUND
      else if (rayCastInside(px, py, g.coords)) IN
      else OUT
  }

  @inline private def near(ax: Double, ay: Double, bx: Double, by: Double): Boolean = {
    val dx = ax - bx; val dy = ay - by
    dx * dx + dy * dy <= Tol * Tol
  }

  private def onAnySegment(px: Double, py: Double, cs: Array[Double]): Boolean = {
    var i = 0
    while (i + 3 < cs.length) {
      if (pointSegDistance2(px, py, cs(i), cs(i + 1), cs(i + 2), cs(i + 3)) <= Tol2)
        return true
      i += 2
    }
    false
  }

  /** Even-odd ray casting (half-open rule; boundary handled separately). */
  private def rayCastInside(px: Double, py: Double, ring: Array[Double]): Boolean = {
    var inside = false
    var i = 0
    val n = ring.length
    while (i + 3 < n) {
      val xi = ring(i); val yi = ring(i + 1)
      val xj = ring(i + 2); val yj = ring(i + 3)
      if ((yi > py) != (yj > py)) {
        val xCross = (xj - xi) * (py - yi) / (yj - yi) + xi
        if (px < xCross) inside = !inside
      }
      i += 2
    }
    inside
  }

  @inline private def pointSegDistance2(px: Double, py: Double,
      ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t =
      if (len2 <= 0) 0.0
      else math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
    val qx = ax + t * dx; val qy = ay + t * dy
    val ddx = px - qx; val ddy = py - qy
    ddx * ddx + ddy * ddy
  }

  private val Tol2 = Tol * Tol

  @inline private def pointSegDistance(px: Double, py: Double,
      ax: Double, ay: Double, bx: Double, by: Double): Double =
    math.sqrt(pointSegDistance2(px, py, ax, ay, bx, by))

  private def segSegDistance(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Double = {
    if (segmentsIntersect(ax, ay, bx, by, cx, cy, dx, dy)) 0.0
    else math.min(
      math.min(pointSegDistance(ax, ay, cx, cy, dx, dy), pointSegDistance(bx, by, cx, cy, dx, dy)),
      math.min(pointSegDistance(cx, cy, ax, ay, bx, by), pointSegDistance(dx, dy, ax, ay, bx, by)))
  }

  @inline private def cross(ox: Double, oy: Double, ax: Double, ay: Double,
      bx: Double, by: Double): Double =
    (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

  private def segmentsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    val d1 = cross(cx, cy, dx, dy, ax, ay)
    val d2 = cross(cx, cy, dx, dy, bx, by)
    val d3 = cross(ax, ay, bx, by, cx, cy)
    val d4 = cross(ax, ay, bx, by, dx, dy)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) return true
    (pointSegDistance2(ax, ay, cx, cy, dx, dy) <= Tol2) ||
      (pointSegDistance2(bx, by, cx, cy, dx, dy) <= Tol2) ||
      (pointSegDistance2(cx, cy, ax, ay, bx, by) <= Tol2) ||
      (pointSegDistance2(dx, dy, ax, ay, bx, by) <= Tol2)
  }

  /** Compute the boolean DE-9IM matrix for (a, b). */
  def relate(a: Geom, b: Geom): Int = {
    var m = EE
    (a.gtype, b.gtype) match {
      case (GeomType.POINT, _) => m |= relatePointOther(a, b, transposed = false)
      case (_, GeomType.POINT) => m |= relatePointOther(b, a, transposed = true)
      case _ => m |= relateCurves(a, b)
    }
    m
  }

  /** point vs any; if transposed, flip rows/cols at the end. */
  private def relatePointOther(p: Geom, g: Geom, transposed: Boolean): Int = {
    var m = 0
    if (g.isPoint) {
      if (p.coords(0) == g.coords(0) && p.coords(1) == g.coords(1)) m |= II
      else m |= IE | EI
    } else {
      locate(p.coords(0), p.coords(1), g) match {
        case IN => m |= II
        case BOUND => m |= IB
        case OUT => m |= IE
      }
      // g (1D/2D) always has interior outside a point, and a boundary
      m |= EI
      if (g.isAreal || hasBoundary(g)) m |= EB
    }
    if (transposed) transpose(m) else m
  }

  private def hasBoundary(g: Geom): Boolean = {
    if (!g.isLine) return g.isAreal
    val cs = g.coords; val n = cs.length
    !(cs(0) == cs(n - 2) && cs(1) == cs(n - 1))
  }

  private def transpose(m: Int): Int = {
    var t = 0
    if ((m & II) != 0) t |= II
    if ((m & IB) != 0) t |= BI
    if ((m & IE) != 0) t |= EI
    if ((m & BI) != 0) t |= IB
    if ((m & BB) != 0) t |= BB
    if ((m & BE) != 0) t |= EB
    if ((m & EI) != 0) t |= IE
    if ((m & EB) != 0) t |= BE
    t
  }

  /** DE-9IM for line/areal × line/areal via boundary arrangement. */
  private def relateCurves(a: Geom, b: Geom): Int = {
    var m = 0
    val aAreal = a.isAreal; val bAreal = b.isAreal

    // 1. isolated contact points between the two drawn curves: classify each
    //    representative point as interior/boundary of each geometry and set
    //    the matching entry (covers line×line crossings → II, ring×ring
    //    touches → BB, line-through-ring crossings → IB/BI, ...).
    m |= contactPointsContribution(a, b)

    // 2. fragments of a's curve vs b
    m |= fragmentsContribution(a, b, rowsFromA = true)
    // 3. fragments of b's curve vs a
    m |= fragmentsContribution(b, a, rowsFromA = false)

    // 4. endpoint (boundary) handling for linestrings
    if (a.isLine && hasBoundary(a)) {
      val cs = a.coords; val n = cs.length
      m |= endpointContribution(cs(0), cs(1), b, rowsFromA = true)
      m |= endpointContribution(cs(n - 2), cs(n - 1), b, rowsFromA = true)
    }
    if (b.isLine && hasBoundary(b)) {
      val cs = b.coords; val n = cs.length
      m |= endpointContribution(cs(0), cs(1), a, rowsFromA = false)
      m |= endpointContribution(cs(n - 2), cs(n - 1), a, rowsFromA = false)
    }

    // 5. dimensional constants
    if (aAreal && !bAreal) m |= IE // 2D interior can't be covered by a 1D set
    if (bAreal && !aAreal) m |= EI
    if (a.isLine && bAreal) m |= EB // line can't cover an areal boundary fully*
    if (b.isLine && aAreal) m |= BE
    // *a line could in principle cover a tiny ring boundary; ignored —
    //  not exercised by the reference's data model semantics.
    m
  }

  /** Classify every isolated contact point of the two drawn curves. */
  private def contactPointsContribution(a: Geom, b: Geom): Int = {
    var m = 0
    val ca = a.coords; val cb = b.coords
    var i = 0
    while (i + 3 < ca.length) {
      val ax = ca(i); val ay = ca(i + 1); val bx = ca(i + 2); val by = ca(i + 3)
      var j = 0
      while (j + 3 < cb.length) {
        val cx = cb(j); val cy = cb(j + 1); val dx = cb(j + 2); val dy = cb(j + 3)
        val d1 = cross(cx, cy, dx, dy, ax, ay)
        val d2 = cross(cx, cy, dx, dy, bx, by)
        val d3 = cross(ax, ay, bx, by, cx, cy)
        val d4 = cross(ax, ay, bx, by, dx, dy)
        if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
            ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) {
          // proper crossing: intersection point
          val denom = (bx - ax) * (dy - cy) - (by - ay) * (dx - cx)
          val tt = ((cx - ax) * (dy - cy) - (cy - ay) * (dx - cx)) / denom
          val px = ax + tt * (bx - ax); val py = ay + tt * (by - ay)
          m |= contactEntry(px, py, a, b)
        } else {
          // touch / collinear: endpoints lying on the other segment
          if (pointSegDistance2(ax, ay, cx, cy, dx, dy) <= Tol2) m |= contactEntry(ax, ay, a, b)
          if (pointSegDistance2(bx, by, cx, cy, dx, dy) <= Tol2) m |= contactEntry(bx, by, a, b)
          if (pointSegDistance2(cx, cy, ax, ay, bx, by) <= Tol2) m |= contactEntry(cx, cy, a, b)
          if (pointSegDistance2(dx, dy, ax, ay, bx, by) <= Tol2) m |= contactEntry(dx, dy, a, b)
        }
        j += 2
      }
      i += 2
    }
    m
  }

  /** DE-9IM entry for a single contact point on both drawn curves. */
  private def contactEntry(px: Double, py: Double, a: Geom, b: Geom): Int = {
    val rowBoundary = a.isAreal || isLineEndpoint(px, py, a)
    val colBoundary = b.isAreal || isLineEndpoint(px, py, b)
    (rowBoundary, colBoundary) match {
      case (true, true) => BB
      case (true, false) => BI
      case (false, true) => IB
      case (false, false) => II
    }
  }

  private def isLineEndpoint(px: Double, py: Double, g: Geom): Boolean = {
    if (!g.isLine || !hasBoundary(g)) return false
    val cs = g.coords; val n = cs.length
    near(px, py, cs(0), cs(1)) || near(px, py, cs(n - 2), cs(n - 1))
  }

  /**
   * Contribution of the fragments of `g`'s drawn curve (ring or polyline),
   * split at every intersection with `other`'s curve, to the DE-9IM matrix.
   * `rowsFromA` selects whether `g` fills the rows (g==a) or columns (g==b).
   */
  private def fragmentsContribution(g: Geom, other: Geom, rowsFromA: Boolean): Int = {
    var m = 0
    val cs = g.coords
    val co = other.coords
    val gAreal = g.isAreal
    val oAreal = other.isAreal
    val gCcw = if (gAreal) g.signedArea2 > 0 else false
    val oCcw = if (oAreal) other.signedArea2 > 0 else false

    var i = 0
    while (i + 3 < cs.length) {
      val ax = cs(i); val ay = cs(i + 1); val bx = cs(i + 2); val by = cs(i + 3)
      // collect split params on [0,1]
      val ts = collectSplitParams(ax, ay, bx, by, co)
      var f = 0
      while (f < ts.length - 1) {
        val t0 = ts(f); val t1 = ts(f + 1)
        if (t1 - t0 > 1e-12) {
          val mx = ax + (t0 + t1) * 0.5 * (bx - ax)
          val my = ay + (t0 + t1) * 0.5 * (by - ay)
          val loc = locate(mx, my, other)
          if (gAreal && oAreal) {
            loc match {
              case IN => m |= orient9(BI | II | EI, rowsFromA)
              case OUT => m |= orient9(BE | IE, rowsFromA)
              case BOUND =>
                m |= BB
                // side analysis: interiors on the same side of the shared
                // edge → II; opposite sides → each interior meets the
                // other's exterior (IE and EI are symmetric here).
                if (sameInteriorSide(ax, ay, bx, by, gCcw, co, oCcw, mx, my))
                  m |= II
                else m |= IE | EI
            }
          } else if (!gAreal && oAreal) {
            // g is a line: fragment of its interior vs areal other
            loc match {
              case IN => m |= orient9(II, rowsFromA)
              case BOUND => m |= orient9(IB, rowsFromA)
              case OUT => m |= orient9(IE, rowsFromA)
            }
          } else if (gAreal && !oAreal) {
            // ring fragment of areal g vs line other
            loc match {
              case IN => m |= orient9(BI, rowsFromA)
              case BOUND => m |= orient9(BB, rowsFromA)
              case OUT => m |= orient9(BE, rowsFromA)
            }
            // areal interior next to the fragment vs the 1D other:
            // only OUT is informative (IE set as a dimensional constant).
          } else {
            // line vs line
            loc match {
              case IN => m |= II
              case BOUND => m |= orient9(IB, rowsFromA)
              case OUT => m |= orient9(IE, rowsFromA)
            }
          }
        }
        f += 1
      }
      i += 2
    }
    m
  }

  /** Orient a row-based mask: identity when g fills rows, transpose otherwise. */
  @inline private def orient9(m: Int, rowsFromA: Boolean): Int =
    if (rowsFromA) m else transpose(m)

  /** For a fragment of g's ring lying ON other's ring: true iff the two
    * interiors are locally on the same side of the shared line. */
  private def sameInteriorSide(ax: Double, ay: Double, bx: Double, by: Double,
      gCcw: Boolean, co: Array[Double], oCcw: Boolean,
      mx: Double, my: Double): Boolean = {
    // find other's segment containing (mx,my)
    var j = 0
    while (j + 3 < co.length) {
      if (pointSegDistance2(mx, my, co(j), co(j + 1), co(j + 2), co(j + 3)) <= Tol2) {
        val sameDir = (bx - ax) * (co(j + 2) - co(j)) + (by - ay) * (co(j + 3) - co(j + 1)) > 0
        // interior of a CCW ring is to the LEFT of its directed edges
        val gLeft = gCcw
        val oLeftOnG = if (sameDir) oCcw else !oCcw
        return gLeft == oLeftOnG
      }
      j += 2
    }
    // shouldn't happen (midpoint was located BOUND); be conservative
    true
  }

  /** Split parameters of segment (a,b) against all segments of `co`. */
  private def collectSplitParams(ax: Double, ay: Double, bx: Double, by: Double,
      co: Array[Double]): Array[Double] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Double](8)
    buf += 0.0; buf += 1.0
    val rx = bx - ax; val ry = by - ay
    val rlen2 = rx * rx + ry * ry
    var j = 0
    while (j + 3 < co.length) {
      val cx = co(j); val cy = co(j + 1); val dx = co(j + 2); val dy = co(j + 3)
      val sx = dx - cx; val sy = dy - cy
      val denom = rx * sy - ry * sx
      val scale = math.sqrt(rlen2) * math.sqrt(sx * sx + sy * sy)
      if (math.abs(denom) > 1e-12 * math.max(scale, 1e-300)) {
        val t = ((cx - ax) * sy - (cy - ay) * sx) / denom
        val u = ((cx - ax) * ry - (cy - ay) * rx) / denom
        if (t > 0 && t < 1 && u >= -1e-12 && u <= 1 + 1e-12) buf += t
      } else if (rlen2 > 0 &&
                 (pointSegDistance2(cx, cy, ax, ay, bx, by) <= Tol2 ||
                  pointSegDistance2(dx, dy, ax, ay, bx, by) <= Tol2 ||
                  pointSegDistance2(ax, ay, cx, cy, dx, dy) <= Tol2)) {
        // parallel + collinear overlap: split at the projections of c and d
        val tc = ((cx - ax) * rx + (cy - ay) * ry) / rlen2
        val td = ((dx - ax) * rx + (dy - ay) * ry) / rlen2
        if (tc > 0 && tc < 1) buf += tc
        if (td > 0 && td < 1) buf += td
      }
      j += 2
    }
    val arr = buf.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** Contribution of a linestring endpoint (its boundary) vs `other`. */
  private def endpointContribution(px: Double, py: Double, other: Geom,
      rowsFromA: Boolean): Int = {
    val loc = locate(px, py, other)
    val rowMask = loc match {
      case IN => BI
      case BOUND => BB
      case OUT => BE
    }
    orient9(rowMask, rowsFromA)
  }
}

/** Spatial join predicate codes, mirroring the reference's query types
  * (API/def.h:17-31). */
object Predicates {
  val INTERSECTS = 0; val INSIDE = 1; val DISJOINT = 2; val EQUAL = 3
  val MEET = 4; val CONTAINS = 5; val COVERS = 6; val COVERED_BY = 7
  val FIND_RELATION = 8

  def name(p: Int): String = p match {
    case INTERSECTS => "intersects"; case INSIDE => "inside"
    case DISJOINT => "disjoint"; case EQUAL => "equal"
    case MEET => "meet"; case CONTAINS => "contains"
    case COVERS => "covers"; case COVERED_BY => "covered_by"
    case FIND_RELATION => "find_relation"; case _ => s"?$p"
  }
}
