package graft.core

/**
 * H3-style hierarchical hexagonal index, implemented natively (no H3 jar is
 * available offline; exactness for join parity is defined by the reference's
 * rectangular two-grid — see SURVEY.md §7.4 — so this hex index is the
 * API-surface analogue used by [[graft.TileAssignment]], not the parity key).
 *
 * Pointy-top hexagonal lattice in lon/lat plane-coordinates using axial
 * coordinates (q, r); resolution res scales the cell size by 2^res from a
 * base hex width of 45 degrees (res 0) down. Cell id packs
 * (res:5 | q+2^28:29 | r+2^28:29) into a positive Long.
 *
 * A companion S2-style fallback index (Hilbert order on a square grid) is
 * exposed as `s2LikeCell`, reusing [[Hilbert]].
 */
object HexGrid {

  private val Offset = 1L << 28

  /** Hex circumradius (center→vertex) at a resolution, in degrees. */
  def size(res: Int): Double = 45.0 / (1L << res)

  /** Encode a lon/lat point to the hex cell at `res`. */
  def latLngToCell(lon: Double, lat: Double, res: Int): Long = {
    val s = size(res)
    // axial coords of a pointy-top hex grid (fractional)
    val qf = (math.sqrt(3.0) / 3.0 * lon - 1.0 / 3.0 * lat) / s
    val rf = (2.0 / 3.0 * lat) / s
    val (q, r) = hexRound(qf, rf)
    pack(res, q, r)
  }

  /** Cube-coordinate rounding for fractional axial coords. */
  private def hexRound(qf: Double, rf: Double): (Long, Long) = {
    val xf = qf; val zf = rf; val yf = -xf - zf
    var rx = math.round(xf); var ry = math.round(yf); var rz = math.round(zf)
    val dx = math.abs(rx - xf); val dy = math.abs(ry - yf); val dz = math.abs(rz - zf)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dy > dz) ry = -rx - rz
    else rz = -rx - ry
    (rx, rz)
  }

  @inline def pack(res: Int, q: Long, r: Long): Long =
    (res.toLong << 58) | ((q + Offset) << 29) | (r + Offset)

  @inline def resOf(cell: Long): Int = (cell >>> 58).toInt
  @inline def qOf(cell: Long): Long = ((cell >> 29) & ((1L << 29) - 1)) - Offset
  @inline def rOf(cell: Long): Long = (cell & ((1L << 29) - 1)) - Offset

  /** Center of a cell in lon/lat. */
  def cellCenter(cell: Long): (Double, Double) = {
    val res = resOf(cell); val q = qOf(cell); val r = rOf(cell)
    val s = size(res)
    val lon = s * (math.sqrt(3.0) * q + math.sqrt(3.0) / 2.0 * r)
    val lat = s * (3.0 / 2.0 * r)
    (lon, lat)
  }

  /** The 6 boundary vertices (lon/lat) — vector materialization of a cell. */
  def cellBoundary(cell: Long): Array[Double] = {
    val (cx, cy) = cellCenter(cell)
    val s = size(resOf(cell))
    val out = new Array[Double](12)
    var k = 0
    while (k < 6) {
      val ang = math.Pi / 180.0 * (60.0 * k - 30.0)
      out(2 * k) = cx + s * math.cos(ang)
      out(2 * k + 1) = cy + s * math.sin(ang)
      k += 1
    }
    out
  }

  /** Polygon geometry of a cell (closed ring). */
  def cellPolygon(cell: Long): Geom = Geom.polygon(cellBoundary(cell))

  /** S2-style fallback: Hilbert-ordered square cell id at `order` over a
    * [-180,180]×[-90,90] grid. Bit-identical to the codegen
    * `GeoExprs.hilbertCell` (kernel `GeoKernels.pointCell`) over the same
    * raster (divide-by-cell-extent form), so the distributed column path and
    * this scalar API agree exactly — parity-tested. */
  def s2LikeCell(lon: Double, lat: Double, order: Int): Long = {
    val n = 1L << order
    val cellW = 360.0 / n
    val cellH = 180.0 / n
    @inline def clamp(v: Long): Long = if (v < 0) 0 else if (v >= n) n - 1 else v
    Hilbert.xy2d(n, clamp(((lon + 180.0) / cellW).toLong),
      clamp(((lat + 90.0) / cellH).toLong))
  }
}
