package graft.core

/**
 * Two-grid tiling, re-derived from the reference's TwoGridPartitioning +
 * TwoLayerIndex math (/root/reference/Hecatoncheir/include/containers.h:1722-1874,
 * src/containers.cpp:930-1041, 1560-1596; defaults dPPD=109, globalPPD=872 from
 * resources/config_cluster.ini):
 *
 *  - dataspace bounds are padded by EPS=1e-8 on every side
 *    (src/containers.cpp:516-524), extents = padded max - padded min;
 *  - fine cell of a coordinate: floor((v - xmin) / (xExtent / globalPpd));
 *  - tileId(i, j) = i + j * globalPpd (x-major, containers.cpp:1560);
 *  - an object lands in every fine tile its MBR overlaps;
 *  - two-layer class per (object, tile): A if the tile holds the MBR's min
 *    corner (in both axes), B same column as the min corner, C same row,
 *    D otherwise (containers.cpp:1010-1034). The min corner is
 *    `max(fineMin, coarseMin * finePerCoarse)` per axis, which differs from
 *    plain fineMin only under floating-point disagreement between the two
 *    grid extents (containers.cpp:963-965).
 *
 * The class scheme is the duplicate-avoidance device: a candidate pair is
 * emitted in exactly one common tile. We reproduce the same exactly-once
 * guarantee with the equivalent reference-point filter (see `refPointTile`),
 * proven equivalent by property test against a naive join.
 */
object TwoLayerClass {
  val A = 0; val B = 1; val C = 2; val D = 3
}

final case class GridConfig(
    xMin: Double, yMin: Double, xMax: Double, yMax: Double,
    coarsePpd: Int, globalPpd: Int) {

  val xExtent: Double = xMax - xMin
  val yExtent: Double = yMax - yMin
  val fineExtX: Double = xExtent / globalPpd
  val fineExtY: Double = yExtent / globalPpd
  val coarseExtX: Double = xExtent / coarsePpd
  val coarseExtY: Double = yExtent / coarsePpd
  val finePerCoarse: Int = globalPpd / coarsePpd

  @inline def fineX(x: Double): Int = math.floor((x - xMin) / fineExtX).toInt
  @inline def fineY(y: Double): Int = math.floor((y - yMin) / fineExtY).toInt
  @inline def coarseX(x: Double): Int = math.floor((x - xMin) / coarseExtX).toInt
  @inline def coarseY(y: Double): Int = math.floor((y - yMin) / coarseExtY).toInt

  @inline def tileId(i: Int, j: Int): Long = i.toLong + j.toLong * globalPpd
  @inline def tileI(tile: Long): Int = (tile % globalPpd).toInt
  @inline def tileJ(tile: Long): Int = (tile / globalPpd).toInt
  @inline def coarseId(i: Int, j: Int): Long = i.toLong + j.toLong * coarsePpd

  /** Coarse tile id covering the fine tile. */
  @inline def coarseOfFine(tile: Long): Long =
    coarseId(tileI(tile) / finePerCoarse, tileJ(tile) / finePerCoarse)

  /** MBR of a fine tile (for kNN lower bounds / interior-tile shortcuts). */
  def tileMbr(tile: Long): MBR = {
    val i = tileI(tile); val j = tileJ(tile)
    MBR(xMin + i * fineExtX, yMin + j * fineExtY,
        xMin + (i + 1) * fineExtX, yMin + (j + 1) * fineExtY)
  }

  /** All fine tiles overlapping the MBR, with two-layer classes.
    * Returns packed (tileId, clazz) pairs as (tile << 2 | clazz). */
  def fineTilesWithClass(m: MBR): Array[Long] = {
    val fMinX = clamp(fineX(m.xmin)); val fMinY = clamp(fineY(m.ymin))
    val fMaxX = clamp(fineX(m.xmax)); val fMaxY = clamp(fineY(m.ymax))
    // reference computes the class anchor as max(fineMin, coarseMin*fpc)
    val cMinX = math.min(math.max(coarseX(m.xmin), 0), coarsePpd - 1)
    val cMinY = math.min(math.max(coarseY(m.ymin), 0), coarsePpd - 1)
    val anchorX = math.max(fMinX, cMinX * finePerCoarse)
    val anchorY = math.max(fMinY, cMinY * finePerCoarse)
    val out = new Array[Long]((fMaxX - fMinX + 1) * (fMaxY - fMinY + 1))
    var k = 0
    var i = fMinX
    while (i <= fMaxX) {
      var j = fMinY
      while (j <= fMaxY) {
        val clazz =
          if (i == anchorX && j == anchorY) TwoLayerClass.A
          else if (i == anchorX) TwoLayerClass.B
          else if (j == anchorY) TwoLayerClass.C
          else TwoLayerClass.D
        out(k) = (tileId(i, j) << 2) | clazz
        k += 1
        j += 1
      }
      i += 1
    }
    out
  }

  /** All fine tile ids overlapping the MBR (no classes). */
  def fineTiles(m: MBR): Array[Long] = {
    val fMinX = clamp(fineX(m.xmin)); val fMinY = clamp(fineY(m.ymin))
    val fMaxX = clamp(fineX(m.xmax)); val fMaxY = clamp(fineY(m.ymax))
    val out = new Array[Long]((fMaxX - fMinX + 1) * (fMaxY - fMinY + 1))
    var k = 0
    var i = fMinX
    while (i <= fMaxX) {
      var j = fMinY
      while (j <= fMaxY) { out(k) = tileId(i, j); k += 1; j += 1 }
      i += 1
    }
    out
  }

  /** The single fine tile of a point. */
  @inline def fineTileOfPoint(x: Double, y: Double): Long =
    tileId(clamp(fineX(x)), clamp(fineY(y)))

  /** Reference-point dedup: a candidate pair (mR, mS) sharing tile `tile` is
    * kept only in the tile containing the top-left corner of the MBR
    * intersection — equivalent to the reference's 9 class-pair sweeps
    * generating each pair exactly once. */
  @inline def refPointTile(mR: MBR, mS: MBR): Long = {
    val ix = math.max(mR.xmin, mS.xmin)
    val iy = math.max(mR.ymin, mS.ymin)
    tileId(clamp(fineX(ix)), clamp(fineY(iy)))
  }

  /** Min distance from a point to a tile (kNN pruning bound,
    * containers.h:424-428). */
  def distanceToTile(x: Double, y: Double, tile: Long): Double = {
    val m = tileMbr(tile)
    val dx = math.max(math.max(m.xmin - x, 0.0), x - m.xmax)
    val dy = math.max(math.max(m.ymin - y, 0.0), y - m.ymax)
    math.sqrt(dx * dx + dy * dy)
  }

  @inline private def clamp(v: Int): Int =
    if (v < 0) 0 else if (v >= globalPpd) globalPpd - 1 else v

  /** Reference node assignment for a coarse (distribution) tile:
    * rank = (partitionID % workers) + 1 (containers.h:1759-1761) — the
    * tile→partition parity key for cluster placement. */
  @inline def nodeRankForCoarse(coarseTile: Long, workers: Int): Int =
    ((coarseTile % workers) + 1).toInt
}

object GridConfig {
  /** Reference defaults (config_cluster.ini: dgppdNum=109, ppdNum=872). */
  val DefaultCoarsePpd = 109
  val DefaultGlobalPpd = 872
  /** EPS padding applied to dataspace bounds (def.h:38, containers.cpp:517-520). */
  val Eps = 1e-8

  /** Build from raw (unpadded) data bounds, applying the reference's EPS pad. */
  def fromDataBounds(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                     coarsePpd: Int = DefaultCoarsePpd,
                     globalPpd: Int = DefaultGlobalPpd): GridConfig =
    GridConfig(xmin - Eps, ymin - Eps, xmax + Eps, ymax + Eps, coarsePpd, globalPpd)
}
