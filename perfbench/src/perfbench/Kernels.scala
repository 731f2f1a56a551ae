package perfbench

import org.apache.spark.sql.SparkSession
import graft.GeoEngine
import graft.core.{April, Geom, GeomType, Hilbert, Predicates, Topology}

/**
 * Single-threaded ns/op of the pure `graft.core` kernels, after warm-up, on
 * inputs drawn from april_dense's geometry: the registry's order points and
 * diamond polygons over the seeded keys, and a seeded sample of their MBR
 * candidate pairs. Diamond approximations come from the public
 * `GeoEngine.aprilIndex`, exactly as the stored index holds them.
 */
object Kernels {
  private val grid = Workloads.grid
  private val order = Workloads.AprilOrder

  private def point(k: Long): Geom =
    Geom.point((Math.floorMod(k * 7, 2880L)) / 8.0 - 180.0,
      (Math.floorMod(k * 11, 1360L)) / 8.0 - 85.0)

  private def diamond(k: Long): Geom = {
    val cx = (Math.floorMod(k * 13, 2800L)) / 8.0 - 175.0
    val cy = (Math.floorMod(k * 17, 1280L)) / 8.0 - 80.0
    val hw = (Math.floorMod(k, 40L) + 2) / 8.0
    val hh = (Math.floorMod(k, 30L) + 2) / 8.0
    Geom(GeomType.POLYGON,
      Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy))
  }

  /** Sink for kernel results, so the JIT cannot drop the timed calls. */
  @volatile var blackhole = 0L

  /** Median over 5 repetitions of ns per call; each repetition loops over
    * the inputs until it has run at least 100 ms. */
  private def nsPerOp(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    var i = 0
    while (i < n) { sink += f(i); i += 1 } // warm-up pass
    val reps = (1 to 5).map { _ =>
      var calls = 0L
      val t0 = System.nanoTime()
      var el = 0L
      while (el < 100000000L) {
        var j = 0
        while (j < n) { sink += f(j); j += 1 }
        calls += n
        el = System.nanoTime() - t0
      }
      el.toDouble / calls
    }.sorted
    blackhole += sink
    reps(2)
  }

  def run(spark: SparkSession, seed: Long, p: Workloads.Params,
          nPoints: Int = 20000): Map[String, Double] = {
    val (b, replicas) = (p.sizes, p.replicas)
    import spark.implicits._
    val shift = Inputs.seedShift(seed)
    val rnd = new scala.util.Random(seed)
    def pointKey(): Long = {
      var k = 0L
      do k = Math.floorMod(rnd.nextLong(), b.orders) +
        rnd.nextInt(replicas) * Inputs.ReplicaOffset + shift
      while (!Workloads.westPoint(k))
      k
    }
    val dKeys = (0 until replicas).flatMap(r =>
      (0L until b.part).map(_ + r * Inputs.ReplicaOffset + shift))
      .filter(Workloads.westDiamond).toArray
    val dGeoms = dKeys.map(diamond)
    // 1° buckets over the diamond MBRs find each sampled point's candidates
    val buckets = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
    def cell(x: Double, y: Double): Long = math.floor(x).toLong * 1000L + math.floor(y).toLong
    dGeoms.indices.foreach { i =>
      val m = dGeoms(i).mbr
      for (x <- math.floor(m.xmin).toLong to math.floor(m.xmax).toLong;
           y <- math.floor(m.ymin).toLong to math.floor(m.ymax).toLong)
        buckets.getOrElseUpdate(x * 1000L + y, scala.collection.mutable.ArrayBuffer.empty) += i
    }
    val pts = Array.fill(nPoints)(point(pointKey()))
    val pairs = pts.indices.flatMap { p =>
      val (x, y) = (pts(p).coords(0), pts(p).coords(1))
      buckets.getOrElse(cell(x, y), Nil).filter(d => dGeoms(d).mbr.contains(x, y)).map(d => (p, d))
    }.toArray
    require(pairs.nonEmpty, "no MBR candidate pairs in the kernel sample")

    val used = pairs.map(_._2).distinct
    val ixDf = GeoEngine.aprilIndex(used.toSeq
      .map(d => (dKeys(d), d, GeomType.POLYGON, dGeoms(d).coords))
      .toDF("id", "di", "gtype", "coords"), grid, order)
    val dApprox = new Array[April.Approx](dGeoms.length)
    ixDf.select("di", "april_all", "april_full").collect().foreach { r =>
      dApprox(r.getInt(0)) = April.Approx(r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray)
    }
    val pApprox = pts.map(p => April.rasterize(p, grid.xMin, grid.yMin,
      grid.xExtent, grid.yExtent, order))

    val pp = pairs.map(_._1); val pd = pairs.map(_._2)
    val inconclusive = pairs.count { case (p, d) =>
      April.verdict(Predicates.INTERSECTS, pApprox(p), dApprox(d)) == April.INCONCLUSIVE
    }
    val verdictNs = nsPerOp(pairs.length)(i =>
      April.verdict(Predicates.INTERSECTS, pApprox(pp(i)), dApprox(pd(i))).toLong)
    val relateNs = nsPerOp(pairs.length)(i =>
      Topology.relate(pts(pp(i)), dGeoms(pd(i))).toLong)
    val locateNs = nsPerOp(pairs.length)(i => {
      val c = pts(pp(i)).coords
      Topology.locate(c(0), c(1), dGeoms(pd(i))).toLong
    })
    val rs = used.take(5000)
    val rasterNs = nsPerOp(rs.length)(i =>
      April.rasterize(dGeoms(rs(i)), grid.xMin, grid.yMin, grid.xExtent,
        grid.yExtent, order).all.length.toLong)
    val n = 1L << order
    val cw = grid.xExtent / n; val ch = grid.yExtent / n
    val rects = rs.map { d =>
      val m = dGeoms(d).mbr
      (((m.xmin - grid.xMin) / cw).toLong, ((m.ymin - grid.yMin) / ch).toLong,
        ((m.xmax - grid.xMin) / cw).toLong, ((m.ymax - grid.yMin) / ch).toLong)
    }
    val hilbertNs = nsPerOp(rects.length)(i => {
      val (x0, y0, x1, y1) = rects(i)
      Hilbert.rectIntervals(n, x0, y0, x1, y1).length.toLong
    })
    Map(
      "core.april_verdict_ns" -> verdictNs,
      "core.topology_relate_ns" -> relateNs,
      "core.topology_locate_ns" -> locateNs,
      "core.april_inconclusive_frac" -> inconclusive.toDouble / pairs.length,
      "core.april_rasterize_ns" -> rasterNs,
      "core.hilbert_rect_intervals_ns" -> hilbertNs,
      "core.sample_pairs" -> pairs.length.toDouble)
  }
}
