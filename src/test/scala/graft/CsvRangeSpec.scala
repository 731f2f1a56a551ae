package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.functions.GeoKernels

/** CSV load semantics + on-the-fly window APRIL + distributed kNN parity. */
class CsvRangeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("driver flagship entry() produces rows on sf0.001") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1L)
  }

  test("readCsv: count header caps load, id column ignored, recID = line index") {
    val f = java.io.File.createTempFile("graft_csv", ".csv")
    val w = new java.io.PrintWriter(f)
    // declared count 3, but 5 data lines present → only first 3 load;
    // line 2 malformed → skipped but still consumes its line number
    w.println("3")
    w.println("999,1.5 2.5")
    w.println("888,not a point")
    w.println("777,3.0 4.0")
    w.println("666,5.0 6.0")
    w.println("555,7.0 8.0")
    w.close()
    val rows = GeoEngine.readCsv(spark, f.getPath, GeomType.POINT)
      .collect().sortBy(_.id)
    assert(rows.map(_.id).toSeq == Seq(1L, 3L), s"got ${rows.map(_.id).toSeq}")
    assert(rows(0).xmin == 1.5 && rows(0).ymin == 2.5)
    assert(rows(1).xmin == 3.0 && rows(1).ymin == 4.0)
    f.delete()
  }

  test("readCsv: linestrings parse multi-pair coords") {
    val f = java.io.File.createTempFile("graft_csv2", ".csv")
    val w = new java.io.PrintWriter(f)
    w.println("1")
    w.println("0,0.0 0.0,1.0 1.0,2.0 0.5")
    w.close()
    val rows = GeoEngine.readCsv(spark, f.getPath, GeomType.LINESTRING).collect()
    assert(rows.length == 1)
    assert(rows(0).coords.toSeq == Seq(0.0, 0.0, 1.0, 1.0, 2.0, 0.5))
    assert(rows(0).xmax == 2.0 && rows(0).ymax == 1.0)
    f.delete()
  }

  test("rangeBatch polygon windows: APRIL on ≡ APRIL off") {
    import spark.implicits._
    val grid = graft.web.Pages.WorldGrid
    // one partition, the shape of a compact parquet scan
    val pts = (0 until 3000).map { i =>
      val x = (i * 7 % 2880) / 8.0 - 180.0
      val y = (i * 11 % 1360) / 8.0 - 85.0
      GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
    }.toDS().coalesce(1)
    val wins = (0 until 12).map { q =>
      val cx = (q * 29 % 2800) / 8.0 - 175.0
      val cy = (q * 31 % 1280) / 8.0 - 80.0
      val hw = (q % 6 + 15) / 8.0; val hh = (q % 4 + 12) / 8.0
      (q.toLong, Geom(GeomType.POLYGON,
        Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy)))
    }
    def df(useApril: Boolean) =
      GeoEngine.rangeBatch(pts, wins, grid, useApril = useApril, aprilOrder = 10)
    def res(useApril: Boolean) =
      df(useApril).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val on = res(true); val off = res(false)
    assert(on == off, s"april=on ${on.size} vs off ${off.size}")
    assert(on.nonEmpty)
    // the all-point side is never rasterized, so never widened for it: its
    // one-cell A-list is synthesized on the row
    val optimized = df(true).queryExecution.optimizedPlan.toString
    assert(optimized.contains("GeoKernels.pointCell"), optimized)
    assert(!optimized.contains("april_rasterize"), optimized)
    val executed = df(true).queryExecution.executedPlan.toString
    assert(!executed.contains("RoundRobinPartitioning"), executed)
  }

  test("rangeBatch wide windows take the coarse cover (bounded query table)") {
    import spark.implicits._
    val grid = graft.web.Pages.WorldGrid
    // mixed data: points + WIDE boxes (cover >> maxFineCover) — the data
    // side must exchange its wide members at the coarse grid too
    val pts = (0 until 4000).map { i =>
      val x = (i * 7 % 2880) / 8.0 - 180.0
      val y = (i * 11 % 1360) / 8.0 - 85.0
      GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
    }.toDS().union((0 until 50).map { i =>
      val cx = (i * 53 % 2400) / 8.0 - 150.0
      val cy = (i * 37 % 1000) / 8.0 - 62.0
      val hw = 5.0 + (i % 3); val hh = 4.0 + (i % 2)
      GeoRow(100000L + i, GeomType.BOX,
        Array(cx - hw, cy - hh, cx + hw, cy - hh, cx + hw, cy + hh,
          cx - hw, cy + hh, cx - hw, cy - hh),
        cx - hw, cy - hh, cx + hw, cy + hh)
    }.toDS())
    // one row per MBR field with that field NaN, and one with it null,
    // inside the half-world window: no path may return them
    def badRows(base: Long) = (0 until 4).map { f =>
      val m = Array(-100.2, 10.1, -100.1, 10.2)
      m(f) = Double.NaN
      GeoRow(base + f, GeomType.BOX,
        Array(-100.2, 10.1, -100.1, 10.1, -100.1, 10.2, -100.2, 10.2, -100.2, 10.1),
        m(0), m(1), m(2), m(3))
    }.toDS()
    val data = pts.union(badRows(90001L)).union(TestRows.nulled(badRows(90011L)))
    // a continent-sized window (half the world), a hemisphere-tall strip,
    // a wide diamond polygon, a handful of 1° boxes (5 × 4 fine cells, just
    // over maxFineCover), and a narrow diamond and a point window that join
    // at the fine level — mixed levels and types in one batch
    def diamond(cx: Double, cy: Double, hw: Double, hh: Double) =
      Geom(GeomType.POLYGON,
        Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy))
    val p7 = pts.collect().find(_.id == 7L).get
    val wide = Seq(
      (100L, Geom.box(-180.0, -85.0, 0.0, 85.0)),
      (101L, Geom.box(10.0, -80.0, 30.0, 80.0)),
      (102L, diamond(40.0, 20.0, 6.0, 5.0)))
    val boxes = (0 until 6).map { q =>
      val cx = (q * 29 % 2800) / 8.0 - 175.0
      val cy = (q * 31 % 1280) / 8.0 - 80.0
      (q.toLong, Geom.box(cx - 0.5, cy - 0.5, cx + 0.5, cy + 0.5))
    }
    val narrow = Seq(
      (200L, diamond(p7.xmin, p7.ymin, 0.3, 0.2)),
      (201L, Geom.point(p7.xmin, p7.ymin)))
    val wins = wide ++ boxes ++ narrow
    def isWide(g: Geom) = GeoKernels.fineCoverCnt(g.mbr.xmin, g.mbr.ymin,
      g.mbr.xmax, g.mbr.ymax, grid) > GeoEngine.MaxFineCover
    assert(wide.forall(w => isWide(w._2)) && narrow.forall(w => !isWide(w._2)))
    // brute-force oracle: the exact predicate over every (window, object)
    val raw = pts.collect()
    val want = wins.flatMap { case (qid, g) =>
      raw.filter(p => Topology.intersects(g, Geom(p.gtype, p.coords)))
        .map(p => (qid, p.id))
    }.toSet
    assert(want.exists(_._1 == 200L) && want.exists(_._1 == 201L) &&
      want.exists(_._1 == 102L))
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    for (useApril <- Seq(false, true)) {
      val df = GeoEngine.rangeBatch(data, wins, grid, useApril = useApril,
        aprilOrder = 10)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!got.exists(p => p._2 >= 90001L && p._2 <= 90014L),
        s"useApril=$useApril kept NaN- or null-MBR rows")
      assert(got == want, s"useApril=$useApril got ${got.size} want ${want.size}")
      // plan shape: one explode per side (data, and the window table under
      // the broadcast); the half-world window's fine cover is ~380k tiles,
      // yet the broadcast window table stays below coarsePpd² rows
      val plan = df.queryExecution.executedPlan
      val gens = Aqe.collect(plan) {
        case g: org.apache.spark.sql.execution.GenerateExec => g }
      assert(gens.size == 2, plan.toString)
      val winGens = Aqe.collect(plan) {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.flatMap(b => Aqe.collect(b) {
        case g: org.apache.spark.sql.execution.GenerateExec => g })
      assert(winGens.size == 1, plan.toString)
      val winRows = winGens.head.metrics("numOutputRows").value
      assert(winRows > 0 && winRows < grid.coarsePpd.toLong * grid.coarsePpd,
        s"window rows $winRows")
    }
    // an empty batch: no rows, the (qid, id) schema
    val none = GeoEngine.rangeBatch(pts, Seq.empty, grid)
    assert(none.columns.toSeq == Seq("qid", "id"))
    assert(none.count() == 0L)
  }

  test("distance join: coarse-level plan ≡ fine-level plan") {
    import spark.implicits._
    val grid = graft.web.Pages.WorldGrid
    def pts(seed: Int, n: Int) = (0 until n).map { i =>
      val k = i * 7 + seed
      val x = (k * 13 % 3600) / 10.0 - 180.0
      val y = (k * 17 % 1700) / 10.0 - 85.0
      GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
    }.toDS()
    val r = pts(1, 1500); val s = pts(2, 1500)
    def res(cap: Int) = GeoEngine.distanceJoin(r, s, 3.0, grid, maxFineCover = cap)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val coarse = res(1)              // forces the coarse grid
    val fine = res(Int.MaxValue)     // forces the fine grid
    assert(coarse == fine)
    assert(coarse.nonEmpty)

    // edge inputs against brute force: points on and around the grid's
    // corners, just outside it and far outside it, mixed with interior
    // points. At cap 200 a 3° box is wide in the interior (~480 fine cells)
    // but narrow where the grid edge clamps it (a corner box covers 120
    // cells), so one join holds rows of both levels and the driver-derived
    // level flags must admit both. NaN coordinates join nothing.
    def pt(id: Long, x: Double, y: Double) =
      GeoRow(id, GeomType.POINT, Array(x, y), x, y, x, y)
    val offs = Seq(-8.0, -1.0, -0.3, 0.0, 0.5, 2.0, 3.5)
    def edge(base: Long) = (for {
      ((cx, cy), c) <- Seq((-180.0, -90.0), (-180.0, 90.0), (180.0, -90.0),
        (180.0, 90.0)).zipWithIndex
      (ox, i) <- offs.zipWithIndex; (oy, j) <- offs.zipWithIndex
    } yield pt(base + c * 100 + i * 10 + j, cx - math.signum(cx) * ox,
      cy - math.signum(cy) * oy))
    val rEdge = edge(10000L) ++ r.collect() :+ pt(90001L, Double.NaN, 0.0)
    val sEdge = edge(20000L) ++ s.collect() :+ pt(90002L, 0.0, Double.NaN)
    def brute(rs: Seq[GeoRow], ss: Seq[GeoRow], d: Double) = (for {
      a <- rs; b <- ss
      if math.sqrt((a.xmin - b.xmin) * (a.xmin - b.xmin) +
        (a.ymin - b.ymin) * (a.ymin - b.ymin)) <= d
    } yield (a.id, b.id)).toSet
    def join(rs: Seq[GeoRow], ss: Seq[GeoRow], cap: Int) =
      GeoEngine.distanceJoin(rs.toDS(), ss.toDS(), 3.0, grid, maxFineCover = cap)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = brute(rEdge, sEdge, 3.0)
    assert(want.exists(p => p._1 < 10400L && p._2 < 20400L))
    // cap 450 = 15 × 30 cells: only boxes straddling the most cell edges
    // (up to 16 × 31) are wide there
    for (cap <- Seq(1, 200, 450, GeoEngine.MaxFineCover, Int.MaxValue))
      assert(join(rEdge, sEdge, cap) == want, s"maxFineCover = $cap")
    // an empty side, and a one-row side
    val one = Seq(pt(7L, -179.5, 89.5))
    assert(join(Nil, sEdge, 200).isEmpty && join(rEdge, Nil, 200).isEmpty)
    assert(join(one, sEdge, 200) == brute(one, sEdge, 3.0))
    assert(join(rEdge, one, 200) == brute(rEdge, one, 3.0))
    assert(brute(one, sEdge, 3.0).nonEmpty)
  }

  test("distributed kNN handles a 10⁴-query batch (no per-query driver loop)") {
    import spark.implicits._
    val grid = graft.web.Pages.WorldGrid
    val pts = (0 until 5000).map { i =>
      val x = (i * 7 % 3600) / 10.0 - 180.0
      val y = (i * 11 % 1700) / 10.0 - 85.0
      GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
    }.toDS()
    val qs = spark.range(10000).select(
      org.apache.spark.sql.functions.col("id").as("qid"),
      ((org.apache.spark.sql.functions.col("id") * 19 % 3600) / 10.0 - 180.0).as("qx"),
      ((org.apache.spark.sql.functions.col("id") * 23 % 1700) / 10.0 - 85.0).as("qy"))
    val out = GeoEngine.knnBatchDf(pts, qs, 3, Some(grid))
    assert(out.count() == 30000L) // exactly k rows per query
  }

  test("distributed kNN (DataFrame queries) ≡ brute force") {
    import spark.implicits._
    val grid = graft.web.Pages.WorldGrid
    val pts = (0 until 2000).map { i =>
      val x = (i * 7 % 3600) / 10.0 - 180.0
      val y = (i * 11 % 1700) / 10.0 - 85.0
      GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
    }
    val qs = (0 until 40).map(q => (q.toLong, (q * 19 % 3600) / 10.0 - 180.0,
      (q * 23 % 1700) / 10.0 - 85.0))
    def knn(pts: Seq[GeoRow], qs: Seq[(Long, Double, Double)], k: Int) =
      GeoEngine.knnBatchDf(pts.toDS(), qs.toDF("qid", "qx", "qy"), k, Some(grid))
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val got = knn(pts, qs, 5)
    // brute force oracle with (dist, id) ascending tie-break
    def brute(pts: Seq[GeoRow], qs: Seq[(Long, Double, Double)], k: Int) =
      qs.flatMap { case (qid, qx, qy) =>
        pts.map(p => (p.id, math.sqrt((p.xmin - qx) * (p.xmin - qx) +
            (p.ymin - qy) * (p.ymin - qy))))
          .sortBy(t => (t._2, t._1)).take(k).zipWithIndex
          .map { case ((id, _), i) => (qid, i + 1, id) }
      }.toSet
    val want = brute(pts, qs, 5)
    assert(got == want)
    // building the query runs one job, with no shuffle: the SideTally fold
    // whose home-cell histogram prunes the tiles
    val (_, jobs) = TestRows.jobsDuring(spark)(GeoEngine.knnBatchDf(pts.toDS(),
      qs.toDF("qid", "qx", "qy"), 5, Some(grid)))
    assert(jobs.size == 1, jobs)
    // edge inputs: an empty and a one-row side each, and fewer points than
    // k, where every point is ranked 1..n
    assert(knn(Nil, qs, 5).isEmpty && knn(pts, Nil, 5).isEmpty)
    assert(knn(pts, qs.take(1), 5) == brute(pts, qs.take(1), 5))
    assert(knn(pts.take(1), qs, 5) == brute(pts.take(1), qs, 5))
    val few = pts.take(3)
    assert(knn(few, qs, 5) == brute(few, qs, 5))
    assert(knn(few, qs, 5).map(_._2) == Set(1, 2, 3))
  }

  /** `GeoEngine.candidateKnnTiles` as it was before its box pass walked
    * the histogram's keys: the Chebyshev rings and then every cell of the
    * bound's (2·rCap+1)² box, cell by cell. */
  private def cellWalkKnnTiles(qx: Double, qy: Double, k: Int, grid: GridConfig,
      tileCounts: Map[Long, Long], total: Long): Set[Long] = {
    if (total < k) return tileCounts.keySet
    val ppd = grid.globalPpd
    val hi = math.min(math.max(grid.fineX(qx), 0), ppd - 1)
    val hj = math.min(math.max(grid.fineY(qy), 0), ppd - 1)
    def count(i: Int, j: Int): Long =
      if (i < 0 || i >= ppd || j < 0 || j >= ppd) 0L
      else tileCounts.getOrElse(grid.tileId(i, j), 0L)
    def ring(r: Int): Long =
      if (r == 0) count(hi, hj)
      else (hi - r to hi + r).map(i => count(i, hj - r) + count(i, hj + r)).sum +
        (hj - r + 1 until hj + r).map(j => count(hi - r, j) + count(hi + r, j)).sum
    var cum = ring(0)
    var found = 0
    while (cum < k && found < ppd - 1) { found += 1; cum += ring(found) }
    if (cum < k) return tileCounts.keySet
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
    (for {
      i <- math.max(hi - rCap, 0) to math.min(hi + rCap, ppd - 1)
      j <- math.max(hj - rCap, 0) to math.min(hj + rCap, ppd - 1)
      t = grid.tileId(i, j)
      if tileCounts.contains(t) && grid.distanceToTile(qx, qy, t) <= bound
    } yield t).toSet
  }

  test("kNN candidate tiles: walking the histogram's keys returns the cell walk's tiles") {
    val grid = graft.web.Pages.WorldGrid
    val ppd = grid.globalPpd
    val rnd = new scala.util.Random(20261019L)
    // spread and clustered histograms from 1 to 3,000 keys, a few of them
    // off the grid (ids ≥ ppd²), under queries on and off the grid
    for (nKeys <- Seq(1, 3, 5, 12, 40, 300, 3000); clustered <- Seq(false, true)) {
      val (ci, cj) = (rnd.nextInt(ppd), rnd.nextInt(ppd))
      val counts = (1 to nKeys).map { n =>
        val t =
          if (n % 17 == 0) ppd.toLong * ppd + rnd.nextInt(1000)
          else if (clustered)
            grid.tileId(math.min(math.max(ci + rnd.nextInt(21) - 10, 0), ppd - 1),
              math.min(math.max(cj + rnd.nextInt(21) - 10, 0), ppd - 1))
          else grid.tileId(rnd.nextInt(ppd), rnd.nextInt(ppd))
        t -> (1L + rnd.nextInt(4))
      }.toMap
      val total = counts.values.sum
      for (q <- 0 until 30; k <- Seq(1, 5, 20)) {
        val qx = -200 + rnd.nextDouble() * 400
        val qy = -100 + rnd.nextDouble() * 200
        val got = GeoEngine.candidateKnnTiles(qx, qy, k, grid, counts, total)
        assert(got.size == got.toSet.size, "a tile listed twice")
        assert(got.toSet == cellWalkKnnTiles(qx, qy, k, grid, counts, total),
          s"$nKeys keys (clustered $clustered), k $k, query ($qx, $qy)")
      }
    }
  }
}
