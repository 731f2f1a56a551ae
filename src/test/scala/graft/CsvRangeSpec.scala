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
    val pts = (0 until 3000).map { i =>
      val x = (i * 7 % 2880) / 8.0 - 180.0
      val y = (i * 11 % 1360) / 8.0 - 85.0
      GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
    }.toDS()
    val wins = (0 until 12).map { q =>
      val cx = (q * 29 % 2800) / 8.0 - 175.0
      val cy = (q * 31 % 1280) / 8.0 - 80.0
      val hw = (q % 6 + 15) / 8.0; val hh = (q % 4 + 12) / 8.0
      (q.toLong, Geom(GeomType.POLYGON,
        Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy)))
    }
    def res(useApril: Boolean) =
      GeoEngine.rangeBatch(pts, wins, grid, useApril = useApril, aprilOrder = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val on = res(true); val off = res(false)
    assert(on == off, s"april=on ${on.size} vs off ${off.size}")
    assert(on.nonEmpty)
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
    // one row per MBR field with that field NaN, inside the half-world
    // window: no path may return them
    val nanRows = (0 until 4).map { f =>
      val m = Array(-100.2, 10.1, -100.1, 10.2)
      m(f) = Double.NaN
      GeoRow(90001L + f, GeomType.BOX,
        Array(-100.2, 10.1, -100.1, 10.1, -100.1, 10.2, -100.2, 10.2, -100.2, 10.1),
        m(0), m(1), m(2), m(3))
    }
    val data = pts.union(nanRows.toDS())
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
      g.mbr.xmax, g.mbr.ymax, grid.xMin, grid.yMin, grid.fineExtX,
      grid.fineExtY, grid.globalPpd) > GeoEngine.MaxFineCover
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
      assert(!got.exists(p => p._2 >= 90001L && p._2 <= 90004L),
        s"useApril=$useApril kept NaN-MBR rows")
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
    val ptsDs = pts.toDS()
    val qs = (0 until 40).map(q => (q.toLong, (q * 19 % 3600) / 10.0 - 180.0,
      (q * 23 % 1700) / 10.0 - 85.0))
    val got = GeoEngine.knnBatchDf(ptsDs, qs.toDF("qid", "qx", "qy"), 5, Some(grid))
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    // brute force oracle with (dist, id) ascending tie-break
    val want = qs.flatMap { case (qid, qx, qy) =>
      pts.map(p => (p.id, math.sqrt((p.xmin - qx) * (p.xmin - qx) +
          (p.ymin - qy) * (p.ymin - qy))))
        .sortBy(t => (t._2, t._1)).take(5).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1, id) }
    }.toSet
    assert(got == want)
  }
}
