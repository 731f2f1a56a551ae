package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/**
 * Multi-resolution tiling: wide objects (fine cover > maxFineCover) are
 * assigned at the coarse grid, narrow ones at the fine grid, and the
 * level-tagged exchange — through either physical join, hash or plane sweep —
 * must reproduce the single-level result exactly: same pairs, exactly once,
 * for every predicate and for find-relation.
 */
class MultiResSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid = graft.web.Pages.WorldGrid

  /** Deterministic mixed-width boxes: narrow (sub-tile) through very wide
    * (tens of fine tiles, several coarse cells). */
  private def boxes(seed: Int, n: Int): org.apache.spark.sql.Dataset[GeoRow] = {
    import spark.implicits._
    (0 until n).map { i =>
      val k = i * 31 + seed
      val cx = (k * 13 % 2800) / 8.0 - 175.0
      val cy = (k * 17 % 1280) / 8.0 - 80.0
      // widths span 0.125° .. 8° — straddles the maxFineCover boundary
      val hw = ((k % 64) + 1) / 8.0
      val hh = ((k % 48) + 1) / 8.0
      GeoRow(i.toLong, GeomType.BOX,
        Array(cx - hw, cy - hh, cx + hw, cy - hh, cx + hw, cy + hh,
          cx - hw, cy + hh, cx - hw, cy - hh),
        cx - hw, cy - hh, cx + hw, cy + hh)
    }.toDS()
  }

  /** Star polygons with mixed radii (forces the non-rectangular path). */
  private def stars(seed: Int, n: Int): org.apache.spark.sql.Dataset[GeoRow] = {
    import spark.implicits._
    (0 until n).map { i =>
      val k = i * 37 + seed
      val cx = (k * 13 % 2800) / 8.0 - 175.0
      val cy = (k * 17 % 1280) / 8.0 - 80.0
      val rad = ((k % 40) + 1) / 8.0
      val nv = 6 + (k % 4)
      val cs = new Array[Double](2 * (nv + 1))
      var v = 0
      while (v < nv) {
        val ang = 2 * math.Pi * v / nv
        val rr = rad * (0.6 + 0.4 * (((k * 31 + v * 17) % 97) / 97.0))
        cs(2 * v) = cx + rr * math.cos(ang); cs(2 * v + 1) = cy + rr * math.sin(ang)
        v += 1
      }
      cs(2 * nv) = cs(0); cs(2 * nv + 1) = cs(1)
      GeoRow(i.toLong, GeomType.POLYGON, cs, cx - rad, cy - rad, cx + rad, cy + rad)
    }.toDS()
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-res boxes ≡ single-level for all 8 predicates") {
    val r = boxes(1, 400)
    val s = boxes(2, 400)
    for (pred <- Seq(Predicates.INTERSECTS, Predicates.INSIDE, Predicates.DISJOINT,
        Predicates.EQUAL, Predicates.MEET, Predicates.CONTAINS,
        Predicates.COVERS, Predicates.COVERED_BY)) {
      val multi = pairs(GeoEngine.spatialJoin(r, s, pred, grid, maxFineCover = 16))
      val single = pairs(GeoEngine.spatialJoin(r, s, pred, grid,
        maxFineCover = Int.MaxValue))
      assert(multi == single, s"pred=$pred multi=${multi.size} single=${single.size}")
    }
  }

  test("multi-res polygons ≡ single-level (UDF refinement path)") {
    val r = stars(3, 200)
    val s = stars(4, 200)
    val multi = pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
      maxFineCover = 16))
    val single = pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
      maxFineCover = Int.MaxValue))
    assert(multi == single, s"multi=${multi.size} single=${single.size}")
    assert(multi.nonEmpty)
  }

  test("multi-res find-relation ≡ single-level, box fast path ≡ UDF") {
    val r = boxes(5, 300)
    val s = boxes(6, 300)
    def rels(maxCover: Int) =
      GeoEngine.findRelationJoin(r, s, grid, maxFineCover = maxCover)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val multi = rels(16)
    val single = rels(Int.MaxValue)
    assert(multi == single)
    // the column fast path must equal the exact DE-9IM kernel per pair
    val viaKernel = {
      val rm = r.collect().map(g => g.id -> g).toMap
      val sm = s.collect().map(g => g.id -> g).toMap
      multi.map { case (a, b, _) =>
        (a, b, Topology.findRelation(
          Geom(rm(a).gtype, rm(a).coords), Geom(sm(b).gtype, sm(b).coords)))
      }
    }
    assert(multi == viaKernel)
    assert(multi.map(_._3).size >= 1)
  }

  test("mixed rect+polygon datasets: engine join ≡ kernel brute force") {
    import spark.implicits._
    // one dataset holding BOTH boxes and star polygons — exercises the
    // per-row CASE between the rectangular column path and the kernel
    val r = boxes(21, 150).union(stars(22, 150).map(g => g.copy(id = g.id + 1000)))
    val s = boxes(23, 150).union(stars(24, 150).map(g => g.copy(id = g.id + 1000)))
    val got = pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
      maxFineCover = 16))
    val want = (for {
      a <- r.collect(); b <- s.collect()
      if a.xmax >= b.xmin && a.xmin <= b.xmax &&
         a.ymax >= b.ymin && a.ymin <= b.ymax
      if Topology.intersects(Geom(a.gtype, a.coords), Geom(b.gtype, b.coords))
    } yield (a.id, b.id)).toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(got.nonEmpty)
    // find-relation over the same mixed inputs vs the kernel per pair
    val gotRel = GeoEngine.findRelationJoin(r, s, grid, maxFineCover = 16)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val wantRel = (for {
      a <- r.collect(); b <- s.collect()
      if a.xmax >= b.xmin && a.xmin <= b.xmax &&
         a.ymax >= b.ymin && a.ymin <= b.ymax
    } yield (a.id, b.id, Topology.findRelation(
      Geom(a.gtype, a.coords), Geom(b.gtype, b.coords)))).toSet
    assert(gotRel == wantRel)
  }

  test("broadcast mode ≡ shuffle mode under multi-res") {
    val r = boxes(7, 300)
    val s = boxes(8, 150)
    val bc = pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
      broadcastS = true, maxFineCover = 16))
    val sh = pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
      broadcastS = false, maxFineCover = 16))
    assert(bc == sh)
    assert(bc.nonEmpty)
  }

  test("hot-tile point R ≡ brute force: broadcast R, slim shuffle and sweep") {
    import spark.implicits._
    // q_skew_join's shape: 80 % of the points in one fine tile (about
    // 0.01° square at (10, 20)), the rest spread over the world, against
    // world-spread boxes plus boxes over the hot tile
    val pts = (0 until 2000).map { i =>
      val (x, y) =
        if (i % 5 != 0) (i % 97 / 10000.0 + 10.0, i % 89 / 10000.0 + 20.0)
        else ((i * 37 % 3600) / 10.0 - 180.0, (i * 53 % 1700) / 10.0 - 85.0)
      GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
    }
    val hotBoxes = (0 until 6).map { i =>
      val (x0, y0) = (9.99 + i * 0.003, 19.995 + i * 0.002)
      val (x1, y1) = (x0 + 0.004 + i * 0.001, y0 + 0.005)
      GeoRow(5000L + i, GeomType.BOX,
        Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0), x0, y0, x1, y1)
    }
    val r = pts.toDS()
    val s = boxes(13, 300).union(hotBoxes.toDS())
    val want = (for {
      a <- pts; b <- s.collect()
      if Topology.intersects(Geom(a.gtype, a.coords), Geom(b.gtype, b.coords))
    } yield (a.id, b.id)).toSet
    assert(want.count(_._2 >= 5000L) > 1000, s"fixture broken: ${want.size}")
    val rm = GeoEngine.sideMeta(r, grid)
    assert(rm.maxHomeTileCnt >= 1600, s"fixture broken: $rm")
    def join(hotTileThreshold: Long) = GeoEngine.spatialJoin(r, s,
      Predicates.INTERSECTS, grid, rMeta = Some(rm), hotTileThreshold = hotTileThreshold)
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // BuildR: the default threshold keeps the hash path, and the all-point
    // R's emission fits Spark's broadcast threshold
    val buildR = join(GeoEngine.HotTileThreshold)
    assert(plan(buildR).contains("BuildLeft") && !plan(buildR).contains("CoGroup"),
      plan(buildR))
    assert(pairs(buildR) == want, "BuildR")
    // NoBuild: no side fits a broadcast, both shuffle on the tile key
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val noBuild = join(GeoEngine.HotTileThreshold)
      assert(!plan(noBuild).contains("Broadcast") && !plan(noBuild).contains("CoGroup"),
        plan(noBuild))
      assert(pairs(noBuild) == want, "NoBuild")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the sweep: a threshold below the hot tile's count, on the real SideMeta
    val swept = join(rm.maxHomeTileCnt - 1)
    assert(plan(swept).contains("CoGroup") && !plan(swept).contains("BuildLeft"),
      plan(swept))
    assert(pairs(swept) == want, "sweep")
  }

  test("plane-sweep physical path ≡ hash-join path (incl. a dense hot tile)") {
    import spark.implicits._
    // 400 mixed-width boxes + 300 tiny boxes crammed into ONE fine tile
    // (the dense-tile case the sweep exists for)
    def dense(seed: Int) = (0 until 300).map { i =>
      val k = i * 13 + seed
      val cx = 10.02 + (k % 97) * 0.003 // all within one ~0.41° tile
      val cy = 20.01 + (k % 89) * 0.002
      GeoRow((10000 + i).toLong, GeomType.BOX,
        Array(cx, cy, cx + 0.002, cy, cx + 0.002, cy + 0.002, cx, cy + 0.002, cx, cy),
        cx, cy, cx + 0.002, cy + 0.002)
    }
    // one row per side and per MBR field with that field NaN, and one with
    // it null, inside the dense tile: every path (sweep, hash, and INSIDE's
    // home-cell containment plan) must drop them all
    def nanRow(id: Long, field: Int) = {
      val m = Array(10.02, 20.01, 10.03, 20.03)
      m(field) = Double.NaN
      GeoRow(id, GeomType.BOX,
        Array(10.02, 20.01, 10.03, 20.01, 10.03, 20.03, 10.02, 20.03, 10.02, 20.01),
        m(0), m(1), m(2), m(3))
    }
    val rNan = (0 until 4).map(f => nanRow(90001L + f, f))
    val sNan = (0 until 4).map(f => nanRow(90011L + f, f))
    val rNull = (0 until 4).map(f => nanRow(90021L + f, f))
    val sNull = (0 until 4).map(f => nanRow(90031L + f, f))
    val nanIds = (rNan ++ sNan ++ rNull ++ sNull).map(_.id).toSet
    val r = boxes(31, 400).union(dense(1).toDS()).union(rNan.toDS())
      .union(TestRows.nulled(rNull.toDS()))
    val s = boxes(32, 400).union(dense(5).toDS()).union(sNan.toDS())
      .union(TestRows.nulled(sNull.toDS()))
    for (pred <- Seq(Predicates.INTERSECTS, Predicates.MEET, Predicates.INSIDE)) {
      val viaSweep = pairs(GeoEngine.spatialJoin(r, s, pred, grid,
        maxFineCover = 16, sweep = Some(true)))
      val viaHash = pairs(GeoEngine.spatialJoin(r, s, pred, grid,
        maxFineCover = 16, sweep = Some(false)))
      assert(viaSweep == viaHash, s"pred=$pred sweep=${viaSweep.size} hash=${viaHash.size}")
      for ((name, got) <- Seq("sweep" -> viaSweep, "hash" -> viaHash))
        assert(!got.exists { case (a, b) => nanIds(a) || nanIds(b) },
          s"pred=$pred: $name path kept NaN- or null-MBR rows " +
            got.filter { case (a, b) => nanIds(a) || nanIds(b) })
    }
    // plan shape: narrow and wide rows on both sides still plan ONE
    // level-tagged cogroup — no per-level sub-joins unioned together
    val (rMixed, sMixed) = (boxes(31, 400), boxes(32, 400))
    for (m <- Seq(GeoEngine.sideMeta(rMixed, grid), GeoEngine.sideMeta(sMixed, grid)))
      assert(m.hasNarrow && m.hasWide, s"fixture broken: $m")
    val sweepPlan = GeoEngine.spatialJoin(rMixed, sMixed, Predicates.INTERSECTS,
      grid, maxFineCover = 16, sweep = Some(true)).queryExecution.executedPlan.toString
    assert("CoGroup".r.findAllIn(sweepPlan).length == 1, sweepPlan)
    assert(!sweepPlan.contains("Union"), sweepPlan)
    // polygons through the sweep (non-rect refinement downstream unchanged)
    val rp = stars(33, 150)
    val sp = stars(34, 150)
    assert(pairs(GeoEngine.spatialJoin(rp, sp, Predicates.INTERSECTS, grid, sweep = Some(true))) ==
           pairs(GeoEngine.spatialJoin(rp, sp, Predicates.INTERSECTS, grid, sweep = Some(false))))
  }

  test("EQUAL plan is a plain MBR equi-join — no tile explode anywhere") {
    val df = GeoEngine.spatialJoin(boxes(51, 300), boxes(52, 300),
      Predicates.EQUAL, grid)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"tile explode in EQUAL plan:\n$plan")
    assert(plan.contains("Join"), plan.take(300))
  }

  test("containment plan: contained side ships home cells only (one Generate)") {
    import spark.implicits._
    // narrow boxes only → single fine-level sub-join; the outer (container)
    // side explodes its cover, the inner side must NOT explode
    def narrow(seed: Int, n: Int) = (0 until n).map { i =>
      val k = i * 31 + seed
      val cx = (k * 13 % 2800) / 8.0 - 175.0
      val cy = (k * 17 % 1280) / 8.0 - 80.0
      val hw = ((k % 2) + 1) / 16.0; val hh = ((k % 2) + 1) / 16.0
      GeoRow(i.toLong, GeomType.BOX,
        Array(cx - hw, cy - hh, cx + hw, cy - hh, cx + hw, cy + hh,
          cx - hw, cy + hh, cx - hw, cy - hh),
        cx - hw, cy - hh, cx + hw, cy + hh)
    }.toDS()
    val df = GeoEngine.spatialJoin(narrow(61, 300), narrow(62, 300),
      Predicates.INSIDE, grid)
    val plan = df.queryExecution.executedPlan.toString
    val generates = "Generate".r.findAllIn(plan).length
    assert(generates == 1, s"expected 1 explode (outer cover), got $generates:\n$plan")
  }

  test("hot-tile density statistic auto-selects the in-tile sweep") {
    import spark.implicits._
    // 300 near-identical tiny boxes share one fine tile — a hot tile the
    // dispatch prepass must detect (maxHomeTileCnt) and route to the sweep
    def dense(seed: Int, n: Int) = (0 until n).map { i =>
      val cx = 10.0 + (i % 7) * 1e-4
      val cy = 20.0 + ((i * seed) % 5) * 1e-4
      GeoRow(200000L + i, GeomType.BOX,
        Array(cx, cy, cx + 0.002, cy, cx + 0.002, cy + 0.002, cx, cy + 0.002, cx, cy),
        cx, cy, cx + 0.002, cy + 0.002)
    }.toDS()
    val r = dense(3, 300)
    val s = dense(5, 300)
    val auto = GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
      hotTileThreshold = 64)
    assert(auto.queryExecution.executedPlan.toString.contains("CoGroup"),
      "auto plan did not pick the sweep on a hot tile")
    // under the default threshold the same input stays on the hash path
    val autoDefault = GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid)
    assert(!autoDefault.queryExecution.executedPlan.toString.contains("CoGroup"))
    val hash = pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
      sweep = Some(false)))
    assert(pairs(auto) == hash)
  }

  /** Wide boxes (cover > maxFineCover fine tiles) whose min corners pile
    * into ONE coarse cell but SPREAD across many fine tiles — visible only
    * to the coarse-cell histogram, invisible to the fine one. */
  private def wideHotCell(seed: Int, n: Int): org.apache.spark.sql.Dataset[GeoRow] = {
    import spark.implicits._
    (0 until n).map { i =>
      val k = i * 29 + seed
      // min corners in [9.0, 10.2)×[20.0, 20.7) ⊂ one coarse cell
      // (~3.3°×1.56°), spread over ~12 distinct fine tiles (~0.41°×0.19°)
      val x0 = 9.0 + (k % 30) * 0.04
      val y0 = 20.0 + ((k / 30) % 30) * 0.023
      val x1 = x0 + 8.0 + (k % 5) * 0.1 // ~20 fine tiles wide → coarse level
      val y1 = y0 + 0.3
      GeoRow(300000L + i, GeomType.BOX,
        Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0), x0, y0, x1, y1)
    }.toDS()
  }

  test("coarse-level sweep ≡ hash path on a wide-object hot coarse cell") {
    val r = boxes(41, 300).union(wideHotCell(1, 250))
    val s = boxes(42, 300).union(wideHotCell(7, 250))
    for (pred <- Seq(Predicates.INTERSECTS, Predicates.MEET)) {
      val viaSweep = pairs(GeoEngine.spatialJoin(r, s, pred, grid,
        sweep = Some(true)))
      val viaHash = pairs(GeoEngine.spatialJoin(r, s, pred, grid,
        sweep = Some(false)))
      assert(viaSweep == viaHash, s"pred=$pred sweep=${viaSweep.size} hash=${viaHash.size}")
      assert(viaSweep.nonEmpty)
    }
  }

  test("coarse-cell density statistic auto-selects the sweep for wide pile-ups") {
    import spark.implicits._
    val r = boxes(43, 200)
    val s = wideHotCell(3, 250)
    // the fine histogram must NOT see the pile-up (spread min corners)...
    val sm = GeoEngine.sideMeta(s, grid)
    assert(sm.maxHomeTileCnt <= 64,
      s"fixture broken: fine histogram sees ${sm.maxHomeTileCnt}")
    // ...but the coarse histogram must
    assert(sm.maxCoarseCellCnt >= 200,
      s"coarse histogram missed the pile-up: ${sm.maxCoarseCellCnt}")
    val auto = GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
      hotTileThreshold = 100)
    assert(auto.queryExecution.executedPlan.toString.contains("CoGroup"),
      "auto plan did not pick the coarse sweep on a wide-object hot cell")
    // result identical to the forced hash path
    assert(pairs(auto) ==
      pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
        sweep = Some(false))))
    // under the default threshold the same input stays on the hash path
    val autoDefault = GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid)
    assert(!autoDefault.queryExecution.executedPlan.toString.contains("CoGroup"))
  }

  test("find-relation join: density statistic selects the sweep, relations identical") {
    import spark.implicits._
    // the same hot-fine-tile shape the spatialJoin auto test uses
    def dense(seed: Int, n: Int) = (0 until n).map { i =>
      val cx = 10.0 + (i % 7) * 1e-4
      val cy = 20.0 + ((i * seed) % 5) * 1e-4
      GeoRow(400000L + i, GeomType.BOX,
        Array(cx, cy, cx + 0.002, cy, cx + 0.002, cy + 0.002, cx, cy + 0.002, cx, cy),
        cx, cy, cx + 0.002, cy + 0.002)
    }.toDS()
    val r = dense(3, 300)
    val s = dense(5, 300)
    def rels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val auto = GeoEngine.findRelationJoin(r, s, grid, hotTileThreshold = 64)
    assert(auto.queryExecution.executedPlan.toString.contains("CoGroup"),
      "find-relation auto plan did not pick the sweep on a hot tile")
    assert(rels(auto) == rels(GeoEngine.findRelationJoin(r, s, grid,
      sweep = Some(false))))
    assert(rels(auto).nonEmpty)
    // coarse level: wide objects piled into one coarse cell, mixed with
    // narrow boxes on both sides — find-relation through a coarse-cell sweep
    val rw = boxes(41, 300).union(wideHotCell(1, 250))
    val sw = boxes(42, 300).union(wideHotCell(7, 250))
    val viaSweep = rels(GeoEngine.findRelationJoin(rw, sw, grid, sweep = Some(true)))
    val viaHash = rels(GeoEngine.findRelationJoin(rw, sw, grid, sweep = Some(false)))
    assert(viaSweep == viaHash, s"sweep=${viaSweep.size} hash=${viaHash.size}")
    assert(viaSweep.nonEmpty)
  }

  test("non-nested custom grid: density prepass degrades gracefully") {
    // 850 % 100 ≠ 0 — the coarse statistic can't derive from the fine
    // partial; the prepass must fall back to maxCoarseCellCnt = 0 (coarse
    // auto-sweep off), NOT error, and joins must stay correct
    val g = GridConfig(-180.0, -85.0, 180.0, 85.0, 100, 850)
    val r = boxes(71, 150)
    val s = boxes(72, 150)
    val m = GeoEngine.sideMeta(r, g)
    assert(m.maxCoarseCellCnt == 0L)
    assert(m.maxHomeTileCnt > 0L)
    assert(pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, g)) ==
      pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, g,
        sweep = Some(false))))
  }

  test("widen: narrow inputs repartition to session parallelism, wide stay put") {
    import org.apache.spark.sql.functions._
    val target = spark.sparkContext.defaultParallelism
    // a single-partition source (the compact-parquet shape) must widen —
    // otherwise every per-row kernel in the projection above it serializes
    // on one core
    val narrow = boxes(21, 200).toDF().coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    assert(GeoEngine.widen(narrow).rdd.getNumPartitions == target)
    // an already-wide input is untouched (no gratuitous shuffle at scale)
    val wide = boxes(22, 200).toDF().repartition(target * 4)
    assert(GeoEngine.widen(wide).rdd.getNumPartitions == target * 4)
    // the rasterize path inherits the widening: aprilIndex over a narrow
    // input must not be single-partition
    val idx = GeoEngine.aprilIndex(narrow, grid, order = 8)
    assert(idx.rdd.getNumPartitions == target)
    // and results are partitioning-independent
    val a = GeoEngine.aprilIndex(boxes(21, 200).toDF(), grid, order = 8)
      .select(col("id"), col("april_all")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = idx.select(col("id"), col("april_all")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
  }

  test("size-based chooser picks broadcast for small, shuffle for large estimates") {
    val s = boxes(11, 100)
    assert(GeoEngine.chooseBroadcast(s, thresholdBytes = Long.MaxValue))
    assert(!GeoEngine.chooseBroadcast(s, thresholdBytes = 1L))
    // spatialJoinAuto must agree with the explicitly-planned joins
    val r = boxes(12, 200)
    val auto = pairs(GeoEngine.spatialJoinAuto(r, s, Predicates.INTERSECTS, grid))
    val manual = pairs(GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid))
    assert(auto == manual)
  }
}
