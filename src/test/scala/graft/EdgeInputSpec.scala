package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/**
 * Degenerate side sizes: every join, range and kNN entry point with an
 * empty side and with a one-row side must return exactly what a brute
 * force over the collected rows returns — no failure on an empty
 * statistic, no lost or duplicated pair.
 */
class EdgeInputSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid = graft.web.Pages.WorldGrid

  /** Points, narrow and wide boxes and star polygons around one region, so
    * every predicate has pairs; ids from `base`. */
  private def mixed(base: Long, seed: Int): Seq[GeoRow] = (0 until 40).map { i =>
    val k = i * 31 + seed
    val cx = (k * 13 % 160) / 8.0 - 10.0
    val cy = (k * 17 % 96) / 8.0 - 6.0
    val r = ((k % 24) + 1) / 8.0
    val g = i % 4 match {
      case 0 => Geom(GeomType.POINT, Array(cx, cy))
      case 1 | 2 => Geom(GeomType.BOX, Array(cx - r, cy - r / 2, cx + r, cy - r / 2,
        cx + r, cy + r / 2, cx - r, cy + r / 2, cx - r, cy - r / 2))
      case _ =>
        val n = 6 + k % 3
        val cs = new Array[Double](2 * (n + 1))
        (0 until n).foreach { v =>
          val ang = 2 * math.Pi * v / n
          val rr = r * (0.6 + 0.4 * (((k * 31 + v * 17) % 97) / 97.0))
          cs(2 * v) = cx + rr * math.cos(ang); cs(2 * v + 1) = cy + rr * math.sin(ang)
        }
        cs(2 * n) = cs(0); cs(2 * n + 1) = cs(1)
        Geom(GeomType.POLYGON, cs)
    }
    GeoRow.of(base + i, g)
  }

  private def ds(rows: Seq[GeoRow]): Dataset[GeoRow] = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  private def geom(r: GeoRow) = Geom(r.gtype, r.coords)
  private def mbrOverlap(a: GeoRow, b: GeoRow) =
    a.xmax >= b.xmin && a.xmin <= b.xmax && a.ymax >= b.ymin && a.ymin <= b.ymax
  /** The engines' point distance, same arithmetic (ties rank by id). */
  private def dist(x: Double, y: Double, qx: Double, qy: Double) =
    math.sqrt((x - qx) * (x - qx) + (y - qy) * (y - qy))
  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The join modes: (name, broadcastS, spark.sql.autoBroadcastJoinThreshold
    * or None for the session's). */
  private val modes = Seq(("broadcast R", false, None),
    ("broadcast S", true, None), ("shuffle", false, Some("-1")))

  private def withThreshold[T](threshold: Option[String])(f: => T): T =
    threshold.fold(f) { t =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", t)
      try f finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }

  test("empty and one-row sides: joins, range and kNN ≡ brute force") {
    import spark.implicits._
    val r = mixed(0, 3)
    val s = mixed(1000, 7)
    // the one row: the polygon of s meeting the most of r
    val one = s.filter(_.gtype == GeomType.POLYGON)
      .maxBy(b => r.count(a => mbrOverlap(a, b)))
    val cases = Seq(
      "empty R" -> (Nil, s), "one-row R" -> (Seq(one), s),
      "empty S" -> (r, Nil), "one-row S" -> (r, Seq(one)))
    val preds = Seq(Predicates.INTERSECTS, Predicates.INSIDE,
      Predicates.DISJOINT, Predicates.EQUAL, Predicates.MEET,
      Predicates.CONTAINS, Predicates.COVERS, Predicates.COVERED_BY)
    var nonEmpty = 0
    for ((name, (rr, ss)) <- cases) {
      // spatialJoin: candidates are MBR-overlapping pairs (DISJOINT is the
      // documented tile-local variant), decided by the exact kernel
      // each build side: R when it holds only points and fits the
      // broadcast threshold, S by `broadcastS`, none with the threshold at -1
      for (pred <- preds; (mode, broadcast, threshold) <- modes) {
        val got = withThreshold(threshold)(pairs(GeoEngine.spatialJoin(ds(rr),
          ds(ss), pred, grid, broadcastS = broadcast)))
        val want = (for (a <- rr; b <- ss if mbrOverlap(a, b) &&
          Topology.evalPredicate(pred, geom(a), geom(b))) yield (a.id, b.id)).toSet
        assert(got == want, s"$name, predicate $pred, $mode")
        if (want.nonEmpty && threshold.isEmpty) nonEmpty += 1
      }
      for ((mode, _, threshold) <- modes.filter(!_._2)) {
        val rel = withThreshold(threshold)(GeoEngine.findRelationJoin(ds(rr),
          ds(ss), grid).collect()).map(x => (x.getLong(0), x.getLong(1),
          x.getInt(2))).toSet
        assert(rel == (for (a <- rr; b <- ss if mbrOverlap(a, b))
          yield (a.id, b.id, Topology.findRelation(geom(a), geom(b)))).toSet,
          s"$name: find-relation, $mode")
      }
      // distance join over the rows' MBR corners as points
      def pts(rows: Seq[GeoRow]) = rows.map(a => GeoRow.of(a.id,
        Geom(GeomType.POINT, Array(a.xmin, a.ymin))))
      val d = 1.5
      assert(pairs(GeoEngine.distanceJoin(ds(pts(rr)), ds(pts(ss)), d, grid)) ==
        (for (a <- pts(rr); b <- pts(ss)
              if dist(a.xmin, a.ymin, b.xmin, b.ymin) <= d)
          yield (a.id, b.id)).toSet, s"$name: distance join")
    }
    assert(nonEmpty > 8, "too few predicate cases with pairs")

    // range: no windows, one window, and one window over empty data
    val window = (7L, geom(one))
    for ((data, wins) <- Seq((r, Nil), (r, Seq(window)), (Nil, Seq(window)))) {
      val got = pairs(GeoEngine.rangeBatch(ds(data), wins, grid))
      val want = (for ((q, w) <- wins; a <- data
                       if mbrOverlap(a, GeoRow.of(q, w)) &&
                         Topology.intersects(geom(a), w)) yield (q, a.id)).toSet
      assert(got == want, s"range: ${data.size} rows, ${wins.size} windows")
    }
    assert(pairs(GeoEngine.rangeBatch(ds(r), Seq(window), grid)).nonEmpty)

    // kNN with an explicit grid: empty data, one point, and k above the
    // data size (every point, ranked by (distance, id))
    val points = r.filter(_.gtype == GeomType.POINT)
    val queries = Seq((1L, 0.5, 0.25), (2L, -9.0, 5.0))
    val qdf = queries.toDF("qid", "qx", "qy")
    for (data <- Seq(Nil, points.take(1), points); k <- Seq(1, points.size + 5)) {
      val got = GeoEngine.knnBatchDf(ds(data), qdf, k, Some(grid))
        .select(col("qid"), col("id"), col("rnk")).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      val want = queries.flatMap { case (q, qx, qy) =>
        data.sortBy(a => (dist(a.xmin, a.ymin, qx, qy), a.id)).take(k)
          .zipWithIndex.map { case (a, i) => (q, a.id, i + 1) }
      }.toSet
      assert(got == want, s"kNN: ${data.size} points, k = $k")
    }
    // no queries at all
    assert(GeoEngine.knnBatchDf(ds(points), qdf.limit(0), 3, Some(grid)).isEmpty)
  }
}
