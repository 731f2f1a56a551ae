package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/**
 * The predicate joins and find-relation run through one cascade, so their
 * outputs must agree pair by pair wherever `Topology.findRelation`'s masks
 * tie them together:
 *   - an INTERSECTS pair is a candidate whose relation is not TR_DISJOINT;
 *   - an EQUAL pair has bit-identical MBRs (the MBR_EQUAL routing) and
 *     equal point sets, so its relation is TR_EQUAL;
 *   - a TR_MEET pair is a MEET pair.
 * Checked over mixed POINT/BOX/POLYGON sides with NaN and null MBR rows, in
 * every build mode (default, threshold -1, broadcast S, forced sweep), with
 * APRIL on and off.
 */
class JoinCascadeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid = graft.web.Pages.WorldGrid

  private def ds(rows: Seq[GeoRow]): Dataset[GeoRow] = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  private def box(id: Long, x0: Double, y0: Double, x1: Double, y1: Double) =
    GeoRow(id, GeomType.BOX, Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0),
      x0, y0, x1, y1)

  /** Diamonds, boxes and points over a 20° × 12° region; ids from `base`. */
  private def shapes(base: Long, seed: Int, n: Int): Seq[GeoRow] = (0 until n).map { i =>
    val k = i * 31 + seed
    val cx = (k * 13 % 160) / 8.0 - 10.0
    val cy = (k * 17 % 96) / 8.0 - 6.0
    val hw = ((k % 24) + 1) / 8.0
    val hh = ((k % 18) + 1) / 8.0
    i % 3 match {
      case 0 => GeoRow.of(base + i, Geom(GeomType.POLYGON,
        Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy)))
      case 1 => box(base + i, cx - hw, cy - hh, cx + hw, cy + hh)
      case _ => GeoRow(base + i, GeomType.POINT, Array(cx, cy), cx, cy, cx, cy)
    }
  }

  /** Points only; ids from `base`. */
  private def points(base: Long, seed: Int, n: Int): Seq[GeoRow] = (0 until n).map { i =>
    val k = i * 7 + seed
    val x = (k * 13 % 160) / 8.0 - 10.0
    val y = (k * 11 % 96) / 8.0 - 6.0
    GeoRow(base + i, GeomType.POINT, Array(x, y), x, y, x, y)
  }

  /** S's rows made from R's: an exact copy of every fourth row (an EQUAL
    * pair) and, for every third row, a thin box whose left edge passes
    * through R's rightmost point at its MBR's mid-height — a diamond's
    * vertex, a box's right edge or the point itself (a MEET pair). */
  private def partners(r: Seq[GeoRow], base: Long): Seq[GeoRow] =
    r.zipWithIndex.flatMap { case (g, i) =>
      val copy = if (i % 4 == 0) Seq(g.copy(id = base + i)) else Nil
      val cy = (g.ymin + g.ymax) / 2
      val touch = if (i % 3 == 0)
        Seq(box(base + 1000 + i, g.xmax, cy - 0.1, g.xmax + 0.3, cy + 0.1)) else Nil
      copy ++ touch
    }

  /** One row per MBR field with that field NaN, of `gtype`, inside the
    * region; ids from `base`. */
  private def nanRows(base: Long, gtype: Int): Seq[GeoRow] = (0 until 4).map { f =>
    val m = Array(1.0, 1.0, 1.5, 1.5)
    if (gtype == GeomType.POINT) { m(2) = m(0); m(3) = m(1) }
    m(f) = Double.NaN
    val coords =
      if (gtype == GeomType.POINT) Array(1.0, 1.0)
      else Array(1.0, 1.25, 1.25, 1.0, 1.5, 1.25, 1.25, 1.5, 1.0, 1.25)
    GeoRow(base + f, gtype, coords, m(0), m(1), m(2), m(3))
  }

  /** `rows` plus NaN rows of each gtype, and the same rows with nulls. */
  private def withBad(rows: Seq[GeoRow], base: Long): Dataset[GeoRow] = {
    val bad = Seq(GeomType.POINT, GeomType.BOX, GeomType.POLYGON).zipWithIndex
      .flatMap { case (g, j) => nanRows(base + 4 * j, g) }
    ds(rows ++ bad).union(TestRows.nulled(ds(bad.map(b => b.copy(id = b.id + 20)))))
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** `f` with Spark's broadcast threshold at -1: no side fits a broadcast. */
  private def slim[T](f: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("one cascade: INTERSECTS ⇒ not TR_DISJOINT, EQUAL ⇒ TR_EQUAL, TR_MEET ⇒ MEET") {
    val rMixed = shapes(0L, 2, 90)
    val rPoints = points(0L, 1, 120)
    val badIds = (80000L until 80032L).toSet ++ (81000L until 81032L)
    for ((rName, rRows) <- Seq("mixed R" -> rMixed, "point R" -> rPoints)) {
      val r = withBad(rRows, 80000L)
      val s = withBad(shapes(2000L, 3, 90) ++ partners(rRows, 5000L), 81000L)
      // (spatialJoin, findRelationJoin) per build mode; find-relation has
      // no broadcast-S option, so that mode checks the predicates against
      // its default plan
      type Mode = (Int, Boolean) => (DataFrame, DataFrame)
      def default(pred: Int, april: Boolean) = (
        GeoEngine.spatialJoin(r, s, pred, grid, useApril = april, aprilOrder = 10),
        GeoEngine.findRelationJoin(r, s, grid, useApril = april, aprilOrder = 10))
      val modes: Seq[(String, Mode, Boolean)] = Seq(
        ("default", default, false),
        ("threshold -1", default, true),
        ("broadcast S", (pred, april) => (GeoEngine.spatialJoin(r, s, pred, grid,
          useApril = april, broadcastS = true, aprilOrder = 10),
          default(pred, april)._2), false),
        ("sweep", (pred, april) => (GeoEngine.spatialJoin(r, s, pred, grid,
          useApril = april, aprilOrder = 10, sweep = Some(true)),
          GeoEngine.findRelationJoin(r, s, grid, useApril = april,
            aprilOrder = 10, sweep = Some(true))), false))
      for ((mode, join, slimMode) <- modes; april <- Seq(false, true)) {
        val ctx = s"$rName, $mode, useApril=$april"
        def run[T](f: => T): T = if (slimMode) slim(f) else f
        val (intersects, equal, meet, rel) = run {
          (pairs(join(Predicates.INTERSECTS, april)._1),
            pairs(join(Predicates.EQUAL, april)._1),
            pairs(join(Predicates.MEET, april)._1),
            join(Predicates.INTERSECTS, april)._2.collect()
              .map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap)
        }
        val relMeet = rel.collect { case (p, Topology.TR_MEET) => p }.toSet
        // a point never routes to TR_MEET: its MBR lies within the other's,
        // and a point on the boundary is TR_COVERED_BY
        assert(intersects.nonEmpty && equal.nonEmpty &&
          (relMeet.nonEmpty || (rRows eq rPoints)),
          s"$ctx: fixture broken: ${intersects.size} ${equal.size} ${relMeet.size}")
        val lostIntersects =
          intersects.filterNot(p => rel.get(p).exists(_ != Topology.TR_DISJOINT))
        assert(lostIntersects.isEmpty, s"$ctx: INTERSECTS ⇏ not DISJOINT: " +
          lostIntersects.take(5).map(p => p -> rel.get(p)))
        val notEqual = equal.filterNot(p => rel.get(p).contains(Topology.TR_EQUAL))
        assert(notEqual.isEmpty, s"$ctx: EQUAL ⇏ TR_EQUAL: " +
          notEqual.take(5).map(p => p -> rel.get(p)))
        assert(relMeet.subsetOf(meet), s"$ctx: TR_MEET ⇏ MEET: ${relMeet -- meet}")
        for ((name, out) <- Seq("INTERSECTS" -> intersects, "EQUAL" -> equal,
            "MEET" -> meet, "relation" -> rel.keySet))
          assert(!out.exists { case (a, b) => badIds(a) || badIds(b) },
            s"$ctx: $name kept NaN- or null-MBR rows")
      }
    }
  }
}
