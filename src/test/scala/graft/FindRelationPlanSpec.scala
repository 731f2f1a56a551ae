package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/**
 * APRIL sub-plan pruning in findRelationJoin: on an all-rectangular
 * workload the column fast path is exact, so useApril=true must compile to
 * the SAME plan as useApril=false — no rasterize, no interval re-join.
 * On non-rectangular inputs the topology filter must still run (and agree
 * with the exact path), with all-point sides synthesizing their A-list
 * inline instead of rasterizing — in find-relation and in spatialJoin's
 * slim plan alike.
 */
class FindRelationPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid = graft.web.Pages.WorldGrid

  private def boxes(seed: Int, n: Int): org.apache.spark.sql.Dataset[GeoRow] = {
    import spark.implicits._
    (0 until n).map { i =>
      val k = i * 31 + seed
      val cx = (k * 13 % 2800) / 8.0 - 175.0
      val cy = (k * 17 % 1280) / 8.0 - 80.0
      val hw = ((k % 40) + 2) / 8.0
      val hh = ((k % 30) + 2) / 8.0
      GeoRow(i.toLong, GeomType.BOX,
        Array(cx - hw, cy - hh, cx + hw, cy - hh, cx + hw, cy + hh,
          cx - hw, cy + hh, cx - hw, cy - hh),
        cx - hw, cy - hh, cx + hw, cy + hh)
    }.toDS()
  }

  private def points(seed: Int, n: Int): org.apache.spark.sql.Dataset[GeoRow] = {
    import spark.implicits._
    (0 until n).map { i =>
      val k = i * 7 + seed
      val x = (k % 2880) / 8.0 - 180.0
      val y = (k * 11 % 1360) / 8.0 - 85.0
      GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
    }.toDS()
  }

  private def diamonds(seed: Int, n: Int): org.apache.spark.sql.Dataset[GeoRow] = {
    import spark.implicits._
    (0 until n).map { i =>
      val k = i * 13 + seed
      val cx = (k % 2800) / 8.0 - 175.0
      val cy = (k * 17 % 1280) / 8.0 - 80.0
      val hw = ((k % 40) + 2) / 8.0
      val hh = ((k % 30) + 2) / 8.0
      GeoRow(i.toLong, GeomType.POLYGON,
        Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy),
        cx - hw, cy - hh, cx + hw, cy + hh)
    }.toDS()
  }

  test("all-box find-relation with useApril=true prunes the APRIL sub-plan") {
    val df = GeoEngine.findRelationJoin(boxes(0, 300), boxes(7, 300), grid,
      useApril = true)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("april_rasterize"), "rasterize survived the prune")
    assert(!plan.contains("april_topo_rel"), "interval filter survived the prune")
    val noApril = GeoEngine.findRelationJoin(boxes(0, 300), boxes(7, 300), grid)
    val a = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = noApril.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
  }

  private def triples(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("points × diamonds: APRIL topology filter agrees with the exact path") {
    val withApril = GeoEngine.findRelationJoin(points(0, 1500), diamonds(3, 200),
      grid, useApril = true, aprilOrder = 10)
    // the point side must synthesize its A-list inline, not rasterize
    val plan = withApril.queryExecution.optimizedPlan.toString
    assert(plan.contains("april_topo_rel"), "topology filter missing from plan")
    assert(plan.contains("GeoKernels.pointCell"), "point A-list not synthesized inline")
    val exact = GeoEngine.findRelationJoin(points(0, 1500), diamonds(3, 200), grid)
    val a = triples(withApril)
    assert(a == triples(exact))
    // the relation alphabet for point-in-diamond: INSIDE / COVERED_BY / DISJOINT
    val rels = a.map(_._3)
    assert(rels.subsetOf(Set(Topology.TR_INSIDE, Topology.TR_COVERED_BY,
      Topology.TR_DISJOINT)))
    assert(rels.contains(Topology.TR_INSIDE))
    assert(rels.contains(Topology.TR_DISJOINT))

    // diamonds × diamonds: both sides rasterized, both A-lists attached by
    // id re-join — in find-relation and in the predicate join
    val dd = GeoEngine.findRelationJoin(diamonds(3, 200), diamonds(4, 200),
      grid, useApril = true, aprilOrder = 10)
    val ddPlan = dd.queryExecution.optimizedPlan.toString
    assert(ddPlan.contains("april_topo_rel"), "topology filter missing from plan")
    assert(!ddPlan.contains("GeoKernels.pointCell"), "polygon A-list synthesized as a point's")
    val ddRel = triples(dd)
    assert(ddRel == triples(GeoEngine.findRelationJoin(diamonds(3, 200),
      diamonds(4, 200), grid)))
    assert(ddRel.exists(_._3 != Topology.TR_DISJOINT))
    val ddJoin = pairs(GeoEngine.spatialJoin(diamonds(3, 200), diamonds(4, 200),
      Predicates.INTERSECTS, grid, useApril = true, aprilOrder = 10))
    assert(ddJoin == pairs(GeoEngine.spatialJoin(diamonds(3, 200),
      diamonds(4, 200), Predicates.INTERSECTS, grid)))
    assert(ddJoin.nonEmpty)
    assert(ddJoin == ddRel.filter(_._3 != Topology.TR_DISJOINT).map(t => (t._1, t._2)))
  }

  private def rasterizeCount(df: DataFrame): Int =
    "april_rasterize".r.findAllIn(df.queryExecution.analyzed.toString).length

  test("slim spatialJoin never rasterizes an all-point side") {
    import spark.implicits._
    val idx = GeoEngine.aprilIndex(diamonds(3, 200).toDF(), grid, 10)
    assert(rasterizeCount(idx) > 0)
    def join(useApril: Boolean) = GeoEngine.spatialJoin(points(0, 1500),
      idx.as[GeoRow], Predicates.INTERSECTS, grid, useApril = useApril,
      aprilOrder = 10)
    // the stored side's rasterization appears once per use of that side
    // (candidate emission, payload attach) with or without APRIL; the point
    // side's A-list is synthesized on the candidate row and adds none — not
    // even an aprilIndex chain whose rasterize the optimizer prunes
    val withApril = join(useApril = true)
    assert(rasterizeCount(withApril) == rasterizeCount(join(useApril = false)),
      withApril.queryExecution.analyzed.toString)
    assert(withApril.queryExecution.optimizedPlan.toString.contains("GeoKernels.pointCell"))
  }
}
