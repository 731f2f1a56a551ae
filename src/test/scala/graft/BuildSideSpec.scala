package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/**
 * The tile join's build side. When R holds only points and its emission
 * fits Spark's `spark.sql.autoBroadcastJoinThreshold`, spatialJoin and
 * findRelationJoin broadcast it with its synthesized payload and carry S's
 * payload on the probe stream, with no id re-join. That plan must return
 * exactly what the slim plan (forced with the threshold at -1) returns:
 * every predicate and find-relation, APRIL on and off, NaN and null MBR rows
 * on both sides. It must also scan S once, never widen R and keep no id
 * re-join. A polygon R and a salted join keep the slim plan at any
 * threshold.
 */
class BuildSideSpec extends AnyFunSuite {

  private object Aqe extends AdaptiveSparkPlanHelper

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

  private def points(seed: Int, n: Int): Seq[GeoRow] = (0 until n).map { i =>
    val k = i * 7 + seed
    val x = (k * 13 % 160) / 8.0 - 10.0
    val y = (k * 11 % 96) / 8.0 - 6.0
    GeoRow(i.toLong, GeomType.POINT, Array(x, y), x, y, x, y)
  }

  /** Diamonds, narrow and boxes up to ~6° wide (coarse level), and a few
    * points, over the points' region; ids from `base`. */
  private def shapes(base: Long, seed: Int, n: Int): Seq[GeoRow] = (0 until n).map { i =>
    val k = i * 31 + seed
    val cx = (k * 13 % 160) / 8.0 - 10.0
    val cy = (k * 17 % 96) / 8.0 - 6.0
    val hw = ((k % 24) + 1) / 8.0
    val hh = ((k % 18) + 1) / 8.0
    val g = i % 5 match {
      case 0 | 1 => Geom(GeomType.POLYGON,
        Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy))
      case 2 | 3 => Geom(GeomType.BOX, Array(cx - hw, cy - hh, cx + hw, cy - hh,
        cx + hw, cy + hh, cx - hw, cy + hh, cx - hw, cy - hh))
      case _ => Geom(GeomType.POINT, Array(cx, cy))
    }
    GeoRow.of(base + i, g)
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

  /** `rows` plus its gtype's NaN rows and the same rows with nulls. */
  private def withBad(rows: Seq[GeoRow], base: Long, gtype: Int): Dataset[GeoRow] =
    ds(rows ++ nanRows(base, gtype))
      .union(TestRows.nulled(ds(nanRows(base + 10, gtype))))

  private lazy val pointR = withBad(points(1, 400), 90000L, GeomType.POINT)
  private lazy val shapeR = withBad(shapes(0L, 2, 150), 90000L, GeomType.POLYGON)
  private lazy val shapeS = withBad(shapes(1000L, 3, 120), 91000L, GeomType.POLYGON)

  /** `f` with Spark's broadcast threshold at -1: no side fits, so the tile
    * join takes the slim plan. The frame is built and run inside. */
  private def slim[T](f: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** Does the plan broadcast R's tile emission (the left side)? */
  private def buildsR(df: DataFrame): Boolean =
    Aqe.collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec if j.buildSide == BuildLeft &&
        j.leftKeys.exists(_.references.exists(_.name == "tile")) => j
    }.nonEmpty

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def triples(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private val preds = Seq(Predicates.INTERSECTS, Predicates.DISJOINT,
    Predicates.EQUAL, Predicates.MEET, Predicates.INSIDE, Predicates.CONTAINS,
    Predicates.COVERS, Predicates.COVERED_BY)
  private val tilePreds =
    Set(Predicates.INTERSECTS, Predicates.DISJOINT, Predicates.MEET)

  test("broadcast-R plan ≡ slim plan: 8 predicates and find-relation, APRIL on and off") {
    val badIds = (90000L until 90020L).toSet ++ (91000L until 91020L)
    for ((rName, r) <- Seq("point R" -> pointR, "polygon R" -> shapeR);
         useApril <- Seq(false, true)) {
      val ctx = s"$rName, useApril=$useApril"
      // only an all-point R's emission estimate bounds its broadcast
      val wantBuildR = r eq pointR
      for (pred <- preds) {
        def join = GeoEngine.spatialJoin(r, shapeS, pred, grid,
          useApril = useApril, aprilOrder = 10)
        val viaBroadcast = join
        if (tilePreds(pred)) assert(buildsR(viaBroadcast) == wantBuildR,
          s"$ctx pred=$pred: ${viaBroadcast.queryExecution.executedPlan}")
        val got = pairs(viaBroadcast)
        val want = slim {
          val df = join
          assert(!buildsR(df), s"$ctx pred=$pred: slim plan broadcasts R")
          pairs(df)
        }
        assert(got == want, s"$ctx pred=$pred: broadcast ${got.size} slim ${want.size}")
        assert(!got.exists { case (a, b) => badIds(a) || badIds(b) },
          s"$ctx pred=$pred kept NaN- or null-MBR rows")
        if (pred == Predicates.INTERSECTS) assert(got.nonEmpty, ctx)
      }
      def rel = GeoEngine.findRelationJoin(r, shapeS, grid, useApril = useApril,
        aprilOrder = 10)
      val relDf = rel
      assert(buildsR(relDf) == wantBuildR,
        s"$ctx find-relation: ${relDf.queryExecution.executedPlan}")
      val got = triples(relDf)
      assert(got == slim(triples(rel)), s"$ctx find-relation")
      assert(got.exists(_._3 != Topology.TR_DISJOINT), ctx)
      assert(!got.exists { case (a, b, _) => badIds(a) || badIds(b) }, ctx)
    }
    // a caller's salt asks for the salted shuffle, which a broadcast skips
    assert(!buildsR(GeoEngine.spatialJoin(pointR, shapeS,
      Predicates.INTERSECTS, grid, saltFactor = 4)))
  }

  test("broadcast R: S scanned once, R never widened, no id re-join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_build_side").toString
    // a one-file point table (widen would repartition it) and a stored
    // APRIL index, as the serving path reads them
    ds(points(5, 2000)).coalesce(1).write.parquet(s"$dir/rpts")
    GeoEngine.aprilIndex(ds(shapes(0L, 7, 300)).toDF(), grid, 10)
      .write.parquet(s"$dir/sidx")
    val r = spark.read.parquet(s"$dir/rpts").as[GeoRow]
    val s = spark.read.parquet(s"$dir/sidx").as[GeoRow]
    def queries = Seq(
      "spatialJoin" -> GeoEngine.spatialJoin(r, s, Predicates.INTERSECTS, grid,
        useApril = true, aprilOrder = 10),
      "findRelationJoin" -> GeoEngine.findRelationJoin(r, s, grid,
        useApril = true, aprilOrder = 10))
    /** The final plan after one run, and that run's row count. */
    def run(df: DataFrame): (SparkPlan, Int) = {
      val n = df.collect().length
      (df.queryExecution.executedPlan, n)
    }
    def scans(p: SparkPlan, table: String) = Aqe.collect(p) {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.getName == table) => f
    }
    def widensR(p: SparkPlan) = Aqe.collect(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] &&
          e.find {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.exists(_.getName == "rpts")
            case _ => false
          }.isDefined => e
    }.nonEmpty
    def idJoins(p: SparkPlan) = Aqe.collect(p) {
      case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys)
        .exists(_.references.exists(a => a.name == "sid" || a.name == "rid")) => j
    }
    try {
      for ((name, df) <- queries) {
        val (p, n) = run(df)
        assert(n > 0, name)
        val sScans = scans(p, "sidx")
        assert(sScans.size == 1, s"$name: S scanned ${sScans.size} times in $p")
        assert(Seq("coords", "april_all", "april_full")
          .forall(c => sScans.head.requiredSchema.fieldNames.contains(c)),
          s"$name: S's payload not read by its one scan: ${sScans.head.requiredSchema}")
        assert(!widensR(p), s"$name: R widened in $p")
        assert(idJoins(p).isEmpty, s"$name: id re-join in $p")
      }
      // the slim twin re-joins S's payload by id and widens the one-file R
      slim {
        for ((name, df) <- queries) {
          val (p, _) = run(df)
          assert(scans(p, "sidx").size == 2, s"slim $name: $p")
          assert(widensR(p), s"slim $name: $p")
          assert(idJoins(p).nonEmpty, s"slim $name: $p")
        }
      }
    } finally {
      val root = new java.io.File(dir)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(root)
    }
  }
}
