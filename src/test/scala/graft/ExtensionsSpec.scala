package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** SQL surface: the native expressions registered via SparkSessionExtensions
  * must agree with the kernel API through plain spark.sql text. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // all suites share one JVM: getOrCreate would silently reuse a session
    // built WITHOUT the extensions — force a fresh session (the existing
    // SparkContext is reused, only the session state is new)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // the static `spark.sql.extensions` conf only applies at SparkContext
    // creation; with a pre-existing context (shared test JVM) the builder's
    // withExtensions hook is the supported injection point
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions()(_))
      .getOrCreate()
  }

  private def mkView(): Unit = {
    import spark.implicits._
    val rows = Seq(
      // id, gtype, coords: two boxes + a point + a triangle
      (1L, GeomType.BOX, Array(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0, 0.0, 0.0)),
      (2L, GeomType.BOX, Array(1.0, 1.0, 3.0, 1.0, 3.0, 3.0, 1.0, 3.0, 1.0, 1.0)),
      (3L, GeomType.POINT, Array(2.0, 2.0)),
      (4L, GeomType.BOX, Array(4.0, 0.0, 8.0, 0.0, 8.0, 4.0, 4.0, 4.0, 4.0, 0.0)),
      (5L, GeomType.POLYGON, Array(10.0, 10.0, 12.0, 10.0, 11.0, 12.0, 10.0, 10.0)))
    rows.toDF("id", "gtype", "coords").createOrReplaceTempView("geoms")
  }

  test("st_* SQL functions agree with the Topology kernels") {
    mkView()
    val pairs = spark.sql(
      """SELECT a.id AS ra, b.id AS rb,
        |  st_intersects(a.gtype, a.coords, b.gtype, b.coords) AS inter,
        |  st_contains(a.gtype, a.coords, b.gtype, b.coords) AS cont,
        |  st_meets(a.gtype, a.coords, b.gtype, b.coords) AS meet,
        |  st_relation(a.gtype, a.coords, b.gtype, b.coords) AS rel
        |FROM geoms a JOIN geoms b ON a.id < b.id""".stripMargin)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getInt(5)))).toMap
    assert(pairs((1L, 2L)) == ((true, true, false, Topology.TR_CONTAINS)))
    assert(pairs((1L, 3L))._1 && pairs((1L, 3L))._2) // point inside box
    assert(pairs((1L, 4L)) == ((true, false, true, Topology.TR_MEET)))
    assert(pairs((2L, 4L))._1 == false)
    assert(pairs((1L, 5L)) == ((false, false, false, Topology.TR_DISJOINT)))
  }

  test("type misuse from SQL is an analysis-time error, not a runtime crash") {
    mkView()
    // coords passed where gtype belongs (array<double> vs int): the analyzer
    // must reject it (ExpectsInputTypes), not compile code that ClassCastExceptions
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT st_intersects(a.coords, a.coords, b.gtype, b.coords)
          |FROM geoms a JOIN geoms b ON a.id < b.id""".stripMargin).collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"))
    // int arrays where array<long> interval lists belong → analysis error too
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT april_verdict(1, array('a','b'), array('c'), array('d'), array('e'))")
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("type"))
  }

  test("non-positive kernel parameters fail at query construction, not in codegen") {
    // band_buckets(sig, 0) would divide by zero deep inside generated code;
    // the expression constructors reject it with a clear message instead
    for (sql <- Seq(
        "SELECT band_buckets(array(1L, 2L), 0)",
        "SELECT minhash_sig('text', 0, 4)",
        "SELECT minhash_sig('text', 16, -1)",
        "SELECT shingle_hashes('text', 0)",
        "SELECT fingerprint('text', 0)",
        "SELECT hex_cell(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE), 99)",
        "SELECT lsh_sig(array(CAST(1.0 AS FLOAT)), 1L, 0)")) {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(e.getMessage != null && e.getMessage.contains("must be"),
        s"$sql: expected a constructor-validation message, got ${e.getMessage}")
    }
    // the boundary values themselves are accepted
    assert(spark.sql("SELECT band_buckets(array(1L, 2L), 1)").collect().nonEmpty)
    assert(spark.sql(
      "SELECT hex_cell(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE), 31)")
      .collect().nonEmpty)
  }

  test("codegen fnv64/hex expressions agree with the Scala kernels") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val samples = Seq("", "a", "hello world", "https://site-42.example/page/7",
      "ünïcodé ßtring €é", "tab\tand\nnewline", "世界")
    val df = samples.toDF("s")
      .withColumn("h", graft.functions.GeoExprs.fnv64(col("s")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    samples.foreach { s =>
      assert(df(s) == graft.ops.TextOps.fnv64(s), s"fnv64 mismatch for '$s'")
    }
    val pts = Seq((-179.9, -84.3), (0.0, 0.0), (13.37, 52.52), (179.9, 84.9))
    val hexDf = pts.toDF("x", "y")
      .withColumn("c", graft.functions.GeoExprs.hexCellOf(col("x"), col("y"), 7))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(hexDf((x, y)) == core.HexGrid.latLngToCell(x, y, 7))
    }
  }

  test("text/dedup/similarity SQL functions agree with the Scala kernels") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq(("the quick brown fox", 0L)).toDF("t", "z").createOrReplaceTempView("tx")
    val r = spark.sql(
      """SELECT fnv64(t) AS h, simhash64(t) AS sh, lang_id(t) AS lang,
        |  fingerprint(t) AS fp, minhash_sig(t, 8, 3) AS sig,
        |  sorted_jaccard(shingle_hashes(t, 3), shingle_hashes(t, 3)) AS j,
        |  band_buckets(minhash_sig(t, 8, 3), 2) AS bb
        |FROM tx""".stripMargin).head()
    val t = "the quick brown fox"
    assert(r.getAs[Long]("h") == graft.ops.TextOps.fnv64(t))
    assert(r.getAs[Long]("sh") == graft.ops.TextOps.simhash64(t))
    assert(r.getAs[String]("lang") == graft.ops.TextOps.langId(t))
    assert(r.getAs[Long]("fp") == graft.ops.TextOps.fingerprint(t))
    assert(r.getSeq[Long](r.fieldIndex("sig")) == graft.ops.TextOps.minhash(t, 8, 3).toSeq)
    assert(r.getAs[Double]("j") == 1.0)
    assert(r.getSeq[Long](r.fieldIndex("bb")).length == 2)
    // similarity kernels: cosine of a vector with itself = 1
    Seq((Array(1.0f, 2.0f, 3.0f), 0L)).toDF("v", "z").createOrReplaceTempView("vx")
    val v = spark.sql(
      "SELECT cosine_sim(v, v) AS c, lsh_sig(v, 42L, 6) AS s FROM vx").head()
    assert(math.abs(v.getAs[Double]("c") - 1.0) < 1e-12)
    assert(v.getAs[Long]("s") ==
      graft.ops.Ann.lshSignature(Seq(1.0f, 2.0f, 3.0f), 6, 42L))
  }

  test("SQL spatial join rewrites the cartesian into the tile-exchange plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 600×600 mixed points/boxes/diamonds — big enough that a cartesian
    // would be noticeable, small enough to brute-force the oracle
    def table(seed: Int, n: Int): org.apache.spark.sql.DataFrame =
      (0 until n).map { i =>
        val k = i * 31 + seed
        val cx = (k * 13 % 2800) / 8.0 - 175.0
        val cy = (k * 17 % 1280) / 8.0 - 80.0
        k % 3 match {
          case 0 => (i.toLong, GeomType.POINT, Array(cx, cy))
          case 1 =>
            val hw = (k % 40 + 2) / 8.0; val hh = (k % 30 + 2) / 8.0
            (i.toLong, GeomType.BOX, Array(cx - hw, cy - hh, cx + hw, cy - hh,
              cx + hw, cy + hh, cx - hw, cy + hh, cx - hw, cy - hh))
          case _ =>
            val hw = (k % 40 + 2) / 8.0; val hh = (k % 30 + 2) / 8.0
            (i.toLong, GeomType.POLYGON, Array(cx - hw, cy, cx, cy - hh,
              cx + hw, cy, cx, cy + hh, cx - hw, cy))
        }
      }.toDF("id", "gtype", "coords")
    table(1, 600).createOrReplaceTempView("ta")
    table(7, 600).createOrReplaceTempView("tb")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def isProduct(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    }
    // oracle: the exact kernel over all pairs
    val as = table(1, 600).collect().map(r =>
      (r.getLong(0), Geom(r.getInt(1), r.getSeq[Double](2).toArray)))
    val bs = table(7, 600).collect().map(r =>
      (r.getLong(0), Geom(r.getInt(1), r.getSeq[Double](2).toArray)))
    def brute(pred: Int, bFirst: Boolean): Set[(Long, Long)] = (for {
      (ai, ag) <- as; (bi, bg) <- bs
      if (if (bFirst) Topology.evalPredicate(pred, bg, ag)
          else Topology.evalPredicate(pred, ag, bg))
    } yield (ai, bi)).toSet
    val want = brute(Predicates.INTERSECTS, bFirst = false)

    // plan shape: one explode per side into one tile equi-join — two
    // Generates, no union of per-level sub-joins
    val df = spark.sql(
      """SELECT a.id AS rid, b.id AS sid FROM ta a JOIN tb b
        |ON st_intersects(a.gtype, a.coords, b.gtype, b.coords)""".stripMargin)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(!isProduct(df), s"spatial join still a product:\n${plan.toString.take(800)}")
    assert(plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
      .size == 2, plan.toString)
    assert(plan.collect { case u: org.apache.spark.sql.execution.UnionExec => u }
      .isEmpty, plan.toString)
    val got = pairsOf(df)
    assert(got == want, s"got ${got.size} want ${want.size}")

    // every rewritten predicate equals the brute force; st_inside draws its
    // arguments from the RIGHT side first
    for ((fn, pred, bFirst) <- Seq(("st_meets", Predicates.MEET, false),
        ("st_covers", Predicates.COVERS, false), ("st_equals", Predicates.EQUAL, false),
        ("st_inside", Predicates.INSIDE, true))) {
      val args = if (bFirst) "b.gtype, b.coords, a.gtype, a.coords"
        else "a.gtype, a.coords, b.gtype, b.coords"
      val q = spark.sql(
        s"SELECT a.id AS rid, b.id AS sid FROM ta a JOIN tb b ON $fn($args)")
      assert(!isProduct(q), s"$fn not rewritten")
      val got = pairsOf(q)
      val exp = brute(pred, bFirst)
      assert(got == exp, s"$fn: got ${got.size} want ${exp.size}")
    }

    // user columns named like the engine's join columns pass through intact
    table(1, 600).select(col("*"), (col("id") * 2).as("tile"),
      (col("id") + 1000).as("rid"), (col("id") * 3).as("salt"),
      (col("id") / 2.0).as("rxmin")).createOrReplaceTempView("ta_c")
    table(7, 600).select(col("*"), (col("id") * 5).as("tile"),
      (col("id") + 7000).as("rid"), (col("id") * 7).as("salt"),
      (-col("id") / 4.0).as("rxmin")).createOrReplaceTempView("tb_c")
    val coll = spark.sql(
      """SELECT a.id, b.id, a.tile, a.rid, a.salt, a.rxmin,
        |  b.tile, b.rid, b.salt, b.rxmin FROM ta_c a JOIN tb_c b
        |ON st_intersects(a.gtype, a.coords, b.gtype, b.coords)""".stripMargin)
    assert(!isProduct(coll))
    val collRows = coll.collect()
    assert(collRows.map(r => (r.getLong(0), r.getLong(1))).toSet == want)
    collRows.foreach { r =>
      val (ai, bi) = (r.getLong(0), r.getLong(1))
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)) ==
        ((ai * 2, ai + 1000, ai * 3, ai / 2.0)), r.toString)
      assert((r.getLong(6), r.getLong(7), r.getLong(8), r.getDouble(9)) ==
        ((bi * 5, bi + 7000, bi * 7, -bi / 4.0)), r.toString)
    }

    // WHERE-form with an extra cross-side conjunct: the pushed-down filter
    // becomes the join condition; the st_* conjunct drives the rewrite and
    // the residual applies on top
    val mixed = spark.sql(
      """SELECT a.id AS rid, b.id AS sid FROM ta a, tb b
        |WHERE st_intersects(a.gtype, a.coords, b.gtype, b.coords)
        |  AND a.id % 2 = b.id % 3""".stripMargin)
    assert(!mixed.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val gotMixed = pairsOf(mixed)
    assert(gotMixed == want.filter { case (ai, bi) => ai % 2 == bi % 3 },
      s"mixed conjunct: got ${gotMixed.size}")
    // st_disjoint keeps SQL semantics — NOT rewritten (stays a product)
    val dis = spark.sql(
      """SELECT a.id FROM ta a JOIN tb b
        |ON st_disjoint(a.gtype, a.coords, b.gtype, b.coords)""".stripMargin)
    assert(isProduct(dis))
    // Spark's own optimizer-rule exclusion switches the rewrite off
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.SpatialJoinRewrite")
    try assert(isProduct(spark.sql(
      """SELECT a.id FROM ta a JOIN tb b
        |ON st_intersects(a.gtype, a.coords, b.gtype, b.coords)""".stripMargin)))
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("s2-like cells: codegen HilbertCell ≡ HexGrid.s2LikeCell scalar API") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pts = Seq((-180.0, -90.0), (-179.99, -89.99), (0.0, 0.0),
      (13.37, 52.52), (179.99, 89.99), (180.0, 90.0), (-77.03, 38.9))
    val fromExpr = pts.toDF("x", "y")
      .withColumn("c", graft.functions.GeoExprs.hilbertCell(col("x"), col("y"),
        -180.0, -90.0, 360.0, 180.0, 12))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(fromExpr((x, y)) == core.HexGrid.s2LikeCell(x, y, 12),
        s"s2 cell mismatch at ($x, $y)")
    }
  }

  test("reference golden join through the SQL surface (rewrite + st_intersects)") {
    import org.apache.spark.sql.functions._
    // the reference's test2 workload: polygons_1 × polygons_2 intersection
    // join = exactly 5 pairs, (0..4, 10) — here driven from plain SQL text
    val dir = "/root/reference/Hecatoncheir/test/samples"
    GeoEngine.readWkt(spark, s"$dir/data_sample_polygons_1.wkt", GeomType.POLYGON)
      .toDF().createOrReplaceTempView("gold_r")
    GeoEngine.readWkt(spark, s"$dir/data_sample_polygons_2.wkt", GeomType.POLYGON)
      .toDF().createOrReplaceTempView("gold_s")
    val df = spark.sql(
      """SELECT r.id AS rid, s.id AS sid FROM gold_r r JOIN gold_s s
        |ON st_intersects(r.gtype, r.coords, s.gtype, s.coords)""".stripMargin)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 10L), (1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L)),
      s"golden intersection pairs: $got")
  }

  test("st_* predicates in a SQL join filter use codegen (no ScalaUDF in plan)") {
    mkView()
    val df = spark.sql(
      """SELECT a.id, b.id FROM geoms a JOIN geoms b
        |ON a.id < b.id AND st_intersects(a.gtype, a.coords, b.gtype, b.coords)""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("st_refine"), plan.take(500))
    assert(!plan.contains("ScalaUDF"))
    assert(df.count() == 4)
  }
}
