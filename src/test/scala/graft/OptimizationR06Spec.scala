package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import graft.web.{Page, Pages}

/** The typed page synthesis `Pages.synthesize` ran before it became column
  * kernels: one scalar map per id, verbatim (its private `mix` and `Langs`
  * copied), the reference the column path is checked against. */
private object TypedPages {
  private val Langs = Array("en", "de", "fr", "es", "it")
  private def mix(v: Long): Long = {
    var h = v * 0x9e3779b97f4a7c15L
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
    h
  }
  def page(id: Long): Page = {
    val url = Pages.urlFor(id)
    val text = Pages.textFor(id)
    val lang = Langs(Math.floorMod(mix(id + 7), Langs.length.toLong).toInt)
    val html = s"<html><body>$text</body></html>".getBytes("UTF-8")
    val ts = new java.sql.Timestamp(1600000000000L + Math.floorMod(mix(id + 3), 100000000L))
    Page(url, ts, html, text, lang)
  }
}

/**
 * Round-6 optimization guards:
 *  - static dispatch SideMeta constants are SAFE vs the dynamically computed
 *    metadata on the real bench inputs (a wrong static flag would silently
 *    drop a candidate sub-join);
 *  - the column page synthesis is byte-identical to the former typed path;
 *  - the widen guard no-ops when the input is already near target
 *    parallelism or already holds an exchange, still widens clearly-narrow
 *    inputs, and never launches a job;
 *  - no join-family query generates a method past the JVM's 8000-byte JIT
 *    ceiling (DontCompileHugeMethods runs such a method interpreted), holds
 *    a lambda or any other interpreted (CodegenFallback) expression, or
 *    runs a Generate outside whole-stage codegen;
 *  - an APRIL predicate join's generated code calls the verdict kernel
 *    once per candidate pair;
 *  - batch kNN's top-k is limited map-side, before its exchange.
 */
class OptimizationR06Spec extends AnyFunSuite {

  private object Aqe extends AdaptiveSparkPlanHelper

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("static SideMeta constants are safe vs dynamic sideMeta on bench inputs") {
    val triples = SparkEntry.staticMetaPairs(spark, sfDir)
    assert(triples.size == 10)
    triples.foreach { case (name, st, dy) =>
      // type flags must be EXACT (they gate the all-rect fast path and the
      // geometry/APRIL attach shape)
      assert(st.hasNonRect == dy.hasNonRect, s"$name hasNonRect")
      assert(st.hasNonBox == dy.hasNonBox, s"$name hasNonBox")
      assert(st.hasRect == dy.hasRect, s"$name hasRect")
      assert(st.hasBox == dy.hasBox, s"$name hasBox")
      // presence flags: dynamic presence must imply the static flag — a
      // static `false` where rows exist would DROP a sub-join that can
      // produce pairs (the converse, static true / dynamic false, only adds
      // a provably-empty branch)
      assert(!dy.hasWide || st.hasWide, s"$name hasWide unsafe")
      assert(!dy.hasNarrow || st.hasNarrow, s"$name hasNarrow unsafe")
    }
  }

  test("column-only page synthesis is byte-identical to the typed path") {
    def fields(p: Page) =
      (p.url, p.warc_ts, p.html.toSeq, p.text, p.lang)
    val want = (0L until 500L).map(id => fields(TypedPages.page(id)))
    // all five fields, generated code and interpreted
    for (mode <- Seq(Map.empty[String, String],
        Map("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
      mode.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val got = Pages.synthesize(spark, 500).collect().map(fields)
        assert(got.toSeq.sortBy(_._1) == want.sortBy(_._1), mode)
      } finally mode.keys.foreach(spark.conf.unset)
    }
    // the registry's pruned (url, text) slice
    val slice = Pages.synthesize(spark, 500).select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(slice == want.map(f => f._1 -> f._4).toMap)
    assert(slice.size == 500)
  }

  /** `f`'s result and the number of Spark jobs it launched. A listener
    * counts job starts between two marked sentinel jobs: the bus delivers
    * events in order, so once the second sentinel's start arrives every job
    * launched by `f` has been counted, and none launched before it is. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    import java.util.concurrent.{Semaphore, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val sentinels = new Semaphore(0)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.sentinel") != null)
          sentinels.release()
        else jobs.incrementAndGet()
    }
    def sentinel(): Unit = {
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      assert(sentinels.tryAcquire(60, TimeUnit.SECONDS), "listener bus stalled")
    }
    sc.addSparkListener(listener)
    try {
      sentinel()
      jobs.set(0)
      val out = f
      sentinel()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("widen guard: no-op near target parallelism, widens narrow inputs") {
    import org.apache.spark.sql.DataFrame
    val target = spark.sparkContext.defaultParallelism // 4
    // widen decides from the planned query alone: no input launches a job
    def widen(df: DataFrame): DataFrame = {
      val (out, jobs) = jobsDuring(GeoEngine.widen(df))
      assert(jobs == 0, s"widen launched $jobs job(s) on ${df.queryExecution.executedPlan}")
      out
    }
    val near = spark.range(0, 1000, 1, target / 2).toDF() // half of target
    assert(widen(near).rdd.getNumPartitions == target / 2,
      "an input within 2x of target must not pay a repartition")
    val narrow = spark.range(0, 1000, 1, 1).toDF()
    assert(widen(narrow).rdd.getNumPartitions == target,
      "a clearly narrow input must still widen")
    val wide = spark.range(0, 1000, 1, target + 2).toDF()
    assert(widen(wide).rdd.getNumPartitions == target + 2)
    // a plan that already holds an exchange keeps its partitioning (under
    // AQE, reading its partition count would run that shuffle) — also when
    // the exchange leaves it narrow
    // (the cached input has its own source: the cache manager would serve
    // an equal plan from the cache)
    val cached = spark.range(0, 500, 1, 1).toDF().repartition(1).cache()
    for (held <- Seq(narrow.repartition(1), narrow.groupBy().count(), cached))
      assert(widen(held) eq held, held.queryExecution.executedPlan.toString)
    cached.unpersist()
  }

  /** Every join-family query's executed plan (the AQE final plan), from one
    * noop write each; shared by the plan gates below. */
  private lazy val joinFamilyPlans: Seq[(String, SparkPlan)] = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // every registry entry that calls spatialJoin, spatialJoinAuto,
    // findRelationJoin, rangeBatch, distanceJoin or knnBatchDf
    val joinFamily = Seq("q_pip_join", "q_skew_join", "q_inside_join",
      "q_equal_join", "q_meet_join", "q_find_relation", "q_contains_join",
      "q_covers_join", "q_covered_by_join", "q_disjoint_join",
      "q_pip_join_april", "q_find_relation_april", "q_distance_join",
      "q_range_poly_april", "q_range_count", "q_range_collect",
      "q_poly_relations", "q_knn")
    // the noop write runs in its own QueryExecution: take its final
    // adaptive plan from the listener (query builds run actions of their
    // own — metadata, index loads — hence the write-command filter)
    val writes = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) writes.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try joinFamily.map { q =>
      writes.clear()
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val qe = writes.poll(60, TimeUnit.SECONDS)
      assert(qe != null, s"$q: no write execution observed")
      q -> qe.executedPlan
    } finally spark.listenerManager.unregister(listener)
  }

  test("JIT ceiling: every join-family query's codegen methods stay under 8000 bytes") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    joinFamilyPlans.foreach { case (q, plan) =>
      val stages = Aqe.collect(plan) { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, s"$q: no whole-stage codegen in $plan")
      stages.foreach { w =>
        val size = CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
        assert(size < 8000,
          s"$q: codegen stage ${w.codegenStageId} has a $size-byte method")
      }
    }
  }

  test("join-family plans hold no lambda and compile every Generate") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter}
    // a stage's own operators: its subtree down to its InputAdapters
    def compiled(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(compiled)
    }
    joinFamilyPlans.foreach { case (q, plan) =>
      // a lambda (transform, filter, …) is CodegenFallback: it keeps its
      // operator out of whole-stage codegen and evaluates per row, per node
      val lambdas = Aqe.flatMap(plan)(_.expressions.flatMap(
        _.collect { case h: HigherOrderFunction => h.prettyName }))
      assert(lambdas.isEmpty, s"$q: lambdas $lambdas in $plan")
      // nor any other CodegenFallback expression: it is evaluated per row
      // outside the generated code, whatever operator holds it
      val interpreted = Aqe.flatMap(plan)(_.expressions.flatMap(
        _.collect { case c: CodegenFallback => c.prettyName }))
      assert(interpreted.isEmpty, s"$q: interpreted $interpreted in $plan")
      val inStage = Aqe.collect(plan) { case w: WholeStageCodegenExec => w }
        .flatMap(w => compiled(w.child))
      Aqe.collect(plan) { case g: GenerateExec => g }.foreach { g =>
        assert(inStage.exists(_ eq g), s"$q: interpreted ${g.simpleString(200)}")
      }
    }
  }

  test("APRIL predicate joins call the verdict kernel once per candidate pair") {
    // the accept test reads one verdict; a verdict column tested twice is
    // inlined twice into the join condition or filter that reads it, and
    // the generated code then calls the kernel a second time per pair
    for (q <- Seq("q_pip_join_april", "q_range_poly_april")) {
      val plan = joinFamilyPlans.find(_._1 == q).get._2
      val code = Aqe.collect(plan) { case w: WholeStageCodegenExec => w }
        .map(_.doCodeGen()._2.body).mkString("\n")
      val calls = "GeoKernels\\.aprilVerdict\\(".r.findAllIn(code).length
      assert(calls == 1, s"$q: $calls aprilVerdict calls in its generated code")
    }
  }

  test("kNN top-k is a map-side WindowGroupLimit, not a typed aggregation") {
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("q_knn")(spark, sfDir)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    // the per-query rank filter runs partially before the exchange: the
    // shuffle carries at most k rows per query and input partition
    val partialBelowExchange = Aqe.collect(plan) { case e: ShuffleExchangeExec => e }
      .flatMap(e => Aqe.collect(e) {
        case w: WindowGroupLimitExec if w.mode == Partial => w })
    assert(partialBelowExchange.nonEmpty, plan.toString)
    val typed = Seq("ObjectHashAggregate", "AppendColumns", "MapGroups")
      .filter(n => Aqe.find(plan)(_.nodeName.startsWith(n)).isDefined)
    assert(typed.isEmpty, s"typed operators $typed in $plan")
  }

  test("dupGroups small path (limit-probe) matches union-find semantics") {
    import spark.implicits._
    // two components + an isolated self-pair to drop
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L))
      .toDF("a", "b")
    val got = graft.ops.TextOps.dupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
