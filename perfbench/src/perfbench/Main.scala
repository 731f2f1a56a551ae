package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/**
 * JVM side of the benchmark: one workload in one closed loop (the main
 * thread sends each op only after the previous one returned). Sets the
 * workload up, warms up with a fixed number of rotations of its ops, then
 * runs whole rotations until `--seconds` have passed. With `--trace 1` the
 * window is split: an untraced half, then a traced half with the listener
 * and plan counters. Finally sets the workload up `Setups` more times in
 * fresh directories, in the warm JVM; setup_s is their median.
 *
 * Writes one JSON file (`--out`); `perfbench/run.py` checks every op's
 * output against the DuckDB oracle and derives the metrics.
 *
 *   java ... perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *        --root RUN_DIR --out RESULT.json --cpus N
 */
object Main {

  /** Warm setups after the timed window; setup_s is their median. */
  val Setups = 3

  /** Order-independent digest of an all-integral result: count, Σu and
    * Σu² mod P, where u mixes the row's columns mod the prime P. The same
    * arithmetic runs in DuckDB on the oracle side (run.py). */
  val P = 2147483647L
  val Mult = Array(1000003L, 998244353L, 1234567891L, 1597334677L, 402653189L, 805306457L)

  def digest(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    require(fields.length <= Mult.length, s"too many output columns: ${fields.length}")
    fields.foreach(f => require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
      s"column ${f.name} is ${f.dataType.simpleString}, digest covers integral columns"))
    val u = pmod(fields.zipWithIndex.map { case (f, i) =>
      pmod(pmod(col(f.name).cast("long"), lit(P)) * lit(Mult(i)), lit(P))
    }.reduce(_ + _), lit(P))
    df.select(u.as("u")).agg(count(lit(1)).as("n"),
      coalesce(sum(col("u")), lit(0L)).as("s1"),
      coalesce(sum(pmod(col("u") * col("u"), lit(P))), lit(0L)).as("s2"))
  }

  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        val data = fs.filter(f => f.getFileName.toString.endsWith(".parquet"))
        (fs.map(Files.size).sum, data.length.toLong)
      } finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val cpus = a("cpus").toInt
    val prm = Workloads.params(workload)
    val (base, replicas, nPages) = (prm.sizes, prm.replicas, prm.pages)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = new Tracer
    // the work split is fixed (4 shuffle partitions, parallelism 4) so it
    // does not depend on the machine's core count
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // spans only in the traced half; untraced ops are timed with nanoTime
    var tracing = false
    def span(name: String, op: Long = -1L)(body: => Unit): Double =
      if (tracing) tracer.span(name, op)(body)
      else { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

    // ---- setup -------------------------------------------------------------
    final case class State(dir: String, rows: Map[String, Long], ops: IndexedSeq[Op],
                           index: Option[(Double, Long, Long)])
    def setUp(dir: String): State = workload match {
      case "april_dense" =>
        val rows = Inputs.generate(spark, dir, seed, base, replicas,
          Seq("orders", "part", "nation"), Workloads.westKeep)
        val ti = System.nanoTime()
        val idx = Workloads.buildIndex(spark, dir, s"$dir/idx")
        val idxS = (System.nanoTime() - ti) / 1e9
        val (bytes, files) = dirBytes(Paths.get(dir, "idx"))
        State(dir, rows, Workloads.aprilDenseOps(spark, dir, idx, rows),
          Some((idxS, bytes, files)))
      case "mbr_mix" =>
        val rows = Inputs.generate(spark, dir, seed, base, 1,
          Seq("orders", "part", "customer", "supplier", "documents", "nation"))
        State(dir, rows, Workloads.mbrMixOps(spark, dir, rows), None)
      case "ingest_index" =>
        val rows = Inputs.generate(spark, dir, seed, base, 1, Seq("part"))
        State(dir, rows, IndexedSeq.empty, None)
      case other => sys.error(s"unknown workload $other")
    }
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // the ops run on the first (cold) setup; setup_s is measured on
    // `Setups` more, after the timed window, in a warm JVM
    val (state, coldSetupS) = timed(setUp(root.resolve("inputs").toString))

    // ---- ops ---------------------------------------------------------------
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    var opId = 0L
    val planStats = mutable.HashMap.empty[Long, PlanStats.Stats]

    def runQuery(op: Op, phase: String): Map[String, Any] = {
      opId += 1
      val id = opId
      sc.setLocalProperty(Tracer.OpProperty, id.toString)
      val t0 = System.nanoTime()
      var buildS, planS, execS = 0.0
      var result: Option[org.apache.spark.sql.Row] = None
      var err: Option[String] = None
      var columns = Seq.empty[String]
      try span(s"op:${op.name}", id) {
        var df: DataFrame = null
        buildS = span("engine.build") {
          val out = op.build()
          columns = out.columns.toSeq
          df = digest(out)
        }
        planS = span("plans.plan") { df.queryExecution.executedPlan }
        execS = span("engine.execute") { result = Some(df.collect()(0)) }
        if (tracing) planStats(id) = PlanStats.of(df.queryExecution.executedPlan)
      } catch {
        case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      Map("id" -> id, "name" -> op.name, "phase" -> phase,
        "traced" -> tracing, "secs" -> secs, "build_s" -> buildS, "plan_s" -> planS,
        "exec_s" -> execS, "rows_in" -> op.rowsIn, "columns" -> columns,
        "n" -> result.map(_.getLong(0)), "s1" -> result.map(_.getLong(1)),
        "s2" -> result.map(_.getLong(2)), "err" -> err)
    }

    def runIngest(phase: String): Map[String, Any] = {
      opId += 1
      val id = opId
      sc.setLocalProperty(Tracer.OpProperty, id.toString)
      val opRoot = root.resolve(s"ingest/op$id")
      val t0 = System.nanoTime()
      var timing: Option[Ingest.Timing] = None
      var err: Option[String] = None
      try span("op:ingest", id) {
        timing = Some(Ingest.run(spark, opRoot.toString, nPages, seed + id,
          state.dir, (n, body) => span(n)(body())))
      } catch {
        case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val (bytes, files) = dirBytes(opRoot)
      val (idxBytes, idxFiles) = dirBytes(opRoot.resolve("polygons_idx"))
      Map("id" -> id, "name" -> "ingest", "phase" -> phase,
        "traced" -> tracing, "secs" -> secs, "rows_in" -> nPages,
        "pages" -> nPages, "page_seed" -> (seed + id), "root" -> opRoot.toString,
        "polygons" -> state.rows("part"),
        "bytes_written" -> bytes, "files" -> files,
        "index_bytes" -> idxBytes, "index_files" -> idxFiles,
        "synthesize_s" -> timing.map(_.synthesize), "geotag_s" -> timing.map(_.geotag),
        "tile_assign_s" -> timing.map(_.tileAssign),
        "index_build_s" -> timing.map(_.indexBuild), "err" -> err)
    }

    def rotation(phase: String): Unit =
      if (workload == "ingest_index") records += runIngest(phase)
      else state.ops.foreach(op => records += runQuery(op, phase))

    // the first rotation compiles every op's code, the later ones let the
    // JIT settle
    val tw = System.nanoTime()
    (1 to prm.warmup).foreach(_ => rotation("warmup"))
    val warmupS = (System.nanoTime() - tw) / 1e9
    val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    def window(secs: Double, phase: String): Unit = {
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < secs) rotation(phase)
    }
    var kernels = Map.empty[String, Double]
    if (!traced) window(seconds, "timed")
    else {
      window(seconds / 2, "untraced")
      sc.addSparkListener(tracer)
      tracing = true
      tracer.span("run") { tracer.span(s"workload:$workload") {
        window(seconds / 2, "timed")
      } }
      tracing = false
      org.apache.spark.PerfbenchListenerDrain(sc)
      sc.removeSparkListener(tracer)
      tracer.finish()
      kernels = Kernels.run(spark, seed, Workloads.params("april_dense"))
    }
    val warmSetups = (1 to Setups).map { k =>
      val dir = root.resolve(s"setup$k")
      val (st, t) = timed(setUp(dir.toString))
      deleteTree(dir)
      (t, st.index.map(_._1))
    }

    val codegenMax = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax
    val counters = tracer.counters.map { case (op, c) => op.toString -> Map(
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "failed_tasks" -> c.failedTasks, "sched_delay_s" -> c.schedDelayMs / 1e3,
      "task_cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
      "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
      "fetch_wait_s" -> c.fetchWaitMs / 1e3, "spill_bytes" -> c.spill)
    }
    val plans = planStats.map { case (op, s) => op.toString -> Map(
      "explode_in" -> s.explodeIn, "explode_out" -> s.explodeOut,
      "candidate_pairs" -> s.candidatePairs, "broadcast_bytes" -> s.broadcastBytes,
      "april_exprs" -> s.aprilExprs)
    }
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cpus" -> cpus, "replicas" -> replicas,
      "pages" -> nPages, "input_dir" -> state.dir, "rows" -> state.rows,
      "session_s" -> sessionS, "cold_setup_s" -> coldSetupS,
      "setup_s" -> warmSetups.map(_._1), "setup_index_build_s" -> warmSetups.flatMap(_._2),
      "index" -> state.index.map { case (s, b, f) =>
        Map("build_s" -> s, "bytes" -> b, "files" -> f) },
      "warmup_s" -> warmupS, "jvm_to_first_op_s" -> firstOpS,
      "ops" -> records, "codegen_max_method_bytes" -> codegenMax,
      "peak_rss_mb" -> peakRssMb,
      "oracle_sql" -> (state.ops.map(_.name) :+ "q_index_build")
        .distinct.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap,
      "trace" -> (if (!traced) None else Some(Map(
        "spans" -> tracer.spansJson, "self_time_s" -> tracer.selfTimes,
        "counters" -> counters, "plans" -> plans,
        "unattributed_jobs" -> tracer.unattributedJobs, "kernels" -> kernels))))
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }
}
