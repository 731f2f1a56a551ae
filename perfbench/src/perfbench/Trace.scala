package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}

/** A span: a named interval with the span that caused it. Times are
  * milliseconds since the epoch, as Spark's listener events report them. */
final case class Span(id: Long, parent: Long, name: String,
                      start: Double, end: Double, op: Long)

/** Per-op counters from listener events, for one op id. */
final class OpCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var schedDelayMs = 0.0; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L
}

/**
 * Span recorder for the traced run. The benchmark opens spans around its
 * calls into each layer; a SparkListener adds the Spark job and stage spans
 * and the task counters, tied to the op through the `perfbench.op` local
 * property set on the main thread before each op. Everything stays in
 * memory until the run ends.
 */
final class Tracer extends SparkListener {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var currentOp = 0L

  /** Opens a span, runs `body`, closes it; returns elapsed seconds. */
  def span(name: String, op: Long = -1L)(body: => Unit): Double = {
    val id = synchronized { nextId += 1; nextId }
    val parent = if (stack.isEmpty) 0L else stack.top
    val t0 = nowMs
    stack.push(id)
    if (op >= 0) currentOp = op
    val spanOp = currentOp
    try body finally {
      stack.pop()
      if (op >= 0) currentOp = 0L
      val t1 = nowMs
      synchronized { spans += Span(id, parent, name, t0, t1, spanOp) }
    }
    (nowMs - t0) / 1e3
  }

  // ---- listener side ------------------------------------------------------
  val counters = mutable.HashMap.empty[Long, OpCounters]
  private val jobOp = mutable.HashMap.empty[Int, (Long, Long, Double)] // op, span id, start
  private val stageJob = mutable.HashMap.empty[Int, Int]
  var unattributedJobs = 0L

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.OpProperty))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties) match {
      case Some(op) =>
        nextId += 1
        jobOp(e.jobId) = (op, nextId, e.time.toDouble)
        e.stageIds.foreach(st => stageJob(st) = e.jobId)
        counters.getOrElseUpdate(op, new OpCounters).jobs += 1
      case None => unattributedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.get(e.jobId).foreach { case (op, id, t0) =>
      // parent resolved in `finish`: the innermost benchmark span of the
      // op that was open when the job started
      spans += Span(id, -1L, "spark.job", t0, e.time.toDouble, op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (job <- stageJob.get(info.stageId); (op, jobSpan, _) <- jobOp.get(job)) {
      counters.getOrElseUpdate(op, new OpCounters).stages += 1
      for (t0 <- info.submissionTime; t1 <- info.completionTime) {
        nextId += 1
        spans += Span(nextId, jobSpan, "spark.stage", t0.toDouble, t1.toDouble, op)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); (op, _, _) <- jobOp.get(job)) {
      val c = counters.getOrElseUpdate(op, new OpCounters)
      c.tasks += 1
      val info = e.taskInfo
      if (!info.successful || info.attemptNumber > 0) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running or serializing the result
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime).toDouble
      }
    }
  }

  /** Hangs each job span under the innermost benchmark span of its op
    * that contains the job's start. Call after the listener bus drained. */
  def finish(): Unit = synchronized {
    val own = spans.filter(s => !s.name.startsWith("spark.")).groupBy(_.op)
    for (i <- spans.indices if spans(i).parent == -1L) {
      val j = spans(i)
      val host = own.getOrElse(j.op, Nil)
        .filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => -s.start).headOption
      spans(i) = j.copy(parent = host.map(_.id).getOrElse(0L))
    }
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it its children cover. */
  def selfTimes: Map[String, Double] = synchronized {
    val byParent = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k =>
          (math.max(k.start, s.start), math.min(k.end, s.end))).filter(i => i._2 > i._1)
          .sortBy(_._1)
        var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
        kids.foreach { case (a, b) =>
          if (curS.isNaN || a > curE) {
            if (!curS.isNaN) covered += curE - curS
            curS = a; curE = b
          } else curE = math.max(curE, b)
        }
        if (!curS.isNaN) covered += curE - curS
        (s.end - s.start - covered) / 1e3
      }.sum
    }
  }

  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.sortBy(_.start).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "op" -> s.op))
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
}

/** Counters read from an executed physical plan's SQL metrics. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Stats(explodeIn: Long, explodeOut: Long,
                         candidatePairs: Long, broadcastBytes: Long,
                         aprilExprs: Int)

  private val AprilExprs = Set("AprilVerdict", "AprilTopoRel", "AprilRasterize")

  /** Rows a node produced: its own numOutputRows metric, else the rows
    * written by the exchange, else its only child's. */
  private def rowsOut(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value).orElse(p match {
      case q: QueryStageExec => rowsOut(q.plan)
      case s: ShuffleExchangeExec => s.metrics.get("shuffleRecordsWritten").map(_.value)
      case _ if p.children.size == 1 => rowsOut(p.children.head)
      case _ => None
    })

  /** The candidate join: an equi-join on a tile key (the engine's multi-
    * level tile exchange), counted after its MBR + reference-point filter. */
  private def isTileJoin(p: SparkPlan): Boolean = p match {
    case j: HashJoin => j.leftKeys.exists(_.references.exists(_.name == "tile"))
    case j: BaseJoinExec => j.leftKeys.exists(_.references.exists(_.name == "tile"))
    case _ => false
  }

  def of(plan: SparkPlan): Stats = {
    val gens = collect(plan) { case g: GenerateExec => g }
    val explodeOut = gens.flatMap(g => g.metrics.get("numOutputRows").map(_.value)).sum
    val explodeIn = gens.flatMap(g => rowsOut(g.child)).sum
    val cands = collect(plan) { case j if isTileJoin(j) => j }
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    val bcast = collect(plan) { case b: BroadcastExchangeExec => b }
      .flatMap(_.metrics.get("dataSize").map(_.value)).sum
    val april = collect(plan) { case p => p }.map(p =>
      p.expressions.map(_.collect {
        case e if AprilExprs.contains(e.getClass.getSimpleName) => 1
      }.sum).sum).sum
    Stats(explodeIn, explodeOut, cands, bcast, april)
  }
}
