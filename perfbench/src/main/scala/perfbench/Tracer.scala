package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Bridge

/** One timed call into a layer during a traced operation, with the time
  * the Spark jobs it started were running. */
final case class Span(name: String, op: Int, startNs: Long, endNs: Long,
    jobsMs: Long)

/** What a finished SQL execution reports: its planning phases and the
  * row counts of its executed plan. */
final case class ExecStats(analysisMs: Long, optimizationMs: Long,
    planningMs: Long, rootRows: Long, maxRows: Long)

/** The counters of one traced operation: a query of a batch mix, or one
  * trigger of the streaming loop. */
final class OpStats(val id: Int, val name: String) {
  var wallNs, buildNs, planNs = 0L
  var jobs, eagerJobs, stages, stagesSkipped, tasks, tasksFailed = 0L
  var jobBusyMs, taskWaitMs, runMs, cpuNs, gcMs, deserMs, peakMem = 0L
  var shWrite, shRead, shRecords, fetchWaitMs, spill = 0L
  var skew = 1.0
  var inBytes, inRows, outBytes, outRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var resultRows, maxNodeRows = 0L
  var compileNs, compiles = 0L
  /** Streaming progress durations (ms) by name, for triggers. */
  var durations: Map[String, Long] = Map.empty
  var payloadBytes = 0L

  // attribution state, filled while events are pulled
  private[perfbench] val jobStages = mutable.Set.empty[Int]
  private[perfbench] val submitted = mutable.Set.empty[Int]
  private[perfbench] val stageSubmitMs = mutable.Map.empty[Int, Long]
  private[perfbench] val stageRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private[perfbench] val jobOpen = mutable.Map.empty[Int, (Long, String)]
  private[perfbench] val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private[perfbench] val phaseSpan = mutable.Map.empty[String, (Long, Long)]

  /** Milliseconds from the first job start to the last job end of each
    * labelled phase. */
  def phaseMs: Map[String, Long] =
    phaseSpan.map { case (p, (a, b)) => p -> (b - a) }.toMap

  /** The counters that must not depend on timing or host load. */
  def deterministic: Map[String, Long] = Map(
    "scheduler.jobs" -> jobs, "scheduler.stages" -> stages,
    "scheduler.tasks" -> tasks, "shuffle.records" -> shRecords,
    "io.input_rows" -> inRows, "operators.out_rows" -> resultRows)
}

/** Spans around the calls into each layer plus a Spark listener (job,
  * stage and task events; finished SQL executions). Listener
  * events are attributed to the span during which they were posted: the
  * loop is closed, so nothing else runs, and the bus is drained at the
  * end of every span. Everything stays in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val events = new ConcurrentLinkedQueue[AnyRef]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  val ops: mutable.ArrayBuffer[OpStats] = mutable.ArrayBuffer.empty

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      events.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Bridge.queryExecution(end).foreach(qe => events.add(Tracer.execStats(qe)))
      case _ =>
    }
  }

  def attach(): Unit = sc.addSparkListener(listener)

  def detach(): Unit = {
    Bridge.drain(sc)
    sc.removeSparkListener(listener)
    events.clear()
  }

  def begin(name: String): OpStats = {
    val op = new OpStats(ops.size, name)
    op.compileNs = -CodeGenerator.compileTime
    op.compiles = -CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ops += op
    op
  }

  /** Times `f` as a child span of `op`, then attributes the listener
    * events it caused. Drain time is not part of the span. A `plan` span
    * is the tracer's own explicit plan call: the operation plans again
    * when it executes, so that span is timed as `planNs` but left out of
    * the operation's wall time. */
  def span[T](op: OpStats, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      if (name == "plan") op.planNs += t1 - t0 else op.wallNs += t1 - t0
      if (name == "build") op.buildNs += t1 - t0
      Bridge.drain(sc)
      val before = op.jobIntervals.size
      pull(op, name)
      spanBuf += Span(name, op.id, t0, t1,
        Tracer.unionMs(op.jobIntervals.drop(before).toSeq))
    }
  }

  def end(op: OpStats): Unit = {
    op.compileNs += CodeGenerator.compileTime
    op.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    op.stagesSkipped = op.jobStages.count(s => !op.submitted(s)).toLong
    op.jobBusyMs = Tracer.unionMs(op.jobIntervals.toSeq)
    val skews = op.stageRuns.values.filter(_.size >= 2).map { rs =>
      val s = rs.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }
    op.skew = if (skews.isEmpty) 1.0 else skews.max
  }

  private def pull(op: OpStats, spanName: String): Unit = {
    var e = events.poll()
    while (e != null) {
      e match {
        case j: SparkListenerJobStart =>
          op.jobs += 1
          if (spanName == "build") op.eagerJobs += 1
          op.jobStages ++= j.stageIds
          val desc = Option(j.properties)
            .map(_.getProperty("spark.job.description")).orNull
          op.jobOpen(j.jobId) = (j.time, Tracer.phaseOf(desc))
        case j: SparkListenerJobEnd =>
          op.jobOpen.remove(j.jobId).foreach { case (t0, phase) =>
            op.jobIntervals += ((t0, j.time))
            val (a, b) = op.phaseSpan.getOrElse(phase, (t0, j.time))
            op.phaseSpan(phase) = (a.min(t0), b.max(j.time))
          }
        case s: SparkListenerStageSubmitted =>
          op.stages += 1
          op.submitted += s.stageInfo.stageId
          s.stageInfo.submissionTime.foreach(op.stageSubmitMs(s.stageInfo.stageId) = _)
        case t: SparkListenerTaskEnd =>
          op.tasks += 1
          val info = t.taskInfo
          if (info.failed || info.killed) op.tasksFailed += 1
          op.stageSubmitMs.get(t.stageId).foreach { sub =>
            op.taskWaitMs += (info.launchTime - sub).max(0L)
          }
          val m = t.taskMetrics
          if (m != null) {
            op.runMs += m.executorRunTime
            op.cpuNs += m.executorCpuTime
            op.gcMs += m.jvmGCTime
            op.deserMs += m.executorDeserializeTime
            op.peakMem = op.peakMem.max(m.peakExecutionMemory)
            op.shWrite += m.shuffleWriteMetrics.bytesWritten
            op.shRecords += m.shuffleWriteMetrics.recordsWritten
            op.shRead += m.shuffleReadMetrics.totalBytesRead
            op.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            op.spill += m.diskBytesSpilled
            op.inBytes += m.inputMetrics.bytesRead
            op.inRows += m.inputMetrics.recordsRead
            op.outBytes += m.outputMetrics.bytesWritten
            op.outRows += m.outputMetrics.recordsWritten
            if (info.successful)
              op.stageRuns.getOrElseUpdate(t.stageId,
                mutable.ArrayBuffer.empty) += m.executorRunTime
          }
        case x: ExecStats =>
          op.analysisMs += x.analysisMs
          op.optimizationMs += x.optimizationMs
          op.planningMs += x.planningMs
          if (spanName != "build") {
            op.resultRows += x.rootRows
            op.maxNodeRows += x.maxRows
          }
        case _ =>
      }
      e = events.poll()
    }
  }

  /** Every span as a record: operation roots (parent null) span from
    * their first child's start to their last child's end; `self_s` is a
    * span's time minus what its children cover (the child spans of a
    * root, the Spark jobs of a layer call). */
  def spans: Seq[Map[String, Any]] = {
    val byOp = spanBuf.groupBy(_.op)
    ops.toSeq.flatMap { op =>
      val kids = byOp.getOrElse(op.id, mutable.ArrayBuffer.empty).toSeq
      if (kids.isEmpty) Seq.empty
      else {
        val (s0, s1) = (kids.map(_.startNs).min, kids.map(_.endNs).max)
        val rootId = s"${op.id}"
        Map[String, Any]("id" -> rootId, "name" -> op.name, "parent" -> null,
          "op" -> op.id, "start_ns" -> s0, "end_ns" -> s1,
          "self_s" -> (s1 - s0 - kids.map(k => k.endNs - k.startNs).sum) / 1e9) +:
          kids.zipWithIndex.map { case (k, i) =>
            Map[String, Any]("id" -> s"${op.id}.$i", "name" -> k.name,
              "parent" -> rootId, "op" -> op.id, "start_ns" -> k.startNs,
              "end_ns" -> k.endNs, "jobs_s" -> k.jobsMs / 1e3,
              "self_s" -> ((k.endNs - k.startNs) / 1e9 - k.jobsMs / 1e3).max(0.0))
          }
      }
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  /** Planning phases and plan row counts of one execution. The root's
    * rows are those of the topmost node that counts output rows; a
    * write command wraps the query, so that is the query's result. */
  def execStats(qe: QueryExecution): ExecStats = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val rows = try {
      collect(qe.executedPlan) {
        case n: SparkPlan if n.metrics.contains("numOutputRows") =>
          n.metrics("numOutputRows").value
      }
    } catch { case _: Exception => Seq.empty }
    ExecStats(ms("analysis"), ms("optimization"), ms("planning"),
      rows.headOption.getOrElse(0L), if (rows.isEmpty) 0L else rows.max)
  }

  /** The labelled phases of an `upsertLoop` trigger. */
  val Phases: Seq[String] = Seq("scheme_guard", "guard", "batch_guards",
    "append_tombstones", "tombstone_set", "batch_bands", "append_band_log",
    "append_doc_log", "candidates", "cand_texts", "chain_upsert_cc", "cc",
    "publish", "delta_sink", "microbatch", "other")

  /** Streaming phase name from a job description set by the loop's
    * `labeled` calls: `upsert[7] append doc log` becomes
    * `append_doc_log`. Nested labels fold into their phase: the chain
    * upsert's own checkpoints (`upsertChain: ...` and the `retractChain:`
    * / `extendChain:` steps it runs) into `chain_upsert_cc`, its
    * connected-components rounds (`cc: ...`) into `cc`. Jobs of
    * Spark's micro-batch machinery carry its `id = ...` description; any
    * other job is `other`. */
  def phaseOf(desc: String): String = {
    val d = Option(desc).getOrElse("").trim
      .replaceFirst("^[a-z]+\\[\\d+\\]\\s*", "")
    val p =
      if (d.startsWith("cc:")) "cc"
      else if (d.matches("(upsert|retract|extend)Chain:.*")) "chain_upsert_cc"
      else if (d.startsWith("id =")) "microbatch"
      else d.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        .stripPrefix("_").stripSuffix("_")
    if (Phases.contains(p)) p else "other"
  }

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
