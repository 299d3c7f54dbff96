package graft.ordersbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.ordersbench.Internals
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the span that caused it
  * (0 = the workload root); `counts` are recorded at the same boundary. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long, counts: Map[String, Double])

/** Per-trigger record of every streaming query, always collected: the
  * serve rigs' latency and the live stream's busy time come from here.
  * Progress events arrive on the listener bus asynchronously; drain it
  * ([[org.apache.spark.sql.ordersbench.Internals.drain]]) before reading. Each
  * progress is stamped with the wall clock of its trigger start. */
final class StreamRecorder extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def forQuery(id: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.id == id)

  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  /** Triggers that started in [fromMs, toMs) (epoch milliseconds). */
  def between(fromMs: Long, toMs: Long): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= fromMs && t < toMs
    }
}

/** The traced run's listeners: a SparkListener for jobs and stages and a
  * QueryExecutionListener for planning phases and executed-plan shape.
  * Spans stay in memory until [[spans]] is read at the end of the run.
  * Jobs are attributed to the operation span named in the job's local
  * property [[Trace.SpanProp]], which [[Trace.op]] sets on the calling
  * thread (streaming threads inherit it when their query starts). */
final class Trace(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long, Seq[Int])]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val plans = new ConcurrentLinkedQueue[(Long, Map[String, Double])]
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Long]
  private val qeExec = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  def nextId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = done.add(s)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        .flatMap(_.toLongOption)
      val parent = prop(Trace.SpanProp).getOrElse(0L)
      prop("spark.sql.execution.id").foreach(x => execSpan.putIfAbsent(x, parent))
      val id = nextId()
      jobStart.put(e.jobId, (id, parent, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (id, parent, start, stages) =>
        record(Span(id, parent, "job", s"job-${e.jobId}", Trace.epochMsToNs(start),
          Trace.epochMsToNs(e.time), Map("stages" -> stages.size.toDouble)))
      }
    // the execution end carries the QueryExecution the QE listener sees
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionEnd =>
        Option(Internals.queryExecution(x))
          .foreach(qe => qeExec.put(System.identityHashCode(qe), x.executionId))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long): Double =
        m.map(f).getOrElse(0L).toDouble
      val start = i.submissionTime.getOrElse(0L)
      val end = i.completionTime.getOrElse(start)
      record(Span(nextId(), Option(stageJob.remove(i.stageId)).getOrElse(0L), "stage",
        s"stage-${i.stageId}", Trace.epochMsToNs(start), Trace.epochMsToNs(end), Map(
          "tasks" -> i.numTasks.toDouble,
          "run_ms" -> g(_.executorRunTime),
          "cpu_ns" -> g(_.executorCpuTime),
          "gc_ms" -> g(_.jvmGCTime),
          "shuffle_read_bytes" -> m.map(t => t.shuffleReadMetrics.remoteBytesRead +
            t.shuffleReadMetrics.localBytesRead).getOrElse(0L).toDouble,
          "shuffle_write_bytes" -> g(_.shuffleWriteMetrics.bytesWritten),
          "spill_bytes" -> g(t => t.memoryBytesSpilled + t.diskBytesSpilled))))
    }
  }

  private val qeListener = new QueryExecutionListener {
    // runs on the listener bus: the execution's jobs carried the
    // operation span, and the execution id links this callback to them
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add((System.identityHashCode(qe).toLong, Trace.planCounts(qe)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def spans: Seq[Span] = done.asScala.toSeq
  /** Planning phases and plan shape of every batch action, keyed by the
    * operation span that ran it (0 for actions that ran no job). */
  def planRecords: Seq[(Long, Map[String, Double])] =
    plans.asScala.toSeq.map { case (qe, m) =>
      (Option(qeExec.get(qe.toInt)).flatMap(x => Option(execSpan.get(x)))
        .map(_.longValue).getOrElse(0L), m) }
}

object Trace extends AdaptiveSparkPlanHelper {
  val SpanProp = "ordersbench.span"

  private val nanoMinusEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Listener events carry wall-clock milliseconds; spans use the
    * `System.nanoTime` clock of the operation spans. */
  def epochMsToNs(ms: Long): Long = ms * 1000000L + nanoMinusEpoch

  /** One span per streaming trigger of a traced operation, under the
    * operation span whose interval holds the trigger's start. */
  def triggerSpans(trace: Trace, progress: Seq[StreamingQueryProgress]): Seq[Span] = {
    val ops = trace.spans.filter(s => s.kind != "job" && s.kind != "stage")
    progress.flatMap { p =>
      val start = epochMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      ops.find(o => o.startNs <= start && start <= o.endNs).map(o =>
        Span(trace.nextId(), o.id, "trigger", s"${p.name}#${p.batchId}", start,
          start + dur * 1000000L, Map("input_rows" -> p.numInputRows.toDouble)))
    }
  }

  /** Runs `body` as one operation span; jobs it submits carry the span id. */
  def op[T](trace: Option[Trace], spark: SparkSession, kind: String, name: String)(
      body: => T): (T, Long, Long) = {
    val id = trace.map(_.nextId()).getOrElse(0L)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      trace.foreach(_.record(Span(id, 0L, kind, name, t0, t1, Map.empty)))
      (r, t0, t1)
    } finally sc.setLocalProperty(SpanProp, prev)
  }

  def planCounts(qe: QueryExecution): Map[String, Double] = {
    val plan: SparkPlan = qe.executedPlan
    def count(pf: PartialFunction[SparkPlan, Unit]): Double =
      collect(plan) { case p if pf.isDefinedAt(p) => p }.size.toDouble
    val phases = qe.tracker.phases
    def ph(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    Map(
      "analysis_ms" -> ph("analysis"),
      "optimize_ms" -> ph("optimization"),
      "physical_ms" -> ph("planning"),
      "scans" -> count { case _: FileSourceScanExec | _: BatchScanExec => },
      "exchanges" -> count { case _: ShuffleExchangeExec | _: BroadcastExchangeExec => },
      "broadcast_joins" -> count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => },
      "smj_joins" -> count { case _: SortMergeJoinExec => })
  }

  /** Median of a non-empty sample (0 when empty: a per-layer count). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer figures over one measured phase: the jobs and stages of
    * the operation spans in `ops`, the plan records of those spans, and
    * the streaming triggers in `progress`. */
  def layers(trace: Trace, ops: Seq[Span],
      progress: Seq[StreamingQueryProgress],
      cores: Int): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val opIds = ops.map(_.id).toSet
    val all = trace.spans
    val jobs = all.filter(s => s.kind == "job" && opIds(s.parent))
    val jobIds = jobs.map(_.id).toSet
    val stages = all.filter(s => s.kind == "stage" && jobIds(s.parent))
    def sum(k: String) = stages.map(_.counts.getOrElse(k, 0.0)).sum
    val wallS = ops.map(s => (s.endNs - s.startNs) / 1e9).sum
    out("op.wall_s") = wallS
    out("op.jobs") = jobs.size
    out("op.stages") = stages.size
    out("op.tasks") = sum("tasks")
    out("op.task_cpu_s") = sum("cpu_ns") / 1e9
    out("op.gc_s") = sum("gc_ms") / 1e3
    out("op.shuffle_read_bytes") = sum("shuffle_read_bytes")
    out("op.shuffle_write_bytes") = sum("shuffle_write_bytes")
    out("op.spill_bytes") = sum("spill_bytes")
    val plans = trace.planRecords.filter(p => opIds(p._1)).map(_._2)
    def psum(k: String) = plans.map(_.getOrElse(k, 0.0)).sum
    Seq("scans", "exchanges", "broadcast_joins", "smj_joins")
      .foreach(k => out(s"op.$k") = psum(k))
    out("plan.analysis_ms") = psum("analysis_ms")
    out("plan.optimize_ms") = psum("optimize_ms")
    out("plan.physical_ms") = psum("physical_ms")
    out("cpu.busy_share") = if (wallS > 0) sum("run_ms") / 1e3 / (wallS * cores) else 0.0

    val data = progress.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    out("stream.trigger_ms") = median(data.map(dur(_, "triggerExecution")))
    out("stream.plan_ms") = median(data.map(dur(_, "queryPlanning")))
    out("stream.add_batch_ms") = median(data.map(dur(_, "addBatch")))
    out("stream.wal_commit_ms") = median(data.map(dur(_, "walCommit")))
    out("stream.commit_offsets_ms") = median(data.map(dur(_, "commitOffsets")))
    out("stream.batches") = progress.size
    out("stream.no_data_batches") = progress.size - data.size
    out("stream.rows_per_batch") = median(data.map(_.numInputRows.toDouble))
    out("stream.source_backlog_max") = (0.0 +: progress.flatMap(_.sources.toSeq).map { s =>
      (Option(s.latestOffset).flatMap(_.trim.toLongOption),
        Option(s.endOffset).flatMap(_.trim.toLongOption)) match {
        case (Some(l), Some(e)) => (l - e).toDouble
        case _ => 0.0
      }
    }).max
    val st = progress.map(p => p.stateOperators.toSeq)
    def ssum(f: StateOperatorProgress => Long) =
      st.map(_.map(f).sum.toDouble)
    out("state.rows_total_max") = (0.0 +: ssum(_.numRowsTotal)).max
    out("state.rows_updated") = ssum(_.numRowsUpdated).sum
    out("state.rows_removed") = ssum(_.numRowsRemoved).sum
    out("state.update_ms") = ssum(_.allUpdatesTimeMs).sum
    out("state.removal_ms") = ssum(_.allRemovalsTimeMs).sum
    out("state.commit_ms") = ssum(_.commitTimeMs).sum
    out("state.memory_bytes_max") = (0.0 +: ssum(_.memoryUsedBytes)).max
    out("state.dropped_by_watermark") = ssum(_.numRowsDroppedByWatermark).sum
    out
  }
}
