package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, LocalSession, Pins, SparkEntry}
import graft.streaming.StreamingIndex

/** The engine's profiler: runs declared queries (`SparkEntry.queries`
  * keys, through the noop sink) and named builds (`Bench.builds`, as
  * Bench prices them) and says where each run's seconds go — jobs,
  * stages, tasks, shuffle and spill bytes, wall time per job label, and
  * for streaming rigs the per-trigger `durationMs` phase sums — from one
  * listener of each kind, drained after every run.
  *
  * {{{
  * runMain graft.tools.Profile <sfDir> <name>[,<name>…] [reps=N]
  *   [conf=k=v;k=v]… [plans=<dir>]
  * }}}
  *
  * Several `conf=` variants make an interleaved A/B: each rep runs every
  * variant of a name in turn; a run sets its variant's confs and leaves
  * the session's confs as it found them, and a variant change drops
  * every session pin (`Pins.clear("")`), so a pin built under one
  * variant never serves another. `plans=<dir>` writes `<dir>/<name>.txt` with each variant's
  * executed plans from rep 1: every SQL execution of a batch run (write
  * side effects included), the last micro-batch plan of a streaming rig.
  * A code-variant A/B runs this on two `git archive` trees. */
object Profile {

  /** One measured run. `jobWall` is (label, jobs, seconds) per job label
    * (`spark.job.description`, else the job's call site); where jobs of
    * different labels overlap, the time is shared equally, so the labels
    * sum to the time any job was running, never more than `wallSec`.
    * `phasesMs` sums `durationMs` over the run's streaming triggers. */
  final case class Run(name: String, variant: String, rep: Int, wallSec: Double,
      jobs: Int, stages: Int, tasks: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, jobWall: Seq[(String, Int, Double)],
      phasesMs: Map[String, Long], triggers: Int, dataTriggers: Int)

  /** Jobs, stages, SQL executions and trigger progress since [[clear]]. */
  private final class Recorder {
    val jobs = new ConcurrentLinkedQueue[(String, Long, Long)]
    val stages = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]
    val plans = new ConcurrentLinkedQueue[String]
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    private val started = new ConcurrentHashMap[Int, (String, Long)]

    def clear(): Unit = Seq(jobs, stages, plans, progress).foreach(_.clear())

    val onJobs: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        // a micro-batch's description is its query name, then its ids;
        // the result stage's name is the job's call site
        started.put(e.jobId, (prop("spark.job.description").map(_.takeWhile(_ != '\n'))
          .orElse(prop("callSite.short"))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?"), e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (label, t0) =>
          jobs.add((label, t0, e.time)) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach { m =>
          stages.add((e.stageInfo.numTasks.toLong,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled))
        }
    }
    val onSql: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(s"-- $f\n${qe.executedPlan}")
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val onStream: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
  }

  /** (label, jobs, seconds) of `jobs` (label, start ms, end ms) clipped to
    * [from, to]: each interval between job boundaries is split equally
    * among the distinct labels running in it. */
  private[graft] def labelWall(jobs: Seq[(String, Long, Long)],
      from: Long, to: Long): Seq[(String, Int, Double)] = {
    val clipped = jobs.map { case (l, a, b) => (l, a.max(from), b.min(to)) }
    val cuts = clipped.flatMap(j => Seq(j._2, j._3)).filter(t => t >= from && t <= to)
      .distinct.sorted
    val ms = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val live = clipped.collect { case (l, x, y) if x <= a && b <= y => l }.distinct
      live.foreach(l => ms(l) += (b - a).toDouble / live.size)
    }
    jobs.groupBy(_._1).toSeq
      .map { case (l, js) => (l, js.size, ms(l) / 1e3) }
      .sortBy { case (l, _, sec) => (-sec, l) }
  }

  /** Runs every name `reps` times under every conf variant (`k=v;k=v`,
    * "" = the session's own confs), prints one block per run and the min
    * and median per (name, variant), and returns the runs. Names that
    * fail print their error and are left out. */
  def run(s: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      variants: Seq[String], plansDir: Option[String] = None): Seq[Run] = {
    val queries = SparkEntry.queries
    val builds = Bench.builds.toMap
    val unknown = names.filterNot(n => queries.contains(n) || builds.contains(n))
    require(unknown.isEmpty, s"unknown names ${unknown.mkString(",")}: not a " +
      s"SparkEntry.queries key nor one of ${Bench.builds.map(_._1).mkString(",")}")
    val rec = new Recorder
    s.sparkContext.addSparkListener(rec.onJobs)
    s.listenerManager.register(rec.onSql)
    s.streams.addListener(rec.onStream)
    val plans = collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    var current: Option[String] = None
    val runs = try {
      for (rep <- 1 to reps; name <- names; variant <- variants) yield {
        if (!current.contains(variant)) { Pins.clear(""); current = Some(variant) }
        StreamingIndex.lastExec.remove(name)
        GraftColumnBridge.drainListeners(s)
        rec.clear()
        val fromMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok = try {
          withConfs(s, LocalSession.confPairs(variant)) {
            queries.get(name) match {
              case Some(q) => q(s, sfDir).write.format("noop").mode("overwrite").save()
              case None => builds(name)(s, sfDir)
            }
          }
          true
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"[profile] $name ${label(variant)} rep=$rep FAILED: ${e.getMessage}")
          false
        }
        val wall = (System.nanoTime() - t0) / 1e9
        GraftColumnBridge.drainListeners(s)
        if (ok && rep == 1 && plansDir.isDefined) {
          val text = if (name.startsWith("s_"))
            Option(StreamingIndex.lastExec.get(name)).map(_.toString)
              .getOrElse("(no micro-batch plan recorded)")
          else rec.plans.asScala.mkString("\n")
          plans(name) = plans.getOrElse(name, Vector.empty) :+
            s"== $name ${label(variant)}\n$text\n"
        }
        Option.when(ok)(measured(rec, name, variant, rep, wall,
          fromMs, fromMs + (wall * 1e3).toLong))
      }
    } finally {
      s.sparkContext.removeSparkListener(rec.onJobs)
      s.listenerManager.unregister(rec.onSql)
      s.streams.removeListener(rec.onStream)
    }
    plansDir.foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      plans.foreach { case (name, texts) =>
        val path = java.nio.file.Paths.get(dir, s"$name.txt")
        java.nio.file.Files.write(path, texts.mkString("\n").getBytes("UTF-8"))
        println(s"[profile] wrote $path")
      }
    }
    val done = runs.flatten
    println("| name | variant | runs | min s | median s |\n|---|---|---|---|---|")
    done.groupBy(r => (r.name, r.variant)).toSeq
      .sortBy { case ((n, v), _) => (names.indexOf(n), variants.indexOf(v)) }
      .foreach { case ((n, v), rs) =>
        val w = rs.map(_.wallSec)
        println(f"| $n | ${label(v)} | ${w.size} | ${w.min}%.3f | ${Bench.medianOf(w)}%.3f |")
      }
    done
  }

  private def label(variant: String): String =
    if (variant.isEmpty) "conf=(session)" else s"conf=$variant"

  /** Reads one drained run out of the recorder and prints it. */
  private def measured(rec: Recorder, name: String, variant: String, rep: Int,
      wall: Double, fromMs: Long, toMs: Long): Run = {
    val st = rec.stages.asScala.toSeq
    val progress = rec.progress.asScala.toSeq
    val jobs = rec.jobs.asScala.toSeq
    val r = Run(name, variant, rep, wall, jobs.size, st.size, st.map(_._1).sum,
      st.map(_._2).sum, st.map(_._3).sum, st.map(_._4).sum,
      labelWall(jobs, fromMs, toMs),
      progress.flatMap(_.durationMs.asScala.toSeq)
        .groupMapReduce(_._1)(_._2.longValue)(_ + _),
      progress.size, progress.count(_.numInputRows > 0))
    println(f"[profile] $name ${label(variant)} rep=$rep wall=$wall%.3fs jobs=${r.jobs} " +
      s"stages=${r.stages} tasks=${r.tasks} shuffle_read=${r.shuffleReadBytes}B " +
      s"shuffle_write=${r.shuffleWriteBytes}B spill=${r.spillBytes}B")
    r.jobWall.foreach { case (l, n, sec) => println(f"  $sec%8.3fs  $n%4d jobs  $l") }
    if (r.triggers > 0)
      println(s"  triggers=${r.triggers} data_triggers=${r.dataTriggers} phases_ms: " +
        r.phasesMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    r
  }

  /** Runs `body` with `confs` set, then puts the session's runtime confs
    * back as they were: the variant's keys and any key the run set. */
  private def withConfs[T](s: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val before = s.conf.getAll
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally {
      val after = s.conf.getAll
      (after.keySet -- before.keySet).foreach(s.conf.unset)
      before.foreach { case (k, v) => if (!after.get(k).contains(v)) s.conf.set(k, v) }
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <sfDir> <name>[,<name>…] [reps=N] [conf=k=v;k=v]… [plans=<dir>]"
    require(args.length >= 2, usage)
    val opts = args.drop(2).toSeq.map { a =>
      val i = a.indexOf('=')
      require(Set("reps", "conf", "plans")(a.take(i.max(0))), s"bad option $a; $usage")
      a.take(i) -> a.drop(i + 1)
    }
    def opt(k: String) = opts.collect { case (`k`, v) => v }
    val s = LocalSession("ERROR")
    try run(s, args(0), args(1).split(",").toSeq, opt("reps").lastOption.fold(2)(_.toInt),
      Option(opt("conf")).filter(_.nonEmpty).getOrElse(Seq("")), opt("plans").lastOption)
    finally s.stop()
  }
}
