package graft.ordersbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One run's settings, read from ``<work>/job.json``. */
final case class Job(work: String, workload: String, cpus: Int, trace: Boolean,
    conf: Map[String, Any]) {
  def num(k: String): Double = conf(k).toString.toDouble
  def strs(k: String): Seq[String] = conf(k).asInstanceOf[Seq[Any]].map(_.toString)
}

/** JVM half of the benchmark (``run.py`` is the other half): sets the
  * session up, runs one workload's measured phase on inputs ``run.py``
  * generated, and writes raw measurements to ``<work>/jvm.json``. It
  * computes no end-to-end statistic and checks no output itself; both
  * happen in ``run.py`` so they can be unit-tested.
  *
  * Usage: Main <work dir>; ``<work>/job.json`` holds the workload name,
  * core count, trace flag and the workload's settings. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(job: Job, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${job.work}/warehouse")
      .config("spark.local.dir", s"${job.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start through warm-up, `n` times; the first n-1 sessions
    * are stopped. The warm-up is one small shuffle job. Returns the live
    * session and every set-up time. */
  def setUp(job: Job, n: Int): (SparkSession, Seq[Double]) = {
    import org.apache.spark.sql.functions._
    val times = mutable.ArrayBuffer[Double]()
    var s: SparkSession = null
    for (i <- 1 to n) {
      val t0 = System.nanoTime()
      s = session(job, job.cpus)
      s.range(0, 200000, 1, 8).groupBy((col("id") % 97).as("k"))
        .agg(sum(col("id")).as("v")).collect()
      times += (System.nanoTime() - t0) / 1e9
      if (i < n) s.stop()
    }
    (s, times.toSeq)
  }

  /** Untimed jobs before corpus_cycle, so that JIT, codegen, parquet and
    * state-store set-up are not paid by its first operation: an
    * aggregation written to and read back from parquet, and a two-batch
    * stateful streaming aggregation. (orders_live has its own warm-up
    * traffic.) */
  def warmUp(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    s.range(0, 200000, 1, 8).groupBy((col("id") % 97).as("k"))
      .agg(sum(col("id")).as("v")).write.mode("overwrite").parquet(s"$dir/table")
    s.read.parquet(s"$dir/table").agg(sum(col("v"))).collect()
    implicit val sqlCtx = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = input.toDS().groupBy((col("value") % 7).as("k")).count()
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", s"$dir/checkpoint").start()
    try Seq(0L until 1000L, 1000L until 2000L).foreach { r =>
      input.addData(r); q.processAllAvailable()
    } finally q.stop()
  }

  /** Used heap after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val raw = json.readValue(Paths.get(work, "job.json").toFile, classOf[Map[String, Any]])
    val job = Job(work, raw("workload").toString, raw("cpus").toString.toInt,
      raw("trace").toString.toBoolean, raw("conf").asInstanceOf[Map[String, Any]])
    val out = mutable.LinkedHashMap[String, Any]()
    val t0 = System.nanoTime()
    val (spark, setups) = setUp(job, 5)
    out("setup_s") = setups
    out("setup_total_s") = (System.nanoTime() - t0) / 1e9
    val streams = new StreamRecorder
    spark.streams.addListener(streams)
    val trace = if (job.trace) Some(new Trace(spark)) else None
    trace.foreach(_.attach())
    val result: Map[String, Any] = job.workload match {
      case "orders_live" => Live.run(spark, job, trace, streams)
      case "corpus_cycle" => CorpusCycle.run(spark, job, trace, streams)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out ++= result
    trace.foreach { t =>
      t.detach()
      val spans = (t.spans ++ Trace.triggerSpans(t, streams.all)).sortBy(_.id).map(s => Map(
        "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counts" -> s.counts))
      Files.writeString(Paths.get(work, "spans.jsonl"),
        spans.map(json.writeValueAsString).mkString("", "\n", "\n"))
    }
    spark.stop()
    Files.writeString(Paths.get(work, "jvm.json"), json.writeValueAsString(out))
    // a stray non-daemon thread must not keep the JVM alive
    sys.exit(0)
  }
}
