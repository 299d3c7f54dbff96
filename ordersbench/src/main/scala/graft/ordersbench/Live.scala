package graft.ordersbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.streaming.{EventPairing, KafkaWire, PairEvent}

/** One record of the order topic: Kafka key and UTF-8 JSON value. */
final case class WireRecord(key: String, value: String)

/** orders_live: an open loop. One generator thread offers the scheduled
  * wire records to a MemoryStream at their due wall offsets, on a
  * schedule that does not wait for the engine. The records run through
  * the reference pipeline: KafkaWire.parse, EventPairing.pairFn under
  * flatMapGroupsWithState, then a 60 s tumbling window per facility with
  * a 60 s watermark in append mode. A foreachBatch sink stamps every
  * emitted facility.info row with the wall offset it arrived at. */
object Live {

  /** Order ids at and above this are flush sentinels, never real orders. */
  val SentinelBase = 1000000000000L

  def pipeline(spark: SparkSession, input: DataFrame, facilities: Int,
      observe: Boolean): DataFrame = {
    import spark.implicits._
    val parsed0 = KafkaWire.parse(input)
    val parsed = if (observe) parsed0.observe("wire", count(lit(1)).as("parsed")) else parsed0
    val events = parsed.select(
      col("order_id").cast("long").as("user_id"),
      when(col("event_type") === "order.placed", lit(EventPairing.PlacedType))
        .when(col("event_type") === "order.fulfilled", lit(EventPairing.FulfilledType))
        .otherwise(col("event_type")).as("event_type"),
      col("event_timestamp").as("ts_ms")).as[PairEvent]
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        EventPairing.pairFn(EventPairing.MinWins, None))
      .toDF()
      .withColumn("f_ts", timestamp_millis(col("fulfilled_ms")))
      .withWatermark("f_ts", "60 seconds")
      .groupBy(window(col("f_ts"), "60 seconds"), (col("user_id") % facilities).as("facility_id"))
      .agg(count(lit(1)).as("processing_count"), sum(col("processing_ms")).as("processing_ms"))
      .select(col("facility_id"), unix_millis(col("window.end")).as("event_timestamp"),
        col("processing_count"), col("processing_ms"))
  }

  private def wire(typ: String, ts: Long, id: Long, facilities: Int): WireRecord =
    WireRecord(id.toString, s"""{"event.type":"$typ","event.timestamp":$ts,""" +
      s""""facility.id":"${id % facilities}","order.id":"$id"}""")

  /** One pass: start the query, offer the warm-up part of the schedule
    * (due before `warmup_s`) in a closed loop, then run the generator in
    * an open loop over the settling and measured parts (due before
    * `open_s`), or offer them in closed-loop batches if `openLoop` is
    * false. Then,
    * once the engine has caught up, offer the rest as `bursts` backlog
    * bursts and time how long the engine takes to drain each. Finally
    * flush with two far-future sentinel orders so every real window
    * closes, and stop. */
  def pass(spark: SparkSession, job: Job, trace: Option[Trace], streams: StreamRecorder,
      tag: String, due: Array[Double], recs: Array[WireRecord],
      maxEventMs: Long, openLoop: Boolean = true): Map[String, Any] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val facilities = job.num("facilities").toInt
    val input = MemoryStream[WireRecord]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]
    @volatile var t0 = System.nanoTime()
    val write: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.collect()
      val at = (System.nanoTime() - t0) / 1e6
      rows.foreach(r => sink.add(Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), at)))
    }
    val (res, s0, s1) = Trace.op(trace, spark, "stream", s"orders_live.$tag") {
      // the checkpoint file manager the engine's own streaming rigs use on
      // local disk (EventPairing.withStreamingPartitions): the default one
      // forks a process per state file rename
      spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      val q = pipeline(spark, input.toDF(), facilities, trace.isDefined)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"${job.work}/checkpoint-$tag")
        .foreachBatch(write).start()
      try {
        q.processAllAvailable()
        val nWarm = firstAtOrAfter(due, job.num("warmup_s"))
        val nOpen = firstAtOrAfter(due, job.num("open_s"))
        // warm-up: the first warmup_s of traffic offered in a closed loop,
        // in batches the size the open loop will run, so the pipeline is
        // at its steady trigger time when the open loop starts
        val nBatches = job.num("warmup_batches").toInt
        for (b <- 0 until nBatches) {
          input.addData(recs.slice(nWarm * b / nBatches, nWarm * (b + 1) / nBatches).toSeq)
          q.processAllAvailable()
        }
        // the open loop: everything due at each linger tick is offered as
        // one append, as a Kafka producer batches by linger.ms (a
        // MemoryStream plans one relation per append). Offsets are on the
        // schedule's clock, which reads warmup_s now.
        val lingerS = job.num("linger_ms") / 1e3
        val late = new Array[Double](due.length)
        t0 = System.nanoTime() - (job.num("warmup_s") * 1e9).toLong
        var i = nWarm
        var tick = math.ceil(job.num("warmup_s") / lingerS).toLong
        // a pass without the open loop offers the same records in
        // closed-loop batches the size of one burst, so its bursts meet
        // the same pairing state and watermark as the open loop's
        if (!openLoop) {
          val step = math.max(1, (recs.length - nOpen) / job.num("bursts").toInt)
          for (a <- nWarm until nOpen by step) {
            input.addData(recs.slice(a, math.min(a + step, nOpen)).toSeq)
            q.processAllAvailable()
          }
          i = nOpen
        }
        while (i < nOpen) {
          val tickS = tick * lingerS
          val now = (System.nanoTime() - t0) / 1e9
          if (tickS > now) LockSupport.parkNanos(((tickS - now) * 1e9).toLong)
          else {
            var j = i
            while (j < nOpen && due(j) <= tickS) j += 1
            if (j > i) input.addData(recs.slice(i, j).toSeq)
            val sent = (System.nanoTime() - t0) / 1e6
            for (k <- i until j) late(k) = sent - tickS * 1e3
            i = j
            tick += 1
          }
        }
        // the backlog in equal bursts, each timed from the offer until
        // the engine has drained it: (records, seconds) per burst
        val nBursts = job.num("bursts").toInt
        val cuts = (0 to nBursts).map(b => nOpen + (recs.length - nOpen) * b / nBursts)
        val bursts = cuts.sliding(2).map { case Seq(a, b) =>
          q.processAllAvailable()
          val b0 = System.nanoTime()
          input.addData(recs.slice(a, b).toSeq)
          q.processAllAvailable()
          Seq(b - a, (System.nanoTime() - b0) / 1e9)
        }.toSeq
        for (step <- Seq(86400000L, 90000000L)) {
          val id = SentinelBase + step
          input.addData(Seq(wire("order.placed", maxEventMs + step, id, facilities),
            wire("order.fulfilled", maxEventMs + step, id, facilities)))
          q.processAllAvailable()
        }
        (late.slice(nWarm, nOpen), bursts, q.id)
      } finally q.stop()
    }
    val (late, bursts, qid) = res
    org.apache.spark.sql.ordersbench.Internals.drain(spark.sparkContext)
    val triggers = streams.forQuery(qid).map { p =>
      Seq(Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        p.numInputRows,
        Option(p.observedMetrics.get("wire")).map(_.getLong(0)).getOrElse(0L))
    }
    val sorted = late.sorted
    Map("sink" -> sink.asScala.toSeq, "triggers" -> triggers, "bursts" -> bursts,
      "late_ms" -> Map("max" -> sorted.last, "p99" -> sorted((sorted.length * 99) / 100),
        "mean" -> sorted.sum / sorted.length),
      "span" -> (s0, s1), "query" -> qid)
  }

  private def firstAtOrAfter(due: Array[Double], t: Double): Int =
    due.indexWhere(_ >= t) match {
      case -1 => due.length
      case n => n
    }

  def run(spark: SparkSession, job: Job, trace: Option[Trace],
      streams: StreamRecorder): Map[String, Any] = {
    val lines = Files.readAllLines(Paths.get(job.work, "schedule.tsv")).asScala
    val cols = lines.map(_.split("\t", 3))
    val due = cols.map(_(0).toDouble).toArray
    val recs = cols.map(c => WireRecord(c(1), c(2))).toArray
    val maxEventMs = job.num("max_event_ms").toLong
    val out = mutable.LinkedHashMap[String, Any]()
    val main = pass(spark, job, trace, streams, "main", due, recs, maxEventMs)
    out("main") = main
    out("retained_heap_mb") = Main.retainedHeapMb()
    // a traced run then runs the same schedule twice more without the
    // open loop: untraced on the same session (its bursts against the
    // traced pass's give the tracing overhead; running later, it has the
    // warmer JIT, so the difference errs high) and untraced on a one-core
    // session (the single-threaded baseline of the drain rate)
    trace.foreach { t =>
      org.apache.spark.sql.ordersbench.Internals.drain(spark.sparkContext)
      val (s0, _) = main("span").asInstanceOf[(Long, Long)]
      val ops = t.spans.filter(s => s.kind == "stream" && s.startNs == s0)
      out("layers") = Trace.layers(t, ops,
        streams.forQuery(main("query").asInstanceOf[java.util.UUID]), job.cpus).toMap
      t.detach()
      out("untraced") = pass(spark, job, None, streams, "untraced", due, recs, maxEventMs,
        openLoop = false)
      spark.stop()
      val one = Main.session(job, 1)
      out("one_core") = pass(one, job, None, streams, "one-core", due, recs, maxEventMs,
        openLoop = false)
      one.stop()
    }
    out("wire_records") = recs.length
    out.toMap
  }
}
