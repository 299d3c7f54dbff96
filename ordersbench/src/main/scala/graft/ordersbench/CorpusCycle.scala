package graft.ordersbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{Dedup, IndexStore, ProductQuant, Similarity}

/** corpus_cycle: a closed loop, each operation starting when the one
  * before it has finished. An operation is either a declared key
  * (``SparkEntry.queries``), whose result is written for the DuckDB
  * oracle compare in ``run.py``, or a corpus build. */
object CorpusCycle {

  /** Corpus builds by name: index and store builds `graft.Bench` prices
    * before its query loop. */
  val builds: Map[String, (SparkSession, String) => Any] = Map(
    "ivf" -> ((s, d) => Similarity.ivfIndex(s, d)),
    "pq" -> ((s, d) => ProductQuant.pqIndex(s, d)),
    "band" -> ((s, d) => Dedup.md5BandIndex(s, d, IndexStore.BandK)),
    "dedup_idx" -> ((s, d) => IndexStore.dedupIndexPersist(s, d).count()))

  final case class OpResult(name: String, kind: String, wallS: Double, error: Option[String],
      startNs: Long, endNs: Long, startEpochMs: Long, endEpochMs: Long)

  /** Runs one operation; a throw is recorded, not raised. Keys write
    * their result as one ordered parquet file, as `graft.Verify` does. */
  def runOp(spark: SparkSession, trace: Option[Trace], dir: String, outDir: String,
      kind: String, name: String): OpResult = {
    val e0 = System.currentTimeMillis()
    try {
      val (_, t0, t1) = Trace.op(trace, spark, kind, name) {
        if (kind == "build") builds(name)(spark, dir)
        else SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      OpResult(name, kind, (t1 - t0) / 1e9, None, t0, t1, e0, System.currentTimeMillis())
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[ordersbench] $name failed: $e")
        OpResult(name, kind, 0.0, Some(String.valueOf(e.getMessage).take(300)), 0L, 0L, e0,
          System.currentTimeMillis())
    }
  }

  /** Data-carrying triggers of the streaming queries that ran inside `ops`:
    * (triggerExecution ms, input rows, operation). */
  def triggersOf(streams: StreamRecorder, ops: Seq[OpResult]): Seq[Seq[Any]] =
    ops.flatMap { o =>
      streams.between(o.startEpochMs, o.endEpochMs).filter(_.numInputRows > 0).map { p =>
        Seq(Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
          p.numInputRows, o.name)
      }
    }

  def opJson(o: OpResult): Map[String, Any] =
    Map("name" -> o.name, "kind" -> o.kind, "wall_s" -> o.wallS,
      "error" -> o.error.orNull)

  def writeOracle(job: Job, keys: Seq[String]): Unit =
    Files.writeString(Paths.get(job.work, "oracle_sql.json"), Main.json.writeValueAsString(
      keys.map(k => k -> SparkEntry.oracleSql.getOrElse(k, null)).toMap))

  def spansOf(trace: Trace, ops: Seq[OpResult]): Seq[Span] = {
    val starts = ops.map(_.startNs).toSet
    trace.spans.filter(s => s.kind != "job" && s.kind != "stage" && starts(s.startNs))
  }

  private def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  /** The write phase (builds, then q_corpus_build) and the read phase
    * (probes and serve/gate rigs) over the generated corpus, with every
    * store under the run's own directory. A traced run first runs both
    * phases untraced on two copies of the corpus (JIT warm-up, then the
    * reference for the tracing overhead), then traced, then the read keys
    * again on the same session (warm probes). */
  def run(spark: SparkSession, job: Job, trace: Option[Trace],
      streams: StreamRecorder): Map[String, Any] = {
    val buildNames = job.strs("builds")
    val writeKeys = job.strs("write_keys")
    val readKeys = job.strs("read_keys")
    writeOracle(job, writeKeys ++ readKeys)
    val out = mutable.LinkedHashMap[String, Any]()
    Main.warmUp(spark, s"${job.work}/warm-up")
    def cycle(dir: String, outDir: String, t: Option[Trace]) = {
      val w = buildNames.map(b => runOp(spark, t, dir, outDir, "build", b)) ++
        writeKeys.map(k => runOp(spark, t, dir, outDir, "key", k))
      val r = readKeys.map(k => runOp(spark, t, dir, outDir, "key", k))
      (w, r)
    }
    if (trace.isDefined) {
      trace.foreach(_.detach())
      cycle(s"${job.work}/input-w", s"${job.work}/out-w", None)
      val (w, r) = cycle(s"${job.work}/input-b", s"${job.work}/out-b", None)
      out("untraced") = Map("write" -> w.map(opJson), "read" -> r.map(opJson))
      trace.foreach(_.attach())
    }
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val storeRoots = Seq(tmp.resolve("graft_corpus_store"), tmp.resolve("graft_index_store"),
      Paths.get(job.work, "warehouse"))
    val storesBefore = storeRoots.map(treeSize)
    val (w, r) = cycle(s"${job.work}/input", s"${job.work}/out", trace)
    out("write") = w.map(opJson)
    out("read") = r.map(opJson)
    out("retained_heap_mb") = Main.retainedHeapMb()
    org.apache.spark.sql.ordersbench.Internals.drain(spark.sparkContext)
    out("triggers") = triggersOf(streams, r)
    trace.foreach { t =>
      val stores = storeRoots.map(treeSize).zip(storesBefore)
        .map { case ((b, f), (b0, f0)) => (b - b0, f - f0) }
      val input = treeSize(Paths.get(job.work, "input"))._1
      val layers = Trace.layers(t, spansOf(t, w ++ r),
        (w ++ r).flatMap(o => streams.between(o.startEpochMs, o.endEpochMs)), job.cpus)
      layers("store.bytes_written") = stores.map(_._1).sum
      layers("store.files_written") = stores.map(_._2).sum
      layers("store.bytes_per_input_byte") = stores.map(_._1).sum.toDouble / input.max(1L)
      val warm = readKeys.map(k => runOp(spark, Some(t), s"${job.work}/input",
        s"${job.work}/out-warm", "key", k))
      out("warm") = warm.map(opJson)
      out("layers") = layers.toMap
    }
    out.toMap
  }
}
