// Skew-stress harness (tools/, not part of the library surface): the
// celled-kNN SkewStress story applied to s_neardup_gate's SHUFFLED
// regime — the one plan whose 100 TB pathology (Zipf-hot band keys)
// had never been executed before round 9.
package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The near-dup gate's shuffled regime (broadcastMaxDocs=0 — the
  * 100 TB branch) equi-joins arrivals against the corpus sketch on
  * `band_key`. Its target population is duplicate-heavy BY DEFINITION
  * (boilerplate/empty documents collapse to identical signatures —
  * finding them is the gate's job), so the shuffled key is hot exactly
  * when the gate matters. This harness builds TWO same-size document
  * corpora from the staged testdata:
  *
  *  - `uniform`: the original documents (organic near-dup rate);
  *  - `hot`: the same doc_ids, but `hotShare` of the texts replaced by
  *    ONE boilerplate string — identical signatures, so every band of
  *    every hot doc lands on one band_key per band (k/4 hot join keys
  *    total).
  *
  * It then drives the REAL s_neardup_gate streaming query on both,
  * under three plans: `broadcast` (the under-ceiling default),
  * `shuffled_salted` (broadcastMaxDocs=0; the default salted shuffle,
  * [[graft.streaming.StreamingIndex.NeardupSaltBuckets]]), and
  * `shuffled_bare` (saltBuckets=1 — the pre-round-9 shape), with
  * streaming shuffle partitions raised to the core count so the
  * contrast isn't capped at the rigs' 4-way test default. Writes
  * NEARDUP_SKEW.json: per (corpus, plan) seconds + each corpus's max
  * band-key share as proof the pathology materialized. Output rows are
  * identical across plans (spec-pinned in IndexLifecycleSpec); only
  * the wall clock may differ. NOTE the local ceiling: with C cores a
  * bare hot key serializes into k/4 = 4 tasks, so the best local
  * salted/bare contrast is ~C/4 — on 1000 executors the same bare plan
  * strands the fleet, which is the number PLANS.md extrapolates. */
object NeardupSkew {

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 2000
    val hotPerTen = if (args.length > 1) args(1).toInt else 9 // hot iff doc_id%10 < this
    val base = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SKEW_REPS", "2").toInt.max(1)
    val uniform = s"/tmp/graft_ndskew_uniform_$nDocs"
    val hot = s"/tmp/graft_ndskew_hot_${nDocs}_$hotPerTen"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // size the gate's state/join partitions to the cores, not the test
    // rigs' 4-way default (see EventPairing.withStreamingPartitions)
    spark.conf.set("graft.streaming.shufflePartitions", "32")

    // 40 tokens ≈ an organic doc's shingle load, so the hot twin pays
    // the same per-doc hashing cost and the delta is pure join skew
    val boiler = (1 to 40).map(i => s"boiler${i % 7}").mkString(" ")
    val docs = spark.read.parquet(s"$base/documents.parquet")
      .filter(col("doc_id") < nDocs)
    docs.repartition(32).write.mode("overwrite").parquet(s"$uniform/documents.parquet")
    docs.select(col("doc_id"),
        when(col("doc_id") % 10 < hotPerTen, lit(boiler)).otherwise(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32).write.mode("overwrite").parquet(s"$hot/documents.parquet")

    // proof the pathology materialized: the largest single (band,
    // band_key) join-key group's share of all band rows
    def maxBandShare(dir: String): Double = {
      val idx = graft.operators.Dedup.md5BandIndex(spark, dir, 16)
      val r = idx.groupBy(col("band"), col("band_key")).count()
        .agg(max("count"), sum("count")).collect()(0)
      r.getLong(0).toDouble / r.getLong(1)
    }
    val shareU = maxBandShare(uniform)
    val shareH = maxBandShare(hot)
    println(f"[ndskew] max band-key share: uniform=$shareU%.4f hot=$shareH%.4f")

    // the keyed regime: a broadcast threshold one byte under the band
    // pin's measured size withholds the map-side probe while the
    // planner stays free to broadcast the small per-batch probe side
    def keyed(dir: String): Map[String, String] = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        (graft.operators.Dedup.md5BandIndex(spark, dir, 16)
          .queryExecution.optimizedPlan.stats.sizeInBytes - 1).toString)
    val plans = Seq[(String, String => Map[String, String])](
      ("broadcast", _ => Map.empty),
      // saltBuckets set EXPLICITLY: the shipped default is 1 (salt
      // off, the measured decision), so the salted regime must ask
      ("shuffled_salted", dir => keyed(dir) + ("graft.neardup.saltBuckets" -> "32")),
      ("shuffled_bare", dir => keyed(dir) + ("graft.neardup.saltBuckets" -> "1")))

    def time(dir: String, confs: Map[String, String]): Option[Double] = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try Some((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries("s_neardup_gate")(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[ndskew] failed on $dir $confs: ${e.getMessage}")
        None
      } finally confs.keys.foreach(spark.conf.unset)
    }

    time(uniform, Map.empty) // warmup (also builds/caches the band index)
    val rows = for ((corpus, dir) <- Seq(("uniform", uniform), ("hot", hot));
        (plan, confs) <- plans) yield {
      val t = time(dir, confs(dir))
      println(f"[ndskew] $corpus%-8s $plan%-16s ${t.getOrElse(-1.0)}%8.2f s")
      (corpus, plan, t)
    }
    // ---- join-stage isolation ----------------------------------------
    // The full-gate numbers above price the whole rig; the SKEWED stage
    // is only the band join (the pair dedup's key is the well-spread
    // pair itself, and the sink is a sink). Replay the exact join the
    // gate plans — StreamingIndex.neardupCandidatePairs, self-joining
    // the band index as the probe side — in BATCH at a larger corpus,
    // with AQE OFF to mirror micro-batch planning (the gate is a
    // STATEFUL streaming query: AQE never re-plans it, so batch-mode
    // skew splitting is not available to the real plan; that is the
    // salt's whole reason to exist).
    val nJoin = if (args.length > 3) args(3).toInt else 5000
    val uniformJ = s"/tmp/graft_ndskew_uniform_$nJoin"
    val hotJ = s"/tmp/graft_ndskew_hot_${nJoin}_$hotPerTen"
    // replicate past the base corpus if needed (copy c: offset ids, a
    // copy token keeps the uniform twin's texts distinct; id%10 — and
    // hence hotness — is copy-invariant since the offset is %10 = 0)
    val baseDocs = spark.read.parquet(s"$base/documents.parquet")
    val nBase = baseDocs.count()
    val copies = math.ceil(nJoin.toDouble / nBase).toInt
    val docsJ = baseDocs
      .crossJoin(spark.range(copies).select(col("id").as("copy")))
      .select((col("doc_id") + col("copy") * 100000000L).as("doc_id"),
        concat(col("text"), lit(" copytoken"), col("copy")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .filter(col("doc_id") % 100000000L < (nJoin + copies - 1) / copies)
    docsJ.repartition(32).write.mode("overwrite").parquet(s"$uniformJ/documents.parquet")
    docsJ.select(col("doc_id"),
        when(col("doc_id") % 10 < hotPerTen, lit(boiler)).otherwise(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32).write.mode("overwrite").parquet(s"$hotJ/documents.parquet")
    val nJoinActual = spark.read.parquet(s"$uniformJ/documents.parquet").count()
    println(s"[ndskew] join corpus: $nJoinActual docs ($copies copies of $nBase)")
    // Four regimes ({auto, forced-SMJ} × {bare, salted R=32}), all
    // through the unhinted join (no band map is passed). `auto` is the
    // plan the gate executes when the band pin is over the threshold:
    // the planner
    // broadcasts the small PROBE side (verified BuildLeft), so emission
    // parallelism follows the corpus's storage partitioning and band-
    // key heat never serializes — the salt only bloats the broadcast
    // table there. `smj` models the giant-batch corner (both sides
    // over threshold → genuinely key-partitioned): the hot keys
    // serialize into k/4 tasks and the salt is the fix.
    val joinPlans = Seq(
      ("auto_bare", Map.empty[String, String]),
      ("auto_salted", Map("graft.neardup.saltBuckets" -> "32")),
      ("smj_bare", Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
      ("smj_salted", Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "graft.neardup.saltBuckets" -> "32")),
      // the BATCH dedup family's regime: the same key-partitioned band
      // self-join shape, but AQE is free to re-plan — its skew-join
      // splits the hot partition (replicating the other side's chunk,
      // valid for inner joins), which is exactly the remedy the
      // STREAMING gate cannot get (stateful queries never re-plan;
      // that asymmetry is the salt's whole justification)
      ("aqe_smj_bare", Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")),
      // isolate WHICH adaptive behavior hurts: skew-split keys on
      // shuffle INPUT bytes (the hot band partitions are ~1 MB in,
      // 729M pairs out — invisible), while partition COALESCING merges
      // the small-input partitions and concentrates the hot keys into
      // fewer tasks
      ("aqe_nocoalesce_smj_bare", Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")))
    def timeJoin(dir: String, confs: Map[String, String]): Option[Double] = {
      val idx = graft.operators.Dedup.md5BandIndex(spark, dir, 16) // cached, pre-built
      (Map("spark.sql.adaptive.enabled" -> "false") ++ confs)
        .foreach { case (k, v) => spark.conf.set(k, v) }
      try Some((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.StreamingIndex
          .neardupCandidatePairs(spark, idx, idx)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[ndskew] join-only failed on $dir $confs: ${e.getMessage}")
        None
      } finally {
        confs.keys.foreach(spark.conf.unset)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }
    timeJoin(uniformJ, joinPlans.head._2) // warmup the join shapes
    val joinRows = for ((corpus, dir) <- Seq(("uniform", uniformJ), ("hot", hotJ));
        (plan, confs) <- joinPlans) yield {
      val t = timeJoin(dir, confs)
      println(f"[ndskew] join-only $corpus%-8s $plan%-16s ${t.getOrElse(-1.0)}%8.2f s")
      (corpus, plan, t)
    }

    def j(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    val json = rows.map { case (c, p, t) => s""""${c}_$p":${j(t)}""" }
      .mkString("{", ",", "}")
    val jsonJ = joinRows.map { case (c, p, t) => s""""${c}_$p":${j(t)}""" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"neardup_skew","n_docs":$nDocs,"hot_per_ten":$hotPerTen,"base":"$base","reps":$reps,"max_bandkey_share_uniform":$shareU,"max_bandkey_share_hot":$shareH,"gate_seconds":$json,"join_n_docs":$nJoin,"join_seconds":$jsonJ}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_NDSKEW_OUT", "NEARDUP_SKEW.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[ndskew] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
