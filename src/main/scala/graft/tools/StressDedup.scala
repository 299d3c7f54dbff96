// Scale-stress harness (tools/, not part of the library surface): bounds
// the dedup family's growth beyond the largest staged testdata.
package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Replicates the sf0.1 corpus K× (default 10 ≈ "sf1") with DECORRELATED
  * copies, runs the dedup/similarity family on both scales in one JVM,
  * and prints per-row cost ratios — the signal that catches a
  * super-linear operator before it meets 100 TB.
  *
  * Decorrelation matters: naive replication would make every copy a
  * near-duplicate of its siblings, inflating the true pair count K²× and
  * measuring output explosion, not operator scaling. Instead:
  *  - documents: copy c suffixes every TOKEN with `~c` — all shingles
  *    differ across copies (no cross-copy candidates), while each copy
  *    preserves the original corpus's internal near-dup structure;
  *  - embeddings: copy c ROTATES the vector by c dimensions — cosine
  *    between rotated copies of typical vectors is near 0, while
  *    within-copy geometry (and thus true near-dup pairs) is preserved
  *    exactly (rotation is an isometry).
  * So the TRUE result set scales exactly K× and any super-linear runtime
  * is the operator's own doing.
  */
object StressDedup {
  /** EVERY declared query runs under the stress harness (round-5: the
    * ×10 ratio is the only super-linear-growth detector, and it caught
    * the round-4 IVF flaw — coverage gaps are blind spots). That
    * includes the streaming s_* family: their MemoryStream/file feeds
    * collect the EVENTS table at sfDir, so they scale with the replica
    * like every batch query — and their ratio is the one measurement of
    * state-store commit cost vs corpus size (RocksDB put/get/commit per
    * key as keys and rows grow ×K), the axis no batch query exercises. */
  private def fam: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.sorted
  private var famFilter: Set[String] = Set.empty
  private def famFiltered: Seq[String] =
    if (famFilter.isEmpty) fam else fam.filter(famFilter)

  /** Quadratic BY DESIGN — exact all-pairs baselines (the per-bucket
    * rerank shape; the banded/celled variants own the full-corpus
    * regime), the 7-value-key join demo, and q_knn_join_recall, whose
    * DENOMINATOR is the exact quadratic join (every recall eval pays
    * its exact side once — the celled numerator itself is the scale
    * path, measured unflagged as q_knn_join_cell). Their per-row cost
    * grows ~K; the JSON flags them so the ratio gate reads the flag
    * instead of red-flagging the contract. */
  private val QuadraticByDesign =
    Set("q_knn_join", "q_dedup_embedding", "q_nullsafe_join",
      "q_knn_join_recall")

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 10
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // dev-only filter (args(2), comma-separated): a SUBSET run never
    // writes the committed artifact name — it lands at the -filtered
    // suffix unless SPARK_GRAFT_STRESS_OUT overrides (the Bench
    // filtered-run guard, applied here)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val out = s"/tmp/graft_stress_x$k"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Replicate timestamps as LTZ: the driver's parquet annotates
    // isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ by
    // default — and a Spark-WRITTEN replica then pins NTZ in its footer
    // metadata, overriding the read-side conf Tables.load sets. Disable
    // inference BEFORE the replication reads so the copies round-trip
    // with the same types the queries see on the originals.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    val copies = spark.range(k).select(col("id").cast("int").as("copy"))

    val docs = spark.read.parquet(s"$base/documents.parquet")
    docs.crossJoin(copies)
      .select(
        (col("doc_id") + col("copy").cast("long") * 100000000L).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), col("copy"))), " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    emb.crossJoin(copies)
      .select(
        (col("vec_id") + col("copy").cast("long") * 100000000L).as("vec_id"),
        when(col("copy") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), col("copy") + 1, size(col("embedding")) - col("copy")),
            slice(col("embedding"), lit(1), col("copy")))).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // orders/events: offset the keys so copies stay disjoint. The orders
    // offset is 1e10, clear of q_upsert_merge's 1e8 insert range; the
    // user_id offset decorrelates any per-user grouping across copies.
    val orders = spark.read.parquet(s"$base/orders.parquet")
    orders.crossJoin(copies)
      .withColumn("o_orderkey",
        col("o_orderkey") + col("copy").cast("long") * 10000000000L)
      // custkey offset decorrelates the pagerank graph across copies
      .withColumn("o_custkey",
        col("o_custkey") + col("copy").cast("long") * 1000000L)
      .drop("copy")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    // lineitem: keys follow orders' offsets; suppkey offset keeps the
    // bipartite customer↔supplier graph disjoint per copy
    val lineitem = spark.read.parquet(s"$base/lineitem.parquet")
    lineitem.crossJoin(copies)
      .withColumn("l_orderkey",
        col("l_orderkey") + col("copy").cast("long") * 10000000000L)
      .withColumn("l_suppkey",
        col("l_suppkey") + col("copy").cast("long") * 1000000L)
      .drop("copy")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events.ts is TIMESTAMP(NANOS): read as long (legacy conf), the
    // replica is then written with a plain long ts — Tables.events
    // handles both encodings.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$base/events.parquet")
    events.crossJoin(copies)
      .withColumn("event_id",
        col("event_id") + col("copy").cast("long") * 1000000000L)
      .withColumn("user_id",
        col("user_id") + col("copy").cast("long") * 10000000L)
      .drop("copy")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // dimension tables copy through UNSCALED: they broadcast at any sf
    // (scaling them would only decorrelate the FK joins the fact-side
    // offsets already preserve); queries over a dim alone read the same
    // bytes at both scales and report a trivially sub-linear ratio.
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    def time(name: String, dir: String): Option[Double] =
      try Some((1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min)
      // NonFatal only: an OOM/StackOverflow must ABORT the run — a JVM
      // that just blew its heap times every later query through GC
      // pressure, silently contaminating the remaining ratios (r5 advice)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[stress] $name failed on $dir: ${e.getMessage}")
        None
      }

    // warmup both paths
    time("q_dedup_exact", base)

    // The shared IVF index (Similarity.ivfIndex) builds once per dir and
    // every family query then probes it — which would BLIND the family's
    // ×10 ratios to TRAINING scaling, the exact axis where round 4's
    // super-linear flaw lived. So the build is measured as its own row,
    // cold on every rep (cache cleared first), and the caches are left
    // warm so the family rows measure probe scaling.
    def timeBuild(dir: String): Option[Double] =
      try Some((1 to 2).map { _ =>
        graft.Pins.clear("ivf")
        val t0 = System.nanoTime()
        graft.operators.Similarity.ivfIndex(spark, dir)
        (System.nanoTime() - t0) / 1e9
      }.min)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[stress] ivf_index_build failed on $dir: ${e.getMessage}")
        None
      }
    val buildRow = {
      val tb = timeBuild(base)
      val ts = timeBuild(out)
      // the last Pins.clear("ivf") dropped base's entry — re-warm it
      try graft.operators.Similarity.ivfIndex(spark, base)
      catch { case scala.util.control.NonFatal(_) => () }
      val ratio = for (b <- tb; s <- ts) yield s / (b * k)
      println(f"[stress] ${"ivf_index_build"}%-22s base=${tb.getOrElse(-1.0)}%6.2fs  x$k=${ts.getOrElse(-1.0)}%7.2fs  perRowRatio=${ratio.getOrElse(-1.0)}%5.2f")
      ("ivf_index_build", tb, ts, ratio, false)
    }

    famFilter = only
    val rows = buildRow +: famFiltered.map { q =>
      val tb = time(q, base)
      val ts = time(q, out)
      // per-row cost ratio: >1 = super-linear in corpus size
      val ratio = for (b <- tb; s <- ts) yield s / (b * k)
      val quad = QuadraticByDesign(q)
      val flag = if (quad) " (quadratic by design)" else ""
      println(f"[stress] $q%-22s base=${tb.getOrElse(-1.0)}%6.2fs  x$k=${ts.getOrElse(-1.0)}%7.2fs  perRowRatio=${ratio.getOrElse(-1.0)}%5.2f$flag")
      (q, tb, ts, ratio, quad)
    }
    def j(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    val json = rows.map { case (q, tb, ts, r, quad) =>
      s""""$q":{"base_sec":${j(tb)},"x${k}_sec":${j(ts)},"per_row_ratio":${j(r)},"quadratic_by_design":$quad}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"stress_x$k","k":$k,"base":"$base","n_queries":${rows.size},"failed":${rows.count(_._2.isEmpty)},"queries":$json}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT",
      if (only.isEmpty) "BENCH_sf1.json" else "BENCH_sf1.json-filtered")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[stress] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
