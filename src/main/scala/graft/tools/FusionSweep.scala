// Measurement harness (tools/, not part of the library surface): the
// RRF fusion-balance curve — the one retrieval default (RrfK) that
// had no measurement behind it.
package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sweeps the RRF constant k ∈ {10, 30, 60, 120, 300} through
  * [[graft.operators.Similarity.hybridWeightedAt]] and reports, per
  * setting, how the fused top-5 balances the three legs:
  *
  *  - `sem@5`: per-query |fused ∩ EXACT cosine top-5| / 5, averaged
  *    over the panel — how much of the true semantic neighborhood
  *    fusion keeps;
  *  - `lex@5`: the same per-query mean against the count-leg top-5 —
  *    the lexical end of the composition the k knob could turn.
  *
  * (Two reference sets suffice: the idf-weighted leg tracks the count
  * leg on this corpus — that correlation is itself the headline
  * finding below — and the vector leg's presence is exactly what
  * sem@5 measures.)
  *
  * Small k is winner-take-all per leg (a rank-1 anywhere dominates);
  * large k flattens 1/(k+r) toward leg-count consensus — docs found
  * by TWO mediocre legs outrank docs found by one leg at rank 1. The
  * curve quantifies that trade on this corpus; a deployment re-runs
  * it on its own queries to pick k. The declared q_hybrid_weighted
  * stays at the literature default k = 60. Writes FUSION_SWEEP.json;
  * the table is recorded in PLANS.md. */
object FusionSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.LocalSession("ERROR")
    import spark.implicits._

    val e = graft.Tables.embeddings(spark, sfDir)
    val n = e.count()
    graft.operators.Similarity.ivfIndex(spark, sfDir) // shared build, once

    // the family's shared panel (panelFilter) and the EXACT cosine
    // top-5 per query — the semantic ground truth of the sweep
    val panel = broadcast(e.filter(graft.operators.Similarity.panelFilter(n))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    val exact5 = e.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        graft.operators.Similarity.cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 5)
      .select(col("qid"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // each leg's own top-5, k-independent (ranks don't move with k) —
    // read once from the k=60 run's per-leg rank columns by re-ranking
    // the fused candidates' source legs is not possible from the
    // declared output, so recompute the fused top-5 per k and compare
    // against the legs via the declared q_hybrid_search (count+vector
    // legs) and a wlex replica is overkill: composition here uses the
    // EXACT top-5 and the count-leg top-5 as the two reference sets.
    val lex5 = {
      val toks = graft.Tables.documents(spark, sfDir).select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      val qtok = toks.join(panel.select(col("qid")), col("doc_id") === col("qid"))
        .select(col("qid"), col("tok"))
      val wl = Window.partitionBy(col("qid"))
        .orderBy(col("overlap").desc, col("doc_id").asc)
      toks.join(broadcast(qtok), "tok")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("overlap"))
        .withColumn("rk", row_number().over(wl)).filter(col("rk") <= 5)
        .select(col("qid"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    val fusedByK = (for (k <- Seq(10, 30, 60, 120, 300)) yield {
      k -> graft.operators.Similarity.hybridWeightedAt(spark, sfDir, k)
        .select(col("qid"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }).toMap
    val base = fusedByK(60)
    // per-QUERY mean over the panel's qids, /5 per query — a qid whose
    // full-outer fusion yields fewer than 5 candidates still divides
    // by 5, so queries weigh equally and k-to-k rows share one
    // denominator regardless of per-k row counts
    val qids = exact5.map(_._1)
    def meanAt5(fused: Set[(Long, Long)], ref: Set[(Long, Long)]): Double =
      if (qids.isEmpty) 0.0
      else qids.toSeq.map(q =>
        fused.count(p => p._1 == q && ref.contains(p)).toDouble / 5.0)
        .sum / qids.size
    println("| k | sem@5 | lex@5 | vs k=60 | fused rows |")
    println("|---|---|---|---|---|")
    val rows = for (k <- Seq(10, 30, 60, 120, 300)) yield {
      val fused = fusedByK(k)
      val sem = meanAt5(fused, exact5)
      val lex = meanAt5(fused, lex5)
      val stab = (fused & base).size.toDouble / fused.size.toDouble.max(1.0)
      println(f"| $k | $sem%.3f | $lex%.3f | $stab%.3f | ${fused.size} |")
      (k, sem, lex, stab, fused.size)
    }
    val json = rows.map { case (k, s1, l1, st, nr) =>
      f"""{"k":$k,"sem_at5":$s1%.4f,"lex_at5":$l1%.4f,"overlap_vs_k60":$st%.4f,"n_rows":$nr}"""
    }.mkString("[", ",", "]")

    // the knob that ACTUALLY moves the balance: the vector leg's vote
    // weight at fixed k = 60. With the two correlated lexical legs
    // effectively double-voting, w = 2 is where the vector leg reaches
    // parity — the curve shows where semantic docs enter the fused set
    println("| vec weight (k=60) | sem@5 | lex@5 | fused rows |")
    println("|---|---|---|---|")
    val wrows = for (w <- Seq(1.0, 1.5, 2.0, 3.0, 4.0, 8.0)) yield {
      val fused = graft.operators.Similarity
        .hybridWeightedAt(spark, sfDir, 60, w)
        .select(col("qid"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sem = meanAt5(fused, exact5)
      val lex = meanAt5(fused, lex5)
      println(f"| $w%.1f | $sem%.3f | $lex%.3f | ${fused.size} |")
      (w, sem, lex, fused.size)
    }
    val wjson = wrows.map { case (w, s1, l1, nr) =>
      f"""{"vec_weight":$w%.1f,"k":60,"sem_at5":$s1%.4f,"lex_at5":$l1%.4f,"n_rows":$nr}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"fusion_sweep","sf":"$sfDir","rows":$json,"vec_weight_rows":$wjson}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_FUSION_OUT", "FUSION_SWEEP.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case ex: Throwable =>
      System.err.println(s"[fusion] could not write $outFile: ${ex.getMessage}")
    }
    spark.stop()
  }
}
