// Skew-stress harness (tools/, not part of the library surface): measures
// the celled kNN family on a corpus engineered into ONE giant IVF cell.
package graft.tools

import org.apache.spark.sql.functions._

/** The celled kNN family's Σ|cell|² cost claim is only benign while
  * cells stay balanced — and real embedding corpora cluster (every
  * empty/boilerplate document embeds to one direction). This harness
  * builds TWO same-size replicas of the staged embeddings:
  *
  *  - `uniform`: K× rotation-decorrelated copies (StressDedup's move) —
  *    cells stay ~balanced, the regime every BENCH artifact measures;
  *  - `hot`: the same rows, but 90 % of vectors are collapsed onto ONE
  *    direction (vec 0's embedding). Training's deterministic tie-break
  *    funnels them into a single cell, so q_knn_join_cell's bare-cell
  *    shuffle key serializes ~(0.9n)² compares into ONE task — the
  *    pathological regime.
  *
  * It then times the celled family on both, at the DEFAULT block budget
  * (no tuned confs — the numbers are what a user gets), and writes
  * SKEW_STRESS.json: per query {uniform_sec, hot_sec, hot_over_uniform},
  * plus each replica's max-cell share as proof the skew materialized.
  * Expected shape: q_knn_join_cell and q_knn_classify (same bare-cell
  * key) fall off the cliff; q_knn_join_salted degrades by ~nb_c²/cores,
  * not |cell|² — the measured case for the salted tiling.
  */
object SkewStress {
  private val Fam = Seq("q_knn_join_cell", "q_knn_join_salted", "q_knn_classify")

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 5
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val uniform = s"/tmp/graft_skew_uniform_x$k"
    val hot = s"/tmp/graft_skew_hot_x$k"
    val spark = graft.LocalSession("ERROR")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    val copies = spark.range(k).select(col("id").cast("int").as("copy"))
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    // K× replica, copy c rotated by c dims: cross-copy cosines ~0, so
    // the uniform twin's cells stay as balanced as the original's
    val rep = emb.crossJoin(copies)
      .select(
        (col("vec_id") + col("copy").cast("long") * 100000000L).as("vec_id"),
        when(col("copy") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), col("copy") + 1, size(col("embedding")) - col("copy")),
            slice(col("embedding"), lit(1), col("copy")))).as("embedding"),
        col("label"))
    rep.repartition(32).write.mode("overwrite").parquet(s"$uniform/embeddings.parquet")
    // hot twin: same ids and labels, 90 % of embeddings collapsed onto
    // vec 0's direction (one 64-float driver read — the blob seed)
    val u = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toSeq
    spark.read.parquet(s"$uniform/embeddings.parquet")
      .select(col("vec_id"),
        when(col("vec_id") % 10 =!= 0, typedlit(u)).otherwise(col("embedding"))
          .as("embedding"),
        col("label"))
      .repartition(32).write.mode("overwrite").parquet(s"$hot/embeddings.parquet")

    // proof the skew materialized: max cell share per replica
    def maxShare(dir: String): Double = {
      val sizes = graft.operators.Similarity.ivfIndex(spark, dir)._2
        .groupBy(col("cell")).count().agg(max("count"), sum("count")).collect()(0)
      sizes.getLong(0).toDouble / sizes.getLong(1)
    }
    val shareU = maxShare(uniform)
    val shareH = maxShare(hot)
    println(f"[skew] max cell share: uniform=$shareU%.3f hot=$shareH%.3f")

    def time(name: String, dir: String): Option[Double] =
      try Some((1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[skew] $name failed on $dir: ${e.getMessage}")
        None
      }

    time(Fam.head, uniform) // warmup
    val rows = Fam.map { q =>
      val tu = time(q, uniform)
      val th = time(q, hot)
      val ratio = for (a <- tu; b <- th) yield b / a
      println(f"[skew] $q%-20s uniform=${tu.getOrElse(-1.0)}%7.2fs  hot=${th.getOrElse(-1.0)}%7.2fs  hotOverUniform=${ratio.getOrElse(-1.0)}%6.2f")
      (q, tu, th, ratio)
    }
    def j(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    val json = rows.map { case (q, tu, th, r) =>
      s""""$q":{"uniform_sec":${j(tu)},"hot_sec":${j(th)},"hot_over_uniform":${j(r)}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"skew_stress_x$k","k":$k,"base":"$base","max_cell_share_uniform":$shareU,"max_cell_share_hot":$shareH,"queries":$json}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SKEW_OUT", "SKEW_STRESS.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[skew] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
