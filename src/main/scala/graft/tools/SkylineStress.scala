// Skew-stress harness (tools/, not part of the library surface): the
// measured-claim discipline applied to q_skyline's anti-correlated
// worst case — the one data-dependent branch choice (ADVICE round 8)
// that had a size gate but no measurement behind the gate's value.
package graft.tools

import org.apache.spark.sql.functions._

/** q_skyline's candidate union is tiny when (balance, volume)
  * correlate and ~the whole relation when they ANTI-correlate (every
  * balance gain trades away volume — each row is a frontier point).
  * The operator gates on candidate COUNT: small sets take a broadcast
  * anti-join (O(|cand|²) dominance pairs — memory-safe under the gate
  * but quadratic in compute), large sets take the distributed 2-D
  * maxima sweep (round 9: keyed group-max + range sweep + prefix
  * stitch — O(n log n), nothing serialized). This harness builds
  * perfectly anti-correlated supplier/lineitem corpora (bal = i,
  * vol = n − i: the frontier IS the relation) at several sizes and
  * times three plans on each:
  *
  *  - `bnl`: the broadcast anti-join forced (ceiling above n);
  *  - `sweep`: the distributed sweep forced (ceiling 0);
  *  - `serial`: the round-8 fallback replayed inline (every candidate
  *    through ONE sorted partition) — the serialization baseline the
  *    distributed sweep replaced.
  *
  * All three emit identical rows (asserted). Writes
  * SKYLINE_STRESS.json; the bnl/sweep crossover justifies the shipped
  * [[graft.operators.Scale.SkylineBroadcastMaxCands]] default. */
object SkylineStress {

  def main(args: Array[String]): Unit = {
    val sizes: Seq[Int] =
      if (args.nonEmpty) args(0).split(",").toSeq.map(_.trim.toInt)
      else Seq(20000, 60000, 180000)
    val reps = sys.env.getOrElse("SPARK_GRAFT_SKEW_REPS", "2").toInt.max(1)
    val spark = graft.LocalSession("ERROR")
    import spark.implicits._

    def corpus(n: Int): String = {
      val dir = s"/tmp/graft_skystress_$n"
      // bal = i, vol = n − i: strict anti-correlation, frontier = all
      // rows; quantities land on the fixed-point grid exactly
      spark.range(n).select(col("id").as("s_suppkey"),
          concat(lit("s"), col("id")).as("s_name"),
          (col("id") % 25).cast("int").as("s_nationkey"),
          col("id").cast("double").as("s_acctbal"))
        .repartition(32).write.mode("overwrite").parquet(s"$dir/supplier.parquet")
      spark.range(n).select(col("id").as("l_orderkey"), col("id").as("l_partkey"),
          col("id").as("l_suppkey"), lit(1).as("l_linenumber"),
          (lit(1) * (lit(sizes.max) - col("id"))).cast("double").as("l_quantity"),
          lit(1.0).as("l_extendedprice"), lit(0.0).as("l_discount"),
          lit(0.0).as("l_tax"), lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("l_shipdate"))
        .repartition(32).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }

    def time(body: => Long): (Double, Long) = {
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val rows = body
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      (samples.map(_._1).min, samples.head._2)
    }

    // the round-8 serial fallback, replayed for the baseline row: the
    // candidate union (here: everything) through one sorted partition
    def serialSweep(d: String): Long = {
      val base = graft.Tables.supplier(spark, d)
        .join(graft.Tables.lineitem(spark, d), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_suppkey"), col("s_acctbal"))
        .agg((sum(floor(col("l_quantity") * 10000 + 0.5)).cast("double") / 10000.0)
          .as("volume"))
      base.select(col("s_suppkey"), col("s_acctbal"), col("volume"))
        .as[(Long, Double, Double)]
        .repartition(1)
        .sortWithinPartitions(col("s_acctbal").desc, col("volume").desc)
        .mapPartitions { it =>
          var prevMax = Double.NegativeInfinity
          var groupBal = Double.NaN
          var groupTop = Double.NegativeInfinity
          it.filter { case (_, bal, vol) =>
            if (bal != groupBal) {
              prevMax = math.max(prevMax, groupTop)
              groupBal = bal
              groupTop = vol
            }
            vol == groupTop && groupTop > prevMax
          }
        }.toDF("k", "b", "v").count()
    }

    val rows = for (n <- sizes) yield {
      val d = corpus(n)
      def gated(ceiling: String): Long = {
        spark.conf.set("graft.skyline.broadcastMaxCands", ceiling)
        try graft.SparkEntry.queries("q_skyline")(spark, d).count()
        finally spark.conf.unset("graft.skyline.broadcastMaxCands")
      }
      gated("0") // warmup + builds file caches
      val (tSweep, rSweep) = time(gated("0"))
      // the quadratic branch is capped: at 180k candidates the BNLJ is
      // 3.2e10 dominance pairs — pricing it once at 60k (3.6e9) is the
      // point; beyond that the measurement would only burn the box
      val bnl = if (n <= 60000) Some(time(gated(Long.MaxValue.toString))) else None
      val (tSer, rSer) = time(serialSweep(d))
      assert(rSweep == n && bnl.forall(_._2 == n) && rSer == n,
        s"n=$n frontier mismatch: sweep=$rSweep bnl=${bnl.map(_._2)} serial=$rSer")
      println(f"[skystress] n=$n%-8d sweep=$tSweep%7.2f s  bnl=${bnl.map(_._1).getOrElse(-1.0)}%7.2f s  serial=$tSer%7.2f s")
      (n, tSweep, bnl.map(_._1), tSer)
    }

    val json = rows.map { case (n, sw, bn, se) =>
      s"""{"n":$n,"frontier":$n,"sweep_sec":$sw,"bnl_sec":${bn.map(_.toString).getOrElse("null")},"serial_sec":$se}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"skyline_stress","reps":$reps,"rows":$json}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SKYSTRESS_OUT", "SKYLINE_STRESS.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[skystress] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
