// One-off decomposition of s_neardup_gate's cost (tools/, not library
// surface): is the slowest streaming row paying for hashing, joining,
// or micro-batch machinery?
package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Times the gate's three layers separately at one sfDir:
  *  1. the corpus band-index build (cold) — priced by Bench already;
  *  2. the MAP-SIDE probe hashing alone (md5BandProbes over the same
  *     documents as a batch relation, noop sink) — the per-arrival
  *     cost that survives at 100 TB;
  *  3. the batch analog of probe+join+dedup (no streaming machinery);
  *  4. the full streaming rig (10 staggered micro-batches).
  * (4) − (3) ≈ what the MemoryStream rig pays for micro-batch
  * planning/state commits — overhead of the TEST HARNESS scale, not of
  * the operator's 100 TB shape. */
object ProfileNeardup {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(name: String)(f: => Unit): Unit = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] $name%-34s ${ts.min}%6.2f s (min of 2)")
    }
    val k = 16
    time("band_index_build (cold)") {
      graft.Pins.clear("band:")
      Dedup.md5BandIndex(spark, d, k).count()
    }
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    time("map_side_probe_hashing") {
      Dedup.md5BandProbes(docs, k)
        .write.format("noop").mode("overwrite").save()
    }
    val corpus = Dedup.md5BandIndex(spark, d, k)
    time("probes+join+dedup (batch analog)") {
      Dedup.md5BandProbes(docs, k).as("s")
        .join(broadcast(corpus).as("c"),
          col("s.band") === col("c.band") &&
            col("s.band_key") === col("c.band_key") &&
            col("s.doc_id") =!= col("c.doc_id"))
        .select(col("s.doc_id").as("doc_id"), col("c.doc_id").as("dup_id"))
        .dropDuplicates("doc_id", "dup_id")
        .write.format("noop").mode("overwrite").save()
    }
    time("s_neardup_gate (full rig)") {
      graft.SparkEntry.queries("s_neardup_gate")(spark, d)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
