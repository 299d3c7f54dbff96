package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The distributed-rank stitch shared by [[Analytics.gapsIslands]] and
  * [[Scale.skyline]] — the repo's replacement for single-task global
  * sorts: range-partition on the order key, PIN the sampled boundaries,
  * reduce each partition to ONE scalar, fold those P scalars into a
  * strict-prefix array on the driver (P values — the only driver-side
  * data), and hand the pinned relation + prefix back so the caller can
  * lift per-partition local work to a global answer (local rank +
  * prefix count = global rank; local sweep vs prefix max = global
  * maxima). At 100 TB the relation never serializes into one task and
  * the driver sees O(P) scalars regardless of data size. Pinning
  * matters: repartitionByRange SAMPLES boundaries, so the scalar pass
  * and the caller's per-partition pass must read the same layout or
  * the prefix is stitched against phantom partitions. */
private[graft] object PrefixStitch {

  /** The count/RANK specialization of [[rangePrefix]]: per-partition
    * row counts folded into a strict-prefix sum, returned as the
    * broadcast-ready (pid, rank_before) relation — so global rank =
    * rank_before + local row_number. One definition of the lift both
    * rank consumers ([[Analytics.gapsIslands]], [[Corpus.trainShuffle]])
    * previously hand-rolled (an Int-vs-Long pid drift between two
    * copies would produce a silently empty join). */
  def rangeRank(df: DataFrame, keys: Seq[Column]): (DataFrame, DataFrame) = {
    val (pinned, prefixArr) = rangePrefix[Long](
      df, keys, Seq(count(lit(1))), 0L, _ + _, _.getLong(1), sortWithin = false)
    val s = pinned.sparkSession
    import s.implicits._
    val prefix = prefixArr.zipWithIndex
      .map { case (v, p) => (p, v) }.toSeq.toDF("pid", "rank_before")
    (pinned, broadcast(prefix))
  }

  /** Range-partition `df` by `keys` into the session's shuffle-partition
    * count, localCheckpoint, and compute the driver prefix fold of one
    * per-partition scalar.
    *
    * @param scalarAggs aggregates over each pid group (e.g. count, max;
    *                   kept FLAT — top-level agg columns, not a struct,
    *                   so the P-row collect deserializes through plain
    *                   Row access instead of a nested SafeProjection)
    * @param zero       fold identity (0 for sum, -Inf for max)
    * @param fold       prefix combine (sum, max, …)
    * @param get        scalar extraction from the (pid, v1, v2, …) agg row
    * @param sortWithin also sort rows within each range (for callers
    *                   whose per-partition pass streams in key order
    *                   rather than re-sorting via a window)
    * @return the pinned relation with a `pid` column appended, and
    *         prefix(p) = fold of partitions 0 .. p-1's scalars
    */
  def rangePrefix[S: ClassTag](
      df: DataFrame, keys: Seq[Column], scalarAggs: Seq[Column],
      zero: S, fold: (S, S) => S, get: Row => S,
      sortWithin: Boolean): (DataFrame, Array[S]) = {
    val s = df.sparkSession
    val parts = math.max(1, s.conf.get("spark.sql.shuffle.partitions").toInt)
    val base = df.repartitionByRange(parts, keys: _*)
    val ordered = if (sortWithin) base.sortWithinPartitions(keys: _*) else base
    val pinned = graft.Pins.checkpoint(ordered.withColumn("pid", spark_partition_id()))
    val scalars = pinned.groupBy(col("pid"))
      .agg(scalarAggs.head, scalarAggs.tail: _*)
      .collect().map(r => (r.getInt(0), get(r))).toMap
    val nP = pinned.rdd.getNumPartitions
    val prefix = new Array[S](nP)
    var run = zero
    for (p <- 0 until nP) {
      prefix(p) = run
      run = fold(run, scalars.getOrElse(p, zero))
    }
    (pinned, prefix)
  }
}
