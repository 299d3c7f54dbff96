package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table catalog over the driver-generated parquet testdata
  * (TESTDATA.md): TPC-H-ish star schema + `events` stream table +
  * `documents`/`embeddings` for the LLM-pipeline operators.
  *
  * Parquet carries its own schema, so no inference pass is needed;
  * loaders are thin. At cluster scale the same API would point at a
  * partitioned table root — everything downstream is partition-count
  * agnostic (no `collect`, no driver-side loops).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Read naive parquet timestamps as TimestampType (session TZ = UTC),
    // not TIMESTAMP_NTZ — keeps unix_millis/window() applicable and
    // matches DuckDB's epoch_ms on the same files.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark has no native
    * type for — read it as a long (legacy conf) and truncate to micros.
    * Integer `div` (not `/`) keeps full precision: nanos ≈ 1.7e18 exceeds
    * double's 2^53 mantissa. DuckDB truncates ns→ms the same way, so
    * epoch-ms parity holds. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df // fixture data already carries a real timestamp
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** 64-bit fingerprint of a corpus dir: an FNV-1a fold over the
    * (path, size, mtime) of the dir, its direct children (the per-table
    * parquet dirs/files), and THEIR direct children (the part files) —
    * 0 when unlistable (non-local path). The cheap input fingerprint
    * the session cache ([[Pins.pinned]]) and the durable stores use to
    * invalidate on a mid-session rewrite of the data at `d`. Mtime alone
    * was not enough (round-11 advice): filesystem-second granularity let
    * a rewrite landing in the same tick serve stale pins. Part-file
    * NAMES change on every Spark overwrite (fresh task UUIDs) and sizes
    * change on content edits, so folding names + sizes makes a rewrite
    * observable within the same timestamp tick.
    *
    * A transient listing failure (interruption, SecurityException) must
    * NOT mint a fresh fingerprint: returning 0 once displaced a valid
    * pin and then displaced AGAIN when the next listing succeeded — two
    * spurious corpus-index rebuilds per glitch (round-12 advice). On
    * failure the LAST GOOD stamp for the dir is returned instead (no
    * displacement), falling back to 0 only when the dir has never been
    * stamped. NonFatal keeps OutOfMemoryError and friends propagating. */
  private val lastStamp = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  private[graft] def dirStamp(d: String): Long =
    try {
      val f = new java.io.File(d)
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      val parts = kids.flatMap(k => Option(k.listFiles()).getOrElse(Array.empty[java.io.File]))
      val h = ((f +: kids) ++ parts)
        .map(x => s"${x.getAbsolutePath}:${x.length()}:${x.lastModified()}")
        .sorted
        .foldLeft(-3750763034362895579L) { (acc, sig) => // FNV-1a offset basis
          sig.foldLeft(acc)((a, c) => (a ^ c.toLong) * 1099511628211L)
        }
      lastStamp.put(d, h)
      h
    } catch {
      case scala.util.control.NonFatal(_) =>
        Option(lastStamp.get(d)).fold(0L)(_.longValue)
    }
}
