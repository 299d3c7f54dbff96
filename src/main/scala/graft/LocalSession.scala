package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main builds (Bench, Verify, Explain and
  * the `graft.tools` harnesses): the engine's extensions,
  * `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
  * partitions as cores, UTC, AQE on, no UI. A harness therefore runs on
  * the host's `cpus`, the same core count a perf comparison must hold
  * fixed. `SPARK_GRAFT_CONF="k=v;k=v"` then applies session confs
  * (regime experiments, e.g. `spark.sql.autoBroadcastJoinThreshold=-1`
  * forces every gate's keyed branch); nothing sets it by default. */
object LocalSession {

  def apply(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    sys.env.get("SPARK_GRAFT_CONF").foreach(raw =>
      confPairs(raw).foreach { case (k, v) => spark.conf.set(k, v) })
    spark
  }

  /** `k=v` pairs of a conf list. Pairs split on ';' so a conf VALUE may
    * contain ',' (a ','-split silently misparsed such values); a
    * ','-separated list with no ';' still parses. Entries without a key
    * are skipped. */
  def confPairs(raw: String): Seq[(String, String)] =
    raw.split(if (raw.contains(";")) ";" else ",").toSeq.flatMap { kv =>
      val i = kv.indexOf('=')
      if (i > 0) Some(kv.take(i).trim -> kv.drop(i + 1)) else None
    }
}
