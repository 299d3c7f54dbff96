package graft

/** Plan-inspection main (dev tool, ≙ the reference's
  * `topology.describe()` logging, Main.java:91): prints the formatted
  * physical plan of the named queries (all when none named) so shuffle
  * count, broadcast choice, pushed filters, and codegen spans can be
  * reviewed per operator. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
