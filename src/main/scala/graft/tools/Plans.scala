package graft.tools
import graft.SparkEntry
import graft.queries.MatchingQueries
object Plans {
  def main(a: Array[String]): Unit = {
    val spark = graft.Session.build(4)
    // the value this tool has always printed plans under
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    a.foreach { q =>
      println(s"##### $q")
      val df = if (q == "flagship") MatchingQueries.flagship(spark, dir)
               else SparkEntry.queries(q)(spark, dir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
