package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The declarative-plan contract at the scan: filters must reach the
  * parquet reader as PushedFilters and projections must shrink
  * ReadSchema — a scan reading all columns for a two-column projection
  * is the 100 TB failure mode the prompt calls out explicitly. */
class PushdownSpec extends AnyFunSuite {
  import TestSpark._

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("predicate reaches the parquet scan as a pushed filter") {
    val df = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_totalprice")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(o_orderstatus,O)"),
      s"status filter not pushed to the scan:\n$plan")
  }

  test("projection prunes the scan's ReadSchema to referenced columns") {
    val df = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
    val plan = formatted(df)
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in plan:\n$plan"))
    assert(readSchema.contains("l_returnflag") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_comment"),
      s"scan reads more than the projection needs: $readSchema")
  }

  test("query surface stays inside whole-stage codegen (no RDD scans)") {
    // q01 is the flagship relational aggregation; its executed plan
    // must be one WholeStageCodegen span over the scan (modulo the
    // final exchange), with no ExistingRDD/DeserializeToObject hops.
    // AQE only materializes codegen stages in the FINAL plan, so run
    // the query first.
    val df = queries.RelationalQueries.q01PricingSummary(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the final AQE plan prints codegen spans as "*(n)" stage markers
    assert(plan.contains("*("), s"no WholeStageCodegen span:\n$plan")
    assert(!plan.contains("ExistingRDD") && !plan.contains("DeserializeToObject"),
      s"opaque RDD boundary in a relational query:\n$plan")
  }

  test("an unlistable table directory fails naming the path, not with an NPE") {
    // File.listFiles returns null when a directory cannot be read
    val dir = new java.io.File(s"$sf/unreadable.parquet") {
      override def isDirectory: Boolean = true
      override def listFiles(): Array[java.io.File] = null
    }
    val e = intercept[java.io.IOException](Tables.diskBytes(dir))
    assert(e.getMessage.contains(dir.getPath), e.getMessage)
  }

  test("scans are cached per Spark application, not per session object") {
    assert(Tables.orders(spark, sf) eq Tables.orders(spark, sf))
    // a sibling session shares the application (and its SparkContext)
    assert(Tables.orders(spark.newSession(), sf) eq Tables.orders(spark, sf))
  }
}
