package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XxHash64}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.SQLExecution

/** The timed action: runs a query's physical plan exactly as written
  * (final ordering, limits and every output column) and folds its rows
  * into an order-independent fingerprint, with no sink I/O.
  *
  * `count()` would let the optimizer prune columns and drop the final
  * sort; hashing inside a further `select` would let it drop the sort
  * under the aggregate. Executing `executedPlan` directly keeps the plan
  * the user wrote. The execution runs under its own SQL execution id,
  * as every Dataset action does, so listeners see it as one action.
  */
object Fingerprint {

  final case class Result(rows: Long, hash: Long) {
    def render: String = f"$rows%d:$hash%016x"
  }

  def apply(df: DataFrame): Result = df match {
    case d: ClassicDataset[_] =>
      val qe = d.queryExecution
      SQLExecution.withNewExecutionId(qe, Some("fingerprint")) {
        val plan = qe.executedPlan
        plan.resetMetrics()
        val attrs = plan.output
        val parts = plan.execute().mapPartitions { rows =>
          val proj = UnsafeProjection.create(Seq(XxHash64(attrs, 42L)), attrs)
          var n = 0L
          var h = 0L
          rows.foreach { r => n += 1; h += proj(r).getLong(0) }
          Iterator.single((n, h))
        }.collect()
        Result(parts.iterator.map(_._1).sum, parts.iterator.map(_._2).sum)
      }
    case other =>
      throw new IllegalArgumentException(
        s"not a classic Dataset: ${other.getClass.getName}")
  }
}
