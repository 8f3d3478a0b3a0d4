package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Driver-side rows in Catalyst's internal form, for operators that finish
  * their work in the driver: `collect` keeps ids as the engine orders and
  * hashes them (`UTF8String`, not `String`) and vectors as `ArrayData`, so
  * driver arithmetic can call the same kernels the executors run; `frame`
  * hands such rows back as a DataFrame over a `LocalRelation`, with no job.
  * Lives under `org.apache.spark.sql` only because `Dataset.ofRows` is
  * `private[sql]`.
  */
object LocalRows {
  /** `df`'s rows, collected under a SQL execution id like `Dataset.collect`. */
  def collect(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
