package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Compile-time bridge into Spark's `private[sql]` surface, for the custom
  * logical-plan path (SURVEY.md §2.1 q57): building a `DataFrame` from a
  * hand-constructed `LogicalPlan` and lowering `Column`s to catalyst
  * `Expression`s (and a schema's nullable form). This is the same package-placement technique established
  * Spark libraries use to host custom operators; nothing here touches
  * reflection or runtime internals beyond the two factory calls.
  */
object GraftSqlBridge {

  /** Analyze + wrap a hand-built logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** The analyzed logical plan of a DataFrame (stable input for wrapping). */
  def analyzed(df: Dataset[_]): LogicalPlan = df.queryExecution.analyzed

  /** `t` with every field nullable, as Spark's file sources report a schema. */
  def asNullable(t: types.StructType): types.StructType = t.asNullable
}
