package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Logical plan → DataFrame, and the file sources' read-schema rule. Both
  * are `private[sql]`/`private[spark]` in Spark 4; a library that builds a
  * DataFrame over rows it read itself (a `LocalRelation`) needs exactly
  * these two, so this object re-exposes them from inside the
  * `org.apache.spark.sql` namespace, like [[ColumnBridge]].
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The schema a file source reads a user-specified schema as: every
    * field, nested ones included, nullable (`DataSource.resolveRelation`).
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
