package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` DataFrame constructors — the
  * standard extension-library pattern for turning a custom LogicalPlan,
  * or an RDD of Catalyst rows, into a DataFrame (the public API offers
  * no entry point). Nothing else from the private surface is touched. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def ofInternalRows(spark: SparkSession, rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
