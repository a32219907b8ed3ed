package org.apache.spark.sql.graftfn

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Plans behind DataFrames and temp views, for relations that no public
  * reader builds (graft's keyed stores): the `private[sql]`
  * `Dataset.ofRows`, and the session catalog's temp-view lookup.
  */
object Relations {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The plan temp view `name` of `spark` stands for, read from the
    * session catalog without running the analyzer.
    */
  def tempView(spark: SparkSession, name: String): Option[LogicalPlan] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog.getTempView(name).map(_.child)
}
