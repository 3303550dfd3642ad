package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** THE private-API bridge — the single `org.apache.spark.sql.*` shim this
  * library ships (the standard extension-library idiom: Delta, Sedona and
  * Iceberg each carry one for exactly these seams). Everything
  * Spark-internal the engine touches funnels through this one object so
  * there is ONE surface to audit per Spark upgrade:
  *
  *  - Column ↔ Expression conversion (Spark 4's ColumnNode-backed Column
  *    API), for native Catalyst expressions exposed as Columns;
  *  - `Dataset.ofRows`, for custom LogicalPlans surfaced as DataFrames;
  *  - a thread's Spark local properties (job group, description,
  *    scheduler pool), which [[graft.DriverPool]] carries onto its legs.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A copy of this thread's local properties. */
  def localProperties(sc: SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  def setLocalProperties(sc: SparkContext, props: java.util.Properties): Unit =
    sc.setLocalProperties(props)
}
