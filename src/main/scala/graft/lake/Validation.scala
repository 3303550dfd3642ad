package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lake data-quality validation (the reference's completeness checking,
  * storage/pipeline/validation.py:84-235: list what exists per security,
  * diff against what the calendar says should exist, report gaps — the
  * machinery behind its "daily ~99% coverage" number).
  *
  * Restated as one declarative join: expected days = calendar spine clipped
  * to each entity's active span (spine is broadcast, facts shuffle once on
  * the entity key), observed = the entity's distinct fact days, and the
  * per-month diff is the coverage report. At 100 TB this runs as a routine
  * audit query, not an object-store listing crawl.
  */
object Validation {

  /** Per (entity, month) coverage: expected spine days inside the entity's
    * [first, last] fact-day span vs observed distinct fact days (spine days
    * only), missing count, and coverage ratio.
    */
  def coverageReport(facts: DataFrame, entityCol: String, dateCol: String,
      spine: DataFrame): DataFrame = {
    val days = facts.select(col(entityCol), col(dateCol).as("date")).distinct()
    val bounds = days.groupBy(col(entityCol))
      .agg(min(col("date")).as("__first"), max(col("date")).as("__last"))
    val expected = bounds
      .join(broadcast(spine),
        spine("date").between(col("__first"), col("__last")))
      .groupBy(col(entityCol), date_format(spine("date"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("expected_days"))
    val observed = days
      .join(broadcast(spine.select(col("date"))), Seq("date"), "left_semi")
      .groupBy(col(entityCol), date_format(col("date"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("observed_days"))
    expected.join(observed, Seq(entityCol, "month"), "left")
      .withColumn("observed_days", coalesce(col("observed_days"), lit(0L)))
      .withColumn("missing_days", col("expected_days") - col("observed_days"))
      .withColumn("coverage",
        col("observed_days").cast("double") / col("expected_days"))
  }
}
