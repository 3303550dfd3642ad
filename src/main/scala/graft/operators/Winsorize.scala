package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group quantile winsorization — the standard outlier treatment
  * before statistical features (clip, don't drop: row counts and joins
  * stay intact while tail values stop dominating sums/moments).
  *
  * One exact-percentile aggregation per group (Spark `percentile`, the
  * (n−1)·p linear-interpolation definition DuckDB's `quantile_cont`
  * shares — the q72 parity), one broadcast of the per-group bounds (a
  * group-cardinality relation), and a map-side clamp. The clipped value
  * is emitted milli-scaled (`round(clipped·10)` on an integer-cents
  * input) so downstream sums stay exact integers.
  *
  * Scale: exact percentile buffers a group's values on one task — the
  * q72 trade; swap in [[Histogram.quantileMicro]] bounds for sketch-sized
  * state when groups outgrow memory (the operator only needs SOME bound
  * source; the clamp is the same).
  */
object Winsorize {

  /** @param valueCol integer-scaled LONG column (e.g. cents)
    * @return input columns + (lo_bound, hi_bound, clipped_milli) where
    *         clipped_milli = round(clamp(v, lo, hi) · 10)
    */
  def clip(df: DataFrame, groupCols: Seq[String], valueCol: String,
      loQ: Double, hiQ: Double): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    val g = groupCols.map(col)
    // Spread before the exact-percentile aggregation: its partial buffers
    // hold raw values (no reduction), so off a few-file scan the whole
    // buffer build would serialize onto one core; round-robin spreads the
    // buffering across the cluster and the merge still sees one buffer
    // set per group. Result is multiset-determined — identical either way.
    val bounds = Parallelism.spread(df).groupBy(g: _*).agg(
      expr(s"percentile($valueCol, $loQ)").as("lo_bound"),
      expr(s"percentile($valueCol, $hiQ)").as("hi_bound"))
    df.join(broadcast(bounds), groupCols)
      .withColumn("clipped_milli",
        round(least(greatest(col(valueCol).cast("double"), col("lo_bound")),
          col("hi_bound")) * 10).cast("long"))
  }
}
