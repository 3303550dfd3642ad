package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF for the reference's Pearson median-skew
  * `(mean − median) / sample_stddev` (derived/sentiment.py:229-234) — exact
  * median requires holding the group's values, so this is the one aggregate
  * that genuinely needs a custom `Aggregator` buffer (SURVEY §2.11).
  *
  * Buffer is the value multiset; merge is concatenation — associative and
  * commutative, so partial aggregation and any reduction order give the same
  * final sort-based median. Returns null for groups of < 2 values or zero
  * stddev (the reference emits 0.0 there — callers coalesce as needed).
  *
  * Scale note: per-group state is O(group size); intended for bounded groups
  * (chunks per filing ≈ dozens). For unbounded groups use the
  * `percentile`-based formulation in `Sentiment.aggregate` instead.
  */
object MedianSkew extends Aggregator[Double, List[Double], Option[Double]] {

  // List with O(1) prepend — an Array `:+` buffer would copy the whole
  // buffer per input row (O(n²) per group); element order is irrelevant
  // since finish() sorts.
  override def zero: List[Double] = Nil

  override def reduce(buf: List[Double], v: Double): List[Double] = v :: buf

  override def merge(a: List[Double], b: List[Double]): List[Double] = a ::: b

  override def finish(buf: List[Double]): Option[Double] = {
    val n = buf.length
    if (n < 2) return None
    val sorted = buf.sorted.toIndexedSeq
    val mean = buf.sum / n
    val median =
      if (n % 2 == 1) sorted(n / 2)
      else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    val variance = buf.map(v => (v - mean) * (v - mean)).sum / (n - 1)
    val std = math.sqrt(variance)
    if (std == 0.0) None else Some((mean - median) / std)
  }

  override def bufferEncoder: Encoder[List[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Double]]()

  override def outputEncoder: Encoder[Option[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Option[Double]]()

  /** Column form for untyped aggregation. */
  def apply(c: Column): Column =
    org.apache.spark.sql.functions.udaf(this).apply(c)
}
