package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketches (Flajolet et al. 2007) with
  * engine-portable hashing — the mergeable counterpart of
  * `approx_count_distinct`: per-group register ARRAYS you can persist,
  * union across shards/days (element-wise max), and estimate from later —
  * the incremental-distinct-maintenance shape at 100 TB (build per
  * partition/day once, fold sketches, never rescan history).
  *
  * Fixed geometry: m = 64 registers (p = 6), 54-bit rho window from a
  * 60-bit md5-derived hash (15 hex chars — the [[Sketches]] portable-hash
  * idiom). Registers are exact integers; the harmonic denominator is
  * computed as the EXACT integer Σ 2^(55−M_j) (≤ 2^61 — order-free BIGINT
  * sum, no float accumulation), so everything up to the final one-division
  * estimate replays bit-exact in SQL (q140). Alpha = 0.709 (the published
  * constant for m = 64); the small-range branch applies linear counting
  * `m·ln(m/V)` when the raw estimate ≤ 2.5m and empty registers exist —
  * branch condition on engine-identical doubles, estimate micro-rounded.
  *
  * Standard error ≈ 1.04/√m ≈ 13% at m = 64 — the point of this operator
  * is the mergeable-state machinery; crank p for precision (the exact-sum
  * trick holds to p ≤ 9 before Σ 2^(61−p−M_j) scaling needs care).
  */
object Hll {

  val M = 64 // registers
  val W = 54 // rho window bits (60-bit hash minus p = 6 index bits)

  /** 60-bit engine-portable hash (md5 hex prefix, as [[Sketches]]). */
  private def hash60(v: Column): Column =
    conv(substring(md5(v.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** rho = leading-zero count in the W-bit window + 1 ∈ [1, W+1]. `bin`
    * is `Long.toBinaryString`, which has no leading zeros, so its length
    * is the window's significant-bit count (w = 0 is the `when` arm). */
  private def rho(w: Column): Column =
    when(w === 0, lit(W + 1))
      .otherwise(lit(W + 1) - length(bin(w)))

  /** Per-group register array (length 64, element = max rho seen, 0 =
    * empty register). One partially-aggregated groupBy on (group, j), then
    * a bounded (≤64-entry) collect per group — never a data-sized state.
    */
  def build(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val h = hash60(col(valueCol))
    val g = groupCols.map(col)
    df.select(g :+ (h % M).as("__j") :+ rho(shiftright(h, 6)).as("__rho"): _*)
      .groupBy(g :+ col("__j"): _*)
      .agg(max(col("__rho")).as("__mr"))
      .groupBy(g: _*)
      .agg(map_from_entries(collect_list(struct(col("__j"), col("__mr"))))
        .as("__m"))
      .select(g :+ transform(sequence(lit(0L), lit((M - 1).toLong)),
        i => coalesce(element_at(col("__m"), i), lit(0)).cast("int"))
        .as("registers"): _*)
  }

  /** Sketch union: element-wise max. merge(build(A), build(B)) estimates
    * distinct(A ∪ B) — the property that makes sketches maintainable.
    */
  def merge(a: Column, b: Column): Column = zip_with(a, b, (x, y) => greatest(x, y))

  /** Exact integer harmonic denominator Σ 2^(W+1−M_j) (2^55 per empty
    * register). BIGINT-exact and order-free by construction.
    */
  def harmonicS(registers: Column): Column =
    aggregate(registers, lit(0L),
      (acc, r) => acc + pow(lit(2.0), lit(W + 1) - r).cast("long"))

  /** Number of still-empty registers (drives the linear-counting branch). */
  def emptyRegisters(registers: Column): Column =
    aggregate(registers, lit(0L),
      (acc, r) => acc + when(r === 0, 1L).otherwise(0L))

  /** Micro-rounded cardinality estimate: raw = α·m²·2^(W+1)/S, with the
    * linear-counting correction m·ln(m/V) when raw ≤ 2.5m and V > 0.
    */
  def estimateMicro(registers: Column): Column = {
    val s = harmonicS(registers)
    val v = emptyRegisters(registers)
    val raw = lit(0.709) * M * M * lit(math.pow(2, W + 1)) / s
    val est = when(raw <= 2.5 * M && v > 0,
      lit(M.toDouble) * log(lit(M.toDouble) / v)).otherwise(raw)
    round(est * 1e6).cast("long")
  }

  /** Sketch set algebra over a per-group sketch relation (one row per
    * group, a `registers` array): for every unordered group pair
    * (ga < gb) emit the two single-set estimates, the union estimate
    * (from the element-wise-max merged registers), and the
    * inclusion–exclusion intersection estimate
    * |A∩B| ≈ max(0, |A| + |B| − |A∪B|) — all micro-rounded, the
    * intersection as EXACT integer arithmetic over the three already-
    * rounded micros.
    *
    * This is the sketch-only answer to "how many users do these two
    * segments share" at 100 TB: the pair join runs over dimension-sized
    * sketch rows (one per group), never over the data — broadcast the
    * right side; the fact table was consumed once by [[build]].
    */
  def pairwiseSetEstimates(sketches: DataFrame, groupCol: String): DataFrame = {
    val a = sketches.select(col(groupCol).as("ga"), col("registers").as("__ra"))
    val b = sketches.select(col(groupCol).as("gb"), col("registers").as("__rb"))
    // dimension-sized per-group sketch rows — broadcast pair enumeration
    a.join(broadcast(b), col("ga") < col("gb"))
      .select(col("ga"), col("gb"),
        estimateMicro(col("__ra")).as("est_a_micro"),
        estimateMicro(col("__rb")).as("est_b_micro"),
        estimateMicro(merge(col("__ra"), col("__rb"))).as("est_union_micro"))
      .withColumn("est_intersect_micro",
        greatest(lit(0L),
          col("est_a_micro") + col("est_b_micro") - col("est_union_micro")))
  }
}
