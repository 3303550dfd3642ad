package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for training pipelines: assign documents to contiguous
  * fixed-token-budget packs (the "fill each context window" step before
  * batching a corpus into an LLM trainer).
  *
  * Exact first-fit packing is inherently serial (each decision depends on the
  * previous bin's fill), so at scale the standard relaxation is used:
  * documents take a deterministic total order, a DISTRIBUTED prefix sum
  * ([[GlobalOrder.runningSum]] — no single-partition window) accumulates
  * token counts, and a document joins pack `floor(exclusive_cumsum /
  * budget)`. Packs are contiguous in the corpus order and overshoot the
  * budget by at most one document (the one straddling a boundary) — the same
  * guarantee "approximate packing" gives in production dataloaders, with
  * every step shuffle-parallel.
  */
object Packing {

  /** Adds `pack_id` (0-based) to `df`. `orderCols` must be a total order
    * (unique per row); `tokenCol` is the per-document token count.
    */
  def packByBudget(df: DataFrame, tokenCol: String, orderCols: Seq[String],
      budget: Long): DataFrame = {
    require(budget > 0)
    GlobalOrder.runningSum(df, orderCols, col(tokenCol), "__cum")
      .withColumn("pack_id",
        floor((col("__cum") - col(tokenCol)) / lit(budget)).cast("long"))
      .drop("__cum")
  }

  /** Per-pack roll-up: document count, token fill, and fill ratio. */
  def packStats(packed: DataFrame, tokenCol: String, budget: Long): DataFrame =
    packed.groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol)).cast("long").as("pack_tokens"))
      .withColumn("fill_ratio", col("pack_tokens").cast("double") / lit(budget.toDouble))
}
