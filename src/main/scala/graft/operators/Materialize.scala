package graft.operators

import org.apache.spark.sql.DataFrame

/** Materialize-once helper for operator-internal intermediates that feed
  * multiple consumers.
  *
  * [[once]] eagerly local-checkpoints the plan: the relation is computed
  * exactly once, the logical plan is truncated to a leaf (so iterative
  * callers replan a constant-size DAG instead of a growing one), and —
  * unlike `Dataset.persist`, whose CacheManager entry holds a strong
  * reference to the blocks for the whole session lifetime — the backing
  * blocks are registered with the ContextCleaner and reclaimed once the
  * returned Dataset is garbage collected. A long-lived session (notebook,
  * Thrift server, a 99-query bench loop) therefore sheds each call's blocks
  * instead of accumulating pinned storage until it squeezes execution
  * memory.
  *
  * Tradeoff vs persist: local-checkpoint blocks are single-replica and NOT
  * recomputable — losing an executor mid-job fails the job instead of
  * recomputing the lost partition. Every relation materialized through this
  * helper is candidate/key/dimension-level (never the raw corpus), so the
  * blast radius is a retry of the calling operator; a pipeline stage that
  * needs executor-loss tolerance across a long job should write its hot
  * intermediate to the lake and read it back (a reliable checkpoint)
  * instead.
  */
object Materialize {
  /** Compute `df` once, truncate its lineage, and let the ContextCleaner
    * reclaim the blocks when the result is no longer referenced.
    */
  def once(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Drop the blocks behind a [[once]] result now, instead of whenever the
    * ContextCleaner next collects it: for a long-lived session that holds
    * on to the result (or to a plan that embeds it) past its last read.
    * The result must not be read afterwards.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      r.rdd.unpersist(blocking = true)
    case _ =>
  }

  implicit final class MaterializeOps(private val df: DataFrame)
      extends AnyVal {
    /** Chain form of [[Materialize.once]]. */
    def materializeOnce: DataFrame = df.localCheckpoint(eager = true)
  }
}
