package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-round damped PageRank over an edge list — the authority signal a
  * web-corpus pipeline uses to weight hosts/domains before sampling
  * (OPIC/Common-Crawl-style domain ranking).
  *
  * Engine-exact by construction: ranks live as MICRO-scaled BIGINTs
  * (rank × 10⁶) and every round re-quantizes through the same
  * `round(double)` chain on both engines, so a DuckDB oracle can unroll
  * the rounds as CTEs and hash-match the final ranks exactly (the TfIdf /
  * Perplexity micro-fixed-point trick applied to an iterative operator).
  *
  * Semantics (documented simplifications, identical in the oracle):
  *   - nodes = distinct sources ∪ destinations
  *   - per round: contrib(e) = round(rank(src)/outdeg(src)),
  *     rank'(v) = round(0.15·10⁶/N) + round(0.85·Σ contrib(e into v))
  *   - dangling mass is dropped (teleport-only redistribution), the
  *     standard sparse-graph simplification
  *
  * The ranks depend only on the graph and on N, never on the node
  * values, so any key type with equality works as a node id.
  *
  * Scale posture: each round is one equi-join of the edge relation with
  * the (node, rank) relation plus one groupBy(dst) — shuffle ∝ |E|, no
  * global window, no driver-side graph. Edges and out-degrees are computed
  * once and reused across rounds; rounds are a fixed small constant (the
  * operator is a ranking signal, not a convergence solver).
  */
object PageRank {

  /** @return (node: long, rank_micro: long) after `iters` rounds.
    *
    * Near-unit edge multiplicity (the web-graph shape — q139 measured
    * 1.02 duplicates/pair) takes this path unchanged: collapsing first
    * would pay a full extra |E| shuffle for a ~2% reduction (measured: a
    * collapse-always variant REGRESSED q139 3.4 → 5.0 s). Dense
    * multiplicity (co-occurrence graphs) should pre-collapse and call
    * [[runWeighted]].
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame =
    rounds(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")), None, iters, damping)

  /** [[run]] over a pre-collapsed weighted edge relation: `wCol` is the
    * edge MULTIPLICITY (a positive integral count). Exactly equivalent to
    * running the unweighted rounds over `w` duplicate rows — each
    * duplicate contributes the same long `round(rank(src)/deg(src))`, so
    * summing w copies equals w × the value (exact integer arithmetic) and
    * deg(src) = Σ multiplicities. Collapsing BEFORE the rounds (guide
    * §2.3 — aggregate before you shuffle) matters when multiplicity is
    * dense: the TextRank shape feeds ~1M co-occurrence rows over ≤ 10³
    * distinct pairs, and without this every ROUND re-shuffled the full
    * multiplicity instead of the distinct relation.
    *
    * @return (node, rank_micro: long); `node` keeps the type of the key
    *   columns (TextRank ranks token strings directly).
    */
  def runWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, iters: Int, damping: Double = 0.85): DataFrame =
    // re-aggregate defensively: callers may pass a relation that still
    // carries duplicate (src, dst) rows (weights are additive)
    rounds(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("__w")),
      Some(col("__w")), iters, damping)

  /** The round loop over (src, dst[, multiplicity]) edges. Without a
    * multiplicity every row is one edge, so no (src, dst) collapse runs. */
  private def rounds(edges: DataFrame, mult: Option[Column],
      iters: Int, damping: Double): DataFrame = {
    require(iters >= 1 && iters <= 16, "iters must be in [1, 16]")
    val e = edges.persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    // scalar aggregate, not a data collect: N is one number
    val n = nodes.count()
    val teleportMicro = math.round((1.0 - damping) * 1e6 / n)
    // Out-degrees are STATIC across rounds — attach them to the edge
    // relation once, instead of paying an extra (src)-keyed join inside
    // every round. eDeg is hash-partitioned by src (the groupBy/join key),
    // and localCheckpoint preserves that partitioning, so each round's
    // rank join only exchanges the (node, rank) side.
    val eDeg = graft.operators.Materialize.once(
      e.join(e.groupBy(col("src"))
        .agg(mult.fold(count(lit(1)))(sum(_)).as("deg")), Seq("src")))
    val init = nodes.select(col("node"),
      lit(math.round(1e6 / n)).as("rank_micro"))
    val ranks = (1 to iters).foldLeft(init) { (r, _) =>
      val share = round(col("rank_micro").cast("double") / col("deg"))
        .cast("long")
      val contribs = eDeg
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), mult.fold(share)(share * _).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("sc"))
      nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleportMicro) +
            round(coalesce(col("sc"), lit(0L)) * damping).cast("long"))
            .as("rank_micro"))
    }
    // one materialization of the final ranks, then drop the cached inputs
    val out = ranks.localCheckpoint(true)
    e.unpersist(); nodes.unpersist()
    out
  }
}
