package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau 2004) as an operator
  * COMPOSITION: token co-occurrence graph (positions within `window` in
  * the same document, both directions, multiplicity = edge weight) fed
  * into the fixed-round micro-quantized [[graft.operators.PageRank]].
  * No new iterative machinery — the graph construction is a per-document
  * array map (no self-join, no per-token sort), the ranking rounds are the
  * already-gated PageRank rounds over the token strings themselves, so the
  * whole extraction replays as SQL CTEs.
  *
  * No vocabulary ids: PageRank's ranks depend only on the graph and on the
  * node count, never on the node values, so ranking the strings directly
  * gives the same ranks as ranking dense token ids would — without the
  * id assignment and the joins that map tokens to ids and back.
  */
object TextRank {

  /** @return (token, rank_micro), top `topK` by (rank desc, token asc). */
  def keywords(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 2, iters: Int = 3, topK: Int = 20): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // Hash-spread by doc BEFORE the tokenize: parallelizes the
    // tokenization off a few-file scan and shuffles raw docs, not tokens.
    val toks = graft.operators.Parallelism.spreadBy(docs, col(idCol))
      .select(TextFunctions.tokens(col(textCol)).as("t"))
    // Co-occurrence pairs (t[i], t[i + o]) for every offset o ≤ window,
    // read straight off each document's token array.
    val pairs = toks
      .select(explode(concat((1 to window).map(o =>
        TextFunctions.tokenPairs(col("t"), o)): _*)).as("p"))
      .select(col("p.l").as("a"), col("p.r").as("b"))
    // Collapse to (a, b, multiplicity) BEFORE anything mirrors (guide
    // §2.3): co-occurrence multiplicity is dense (a corpus re-uses its
    // vocabulary constantly), so the distinct-pair relation is orders of
    // magnitude smaller than the positional pair stream — the mirror
    // union and every PageRank round then move the distinct relation,
    // not the corpus. Weights are exact edge counts; PageRank.runWeighted
    // is bit-identical to the expanded rounds.
    val pairsW = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("__w"))
    val edges = pairsW.select(col("a").as("src"), col("b").as("dst"), col("__w"))
      .unionByName(pairsW.select(col("b").as("src"), col("a").as("dst"), col("__w")))
    graft.operators.PageRank.runWeighted(edges, "src", "dst", "__w", iters)
      .select(col("node").as("token"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("token").asc)
      .limit(topK)
  }
}
