package graft.text

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** BPE-style merge training over a word-token corpus: each round counts
  * adjacent token pairs, picks the most frequent (ties broken by pair text
  * ascending), and fuses its greedy-leftmost non-overlapping occurrences
  * into one token — the vocabulary-induction primitive of tokenizer
  * training, here at word level (merged pieces join with a space).
  *
  * The corpus lives as ONE token array per document, spread and
  * materialized once. Each round is then:
  *  - a pair count: the adjacent pairs of every array, exploded and
  *    grouped by (l, r) — the only shuffle, and it moves partial counts of
  *    distinct pairs, not tokens; the winner is a 1-row aggregate
  *    collected to the driver (the merge table IS driver-sized by
  *    definition);
  *  - the merge: a narrow per-document map running the same
  *    greedy-leftmost kernel as [[BpeEncoder.encode]]
  *    ([[BpeEncoder.mergePair]]);
  *  - the materialization of the new generation, which also observes its
  *    token count (`tokens_after`) in the same job.
  *
  * Scale: rounds are sequential by nature (each merge changes the next
  * round's pair counts — same loop structure as production BPE trainers);
  * each round costs one pass over the corpus for the counts and one for the
  * merge, with no per-token shuffle, sort or join.
  */
object BpeTrainer {

  /** Train `rounds` merges; returns one row per round:
    * (round, lhs, rhs, cnt, tokens_after).
    */
  def train(df: DataFrame, textCol: String, idCol: String, rounds: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    // Spread by id BEFORE the tokenize: a few-file corpus scan would
    // serialize the tokenization and every round's map onto one core.
    // Null text has no tokens (and `size(null)` must never reach a count).
    // Each generation is MATERIALIZED (eager localCheckpoint): generation N
    // is a plan leaf, so round N+1 analyses a constant-size DAG instead of
    // N nested merge layers. Superseded generations become unreachable
    // when `gen` is rebound and are reclaimed by the ContextCleaner.
    var gen = graft.operators.Materialize.once(
      graft.operators.Parallelism.spreadBy(df, col(idCol))
        .select(TextFunctions.tokens(col(textCol)).as("toks"))
        .filter(col("toks").isNotNull))
    var i = 1
    var done = false
    while (i <= rounds && !done) {
      val top = gen
        .select(explode(TextFunctions.tokenPairs(col("toks"), 1)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect() // the 1-row winner
      if (top.isEmpty) done = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val tokensAfter = new Observation()
        gen = graft.operators.Materialize.once(gen.as[Seq[String]]
          .map(ws => BpeEncoder.mergePair(ws.toIndexedSeq, l, r))
          .toDF("toks")
          .observe(tokensAfter, sum(size(col("toks"))).as("n")))
        out += ((i, l, r, c, tokensAfter.get("n").asInstanceOf[Long]))
        i += 1
      }
    }
    out.toSeq.toDF("round", "lhs", "rhs", "cnt", "tokens_after")
  }
}
