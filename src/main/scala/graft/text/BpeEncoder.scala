package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BPE merge APPLICATION — the inference-side counterpart of
  * [[BpeTrainer]] (which induces the merge table): encode each document's
  * word-token stream against a trained, rank-ordered merge list. Same
  * loop as production byte-pair encoders (find the lowest-rank adjacent
  * pair present, fuse its greedy-leftmost non-overlapping occurrences,
  * repeat), lifted to the trainer's word-level token domain (fused pieces
  * join with a space, reference tokenizer seam per SURVEY §2.11).
  *
  * Scale design: embarrassingly parallel — a narrow typed map, no
  * shuffle; the merge table is driver-sized by definition (it is the
  * trained vocabulary) and ships once per task in the closure. The
  * imperative kernel is justified the same way as the chunker: the
  * min-rank fixpoint loop is genuinely sequential per document and has no
  * Column-algebra equivalent, while the surrounding plan (tokenize,
  * project, aggregate) stays relational.
  *
  * Equivalence note (the property the oracle leans on): when no rule's
  * OUTPUT can be a rule OPERAND — always true here, outputs contain a
  * space and operands are single words — the min-rank loop equals one
  * greedy-leftmost replace-all pass per rule in rank order, so a SQL
  * replace chain replays it exactly. The spec pins the case where the
  * two DIFFER (a rule creating an earlier rule's operand) to document
  * that this encoder implements the true min-rank semantics.
  */
object BpeEncoder {

  /** Encode one token stream against rank-ordered merges. */
  def encode(toks0: IndexedSeq[String], merges: IndexedSeq[(String, String)]): IndexedSeq[String] = {
    val rank = merges.zipWithIndex.toMap
    var toks: IndexedSeq[String] = toks0
    var done = false
    while (!done) {
      var best = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = rank.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = merges(best)
        toks = mergePair(toks, l, r)
      }
    }
    toks
  }

  /** One merge step over one token stream: fuse the greedy-leftmost
    * non-overlapping occurrences of the pair (l, r) into one token. The
    * kernel [[BpeTrainer]] maps over each document per round.
    */
  def mergePair(toks: IndexedSeq[String], l: String, r: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < toks.length) {
      if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
        out += l + " " + r; j += 2   // greedy-leftmost non-overlap
      } else { out += toks(j); j += 1 }
    }
    out.toIndexedSeq
  }

  /** Per-document encode stats: (id, n_words, n_tokens, n_merged). */
  def encodeStats(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = merges.toIndexedSeq
    // spread a narrow scan before the per-document encode loop — a
    // few-row-group corpus file would otherwise serialize the CPU-heavy
    // map onto a handful of cores (no-op at real file counts)
    val toks: Dataset[(Long, Seq[String])] = graft.operators.Parallelism
      .spread(df.select(col(idCol).cast("long"), TextFunctions.tokens(col(textCol))))
      .as[(Long, Seq[String])]
    toks.map { case (id, ws) =>
      val enc = encode(ws.toIndexedSeq, m)
      (id, ws.length.toLong, enc.length.toLong, (ws.length - enc.length).toLong)
    }.toDF("id", "n_words", "n_tokens", "n_merged")
  }
}
