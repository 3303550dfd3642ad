package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Positional inverted index + phrase/boolean search — the retrieval side
  * of a corpus engine (BM25 in [[TfIdf]] scores bags of words; this is the
  * POSITIONAL layer that answers exact-phrase and all-terms queries).
  *
  * The index is a plain relation (term, id, pos) — one explode over the
  * corpus, partitioned/bucketable by term at 100 TB so each query touches
  * only its terms' posting lists. Phrase matching is k−1 hash equi-joins
  * on (id, pos−offset): each join side is first FILTERED to one term's
  * posting list, so the join input is |posting list|, never |index|, and
  * every join is 1:1 on position — linear, no window, no UDF.
  */
object InvertedIndex {

  /** Build the positional index: one row per token occurrence. */
  def build(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "term")))
      .select(col("term"), col("id"), col("pos").cast("long").as("pos"))

  /** Docs containing the exact phrase, with occurrence counts.
    * (id, n_matches); one row per doc with ≥ 1 occurrence.
    */
  def phraseSearch(index: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val anchor = index.filter(col("term") === phrase.head)
      .select(col("id"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(anchor) {
      case (acc, (w, i)) =>
        acc.join(
          index.filter(col("term") === w)
            .select(col("id"), (col("pos") - i).as("pos")),
          Seq("id", "pos"))
    }
    matched.groupBy(col("id")).agg(count(lit(1)).as("n_matches"))
  }

  /** Conjunctive (AND) search: ids containing every term at least once. */
  def allTerms(index: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty term set")
    index.filter(col("term").isin(terms.distinct: _*))
      .select(col("id"), col("term")).distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("__k"))
      .filter(col("__k") === terms.distinct.size)
      .select(col("id"))
  }

  /** Trigram instances via two 1:1 positional self-joins — feeds
    * most-frequent-phrase mining (and the q141 gate's phrase pick).
    */
  def trigrams(index: DataFrame): DataFrame =
    index.select(col("id"), col("pos"), col("term").as("w1"))
      .join(index.select(col("id"), (col("pos") - 1).as("pos"),
        col("term").as("w2")), Seq("id", "pos"))
      .join(index.select(col("id"), (col("pos") - 2).as("pos"),
        col("term").as("w3")), Seq("id", "pos"))
      .select(col("id"), col("pos"), col("w1"), col("w2"), col("w3"))
}
