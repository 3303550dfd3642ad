package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale document pipelines:
  * tokenization, counting, quality ratios, language-ID scoring, and
  * fingerprinting (generalizing the reference's T5/T6 operators:
  * derived/word_lists.py:283-341, derived/sentiment.py:120-172).
  *
  * Everything here is a pure `Column` expression over Spark's higher-order
  * array functions — codegen-friendly, no UDFs, no data movement to the
  * driver; each scales as a narrow map over the corpus.
  */
object TextFunctions {

  /** Whitespace tokenization of lowercased, trimmed text. */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** The pairs (t[i], t[i + offset]) of a token array, in order, as an
    * array of (l, r) structs; empty when the array is shorter than
    * `offset + 1`, null when it is null.
    */
  def tokenPairs(toks: Column, offset: Int): Column = {
    val n = greatest(size(toks) - offset, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(1 + offset), n),
      (l, r) => struct(l.as("l"), r.as("r")))
  }

  /** GPT-style pre-tokenizer piece pattern (the BPE input segmentation):
    * contractions, space-prefixed letter runs, space-prefixed digit runs,
    * space-prefixed punctuation runs, residual whitespace. Deliberately
    * lookahead-free and ASCII-classed so RE2-based engines (the DuckDB
    * oracle) segment identically; alternation order is load-bearing.
    */
  val bpePiecePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"

  /** Pre-tokenizer piece count — the standard proxy for BPE token count
    * when the merge table isn't shipped with the engine (a real tokenizer
    * drops into the same Column seam).
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(bpePiecePattern))

  def charCount(text: Column): Column = length(text)

  def avgTokenLength(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast("double") / tokenCount(text)

  /** Fraction of characters that are sentence punctuation. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") / length(text)

  /** Fraction of tokens found in `words` (stopword ratio when `words` is a
    * stopword list; LM-dictionary ratio in the reference's T5 use).
    */
  def wordRatio(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words))).cast("double") /
      tokenCount(text)

  /** Composite document quality score in [0,1]: length saturation,
    * punctuation sanity, stopword presence — the length/punct/stopword shape
    * of LLM-corpus quality filters.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    least(tokenCount(text).cast("double") / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))) * 0.3 +
      least(wordRatio(text, stopwords) * 4.0, lit(1.0)) * 0.3

  /** Per-language stopword-hit scores (n-gram-heuristic language ID).
    * Returns one score column per language; see [[langId]] for the argmax.
    */
  def langScores(text: Column, dicts: Map[String, Seq[String]]): Map[String, Column] =
    dicts.map { case (lang, words) => lang -> wordRatio(text, words) }

  /** Argmax language with deterministic tie-break (lexicographically greatest
    * language wins ties via struct comparison).
    */
  def langId(text: Column, dicts: Map[String, Seq[String]]): Column = {
    val scored = dicts.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(wordRatio(text, words).as("score"), lit(lang).as("lang"))
    }
    greatest(scored: _*).getField("lang")
  }

  /** Whole-document content fingerprint (hex md5 of the raw text). */
  def contentFingerprint(text: Column): Column = md5(text.cast("binary"))

  /** Order-insensitive bag-of-words fingerprint: md5 over the sorted token
    * list — robust to token reordering (near-dup canonicalization).
    */
  def bagOfWordsFingerprint(text: Column): Column =
    md5(array_join(array_sort(tokens(text)), " ").cast("binary"))

  /** Engine-portable 32-bit token hash: little-endian integer of the first
    * 4 md5 bytes (equals DuckDB's `md5_number_upper(x) % 2^32`). Native
    * fused digest ([[graft.expressions.PortableTokenHash]]) — bit-identical
    * to [[portableTokenHashBuiltin]] (PortableHashSpec) without the
    * hex-string/substring/conv allocation chain per token.
    */
  def portableTokenHash(t: Column): Column =
    graft.expressions.PortableTokenHash(t)

  /** The builtin-composition reference form of [[portableTokenHash]] —
    * kept as the spec's ground truth for the pinned hash identity. */
  private[graft] def portableTokenHashBuiltin(t: Column): Column = {
    val m = md5(t.cast("binary"))
    conv(concat(substring(m, 7, 2), substring(m, 5, 2),
      substring(m, 3, 2), substring(m, 1, 2)), 16, 10).cast("long")
  }

  /** Rolling polynomial hash over the token stream (document fingerprinting
    * with positional sensitivity). Modular arithmetic keeps every
    * intermediate below 2^36 — safe under ANSI overflow checking at any
    * document length — and the md5-derived token codes make the value
    * engine-portable (oracle-checkable). Native fused fold
    * ([[graft.expressions.RollingFingerprint]]) — bit-identical to
    * [[rollingFingerprintBuiltin]] (PortableHashSpec) without the
    * interpreted per-token lambda dispatch.
    */
  def rollingFingerprint(text: Column): Column =
    graft.expressions.RollingFingerprint(tokens(text))

  /** The HOF-fold reference form of [[rollingFingerprint]] — the spec's
    * ground truth for the pinned fingerprint identity. */
  private[graft] def rollingFingerprintBuiltin(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => pmod(acc * 31L + portableTokenHashBuiltin(t), lit(1000000007L)))
}
