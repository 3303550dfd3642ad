package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.ExactAgg
import graft.text.{Mda, Readability, Sentiment, WordLists}

/** Sentiment/text-pipeline queries (T1-T6, A9) + remaining §2 operator
  * coverage (A5/A6/A12 aggregate family, W8 ranking family, S8 CSV source,
  * P5 regex predicates).
  */
object TextQueries2 {

  type Q = (SparkSession, String) => DataFrame

  /** Documents wrapped as synthetic SEC-filing-like text: MD&A body framed by
    * Item 7 / Item 7A markers, tripled for the ≥500-char validity guard.
    */
  private def syntheticFilings(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      concat(
        lit("PART II. Item 7. Management's Discussion and Analysis of results. "),
        col("text"), lit(" "), col("text"), lit(" "), col("text"),
        lit(" Item 7A. Quantitative and Qualitative Disclosures.")).as("filing"))

  /** T3 — chunk generator: 1 document → N overlapping chunks. Oracle-checked:
    * the sentence-snapping loop is replayed in DuckDB as a RECURSIVE CTE
    * ([[chunkerCte]]) — last-separator search via reversed strpos, the same
    * forward-progress guard, row_number over emitted chunks for chunk_idx.
    */
  def q33ChunkExplode(s: SparkSession, dir: String): DataFrame =
    Sentiment.chunk(Tables.documents(s, dir), "text", Seq("doc_id"),
        chunkSize = 120, overlap = 20)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_len"))

  /** DuckDB replay of [[graft.text.Chunker.chunkText]] (chunkSize=120,
    * overlap=20) as a recursive CTE: per step, snap `end` to the LAST
    * occurrence of the first separator present (". ", ".\n", "! ", "? " in
    * priority order) within the final 20% (24 chars) of the window —
    * found via strpos on the reversed window — then advance
    * max(end − overlap, start + 1). Emitted non-empty chunks get
    * row_number() by their start offset = posexplode's chunk_idx. Docs at or
    * under chunkSize short-circuit to a single whole-text chunk, as the
    * Scala does.
    */
  private def revSnap(sepRev: String): String =
    s"strpos(reverse(substr(text, start + 97, 24)), $sepRev)"
  private val snapEndSql: String = {
    val cases = Seq("' .'", "chr(10) || '.'", "' !'", "' ?'").map { sep =>
      s"""WHEN ${revSnap(sep)} > 0
         |THEN start + 96 + (24 - ${revSnap(sep)} - 1) + 2""".stripMargin
    }.mkString("\n            ")
    s"""CASE WHEN start + 120 < tlen THEN
       |          CASE
       |            $cases
       |            ELSE start + 120
       |          END
       |        ELSE start + 120 END""".stripMargin
  }
  private val chunkerCte: String =
    s"""WITH RECURSIVE ch AS (
       |  SELECT doc_id, text, len(text) AS tlen, 0 AS start,
       |         CAST(NULL AS VARCHAR) AS chunk, 0 AS chunk_start
       |  FROM documents WHERE len(text) > 120
       |  UNION ALL
       |  SELECT doc_id, text, tlen, next_start, this_chunk, start
       |  FROM (
       |    SELECT doc_id, text, tlen,
       |      trim(substr(text, start + 1, least(snap_end, tlen) - start)) AS this_chunk,
       |      greatest(snap_end - 20, start + 1) AS next_start, start
       |    FROM (
       |      SELECT doc_id, text, tlen, start,
       |        $snapEndSql AS snap_end
       |      FROM ch WHERE start < tlen
       |    )
       |  )
       |),
       |chunks AS (
       |  SELECT doc_id, chunk, chunk_start FROM ch WHERE chunk IS NOT NULL AND chunk <> ''
       |  UNION ALL
       |  SELECT doc_id, text AS chunk, 0 AS chunk_start FROM documents
       |  WHERE len(text) <= 120 AND len(text) > 0
       |)""".stripMargin

  val q33Sql: String =
    s"""$chunkerCte
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY chunk_start) - 1 AS BIGINT) AS chunk_idx,
       |  CAST(len(chunk) AS BIGINT) AS chunk_len
       |FROM chunks""".stripMargin

  /** T4 + A9 — full sentiment pipeline: chunk → PARTITION-BATCHED model
    * ([[graft.text.BatchLexiconModel]], the mapPartitions inference seam
    * with the reference's batch-32/prefetch-512 serving shape) →
    * per-filing aggregation with exact stddev/median/skew + LM ratios +
    * readability. Oracle-checked end to end: the chunker CTE feeds a SQL
    * replica of the lexicon scorer and the fixed-point (1e-6) moment
    * aggregation, so chunking, batched labeling, and every exact-agg
    * formula are all under the hash. The Column-program lexicon model is
    * asserted row-identical to the batch seam in SentimentSpec.
    */
  def q34SentimentPipeline(s: SparkSession, dir: String): DataFrame =
    Sentiment.pipeline(
      Tables.documents(s, dir).withColumnRenamed("text", "body"),
      "body", Seq("doc_id"), model = new graft.text.BatchLexiconModel(),
      chunkSize = 120, overlap = 20)
      .select(col("doc_id"), col("chunk_count"), col("sentiment_score"),
        col("positive_ratio"), col("negative_ratio"), col("neutral_ratio"),
        col("sentiment_std"), col("sentiment_skew"), col("extreme_negative_ratio"),
        col("word_count"), col("fog_index"))

  val q34Sql: String = {
    def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(",")
    // sign-aware HALF_UP to 4dp (Spark round() rounds away from zero).
    // `+ 0.0` canonicalizes IEEE negative zero: the ELSE branch yields -0.0
    // for tiny negatives (e.g. -1e-9 → -floor(0.50001)/1e4 = -0.0) while
    // Spark's BigDecimal-based round() yields +0.0 — value-equal but
    // hash-DIFFERENT under byte-level result hashing (round-2 q34 failure).
    def r4(x: String) =
      s"(CASE WHEN ($x) >= 0 THEN floor(($x)*10000 + 0.5)/10000 ELSE -floor(-($x)*10000 + 0.5)/10000 END + 0.0)"
    val vi = "CAST(round(s*1000000) AS BIGINT)"
    val sumS = s"CAST(sum($vi) AS DOUBLE)"
    val sumS2 = s"CAST(sum($vi*$vi) AS DOUBLE)"
    s"""$chunkerCte,
       |scored AS (
       |  SELECT doc_id,
       |    CASE WHEN pos > neg THEN 'positive' WHEN neg > pos THEN 'negative' ELSE 'neutral' END AS label,
       |    CASE WHEN pos + neg = 0 THEN 0.5 ELSE abs(pos - neg)/CAST(pos + neg AS DOUBLE) END AS score
       |  FROM (
       |    SELECT doc_id,
       |      len(list_filter(string_split_regex(lower(chunk), '\\s+'), x -> x IN (${inList(WordLists.positive)}))) AS pos,
       |      len(list_filter(string_split_regex(lower(chunk), '\\s+'), x -> x IN (${inList(WordLists.negative)}))) AS neg
       |    FROM chunks)
       |),
       |sent AS (
       |  SELECT doc_id, label, score,
       |    CASE WHEN label='positive' THEN score WHEN label='negative' THEN -score ELSE 0.0 END AS s
       |  FROM scored
       |),
       |agg AS (
       |  SELECT doc_id,
       |    count(*) AS chunk_count,
       |    ${r4(s"($sumS/1000000)/count(*)")} AS sentiment_score,
       |    ${r4("CAST(count(CASE WHEN label='positive' THEN 1 END) AS DOUBLE)/count(*)")} AS positive_ratio,
       |    ${r4("CAST(count(CASE WHEN label='negative' THEN 1 END) AS DOUBLE)/count(*)")} AS negative_ratio,
       |    ${r4("CAST(count(CASE WHEN label='neutral' THEN 1 END) AS DOUBLE)/count(*)")} AS neutral_ratio,
       |    CASE WHEN count(*) > 1 THEN ${r4(s"sqrt(($sumS2 - $sumS*$sumS/count(*)) / 1000000.0 / 1000000.0 / (count(*) - 1))")} ELSE 0.0 END AS sentiment_std,
       |    ($sumS/1000000)/count(*) AS mean_raw,
       |    quantile_cont(s, 0.5) AS median_raw,
       |    ${r4("CAST(count(CASE WHEN s < -0.5 THEN 1 END) AS DOUBLE)/count(*)")} AS extreme_negative_ratio
       |  FROM sent GROUP BY doc_id
       |),
       |txt AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-zA-Z]+'), x -> x <> '')) AS BIGINT) AS word_count,
       |    CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+(?:\\s|$$)'), x -> trim(x) <> '')) AS BIGINT) AS n_sent,
       |    CAST(len(regexp_extract_all(text, '\\b[a-zA-Z]+\\b')) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), t ->
       |      len(regexp_extract_all(t, '[aeiouy]+'))
       |        - (CASE WHEN (t LIKE '%e' OR t LIKE '%ed' OR t LIKE '%es')
       |                AND len(regexp_extract_all(t, '[aeiouy]+')) > 1
       |           THEN 1 ELSE 0 END) >= 3)) AS BIGINT) AS n_complex
       |  FROM documents
       |)
       |SELECT a.doc_id, a.chunk_count, a.sentiment_score, a.positive_ratio, a.negative_ratio,
       |  a.neutral_ratio, a.sentiment_std,
       |  CASE WHEN a.chunk_count > 1 AND a.sentiment_std > 0
       |    THEN ${r4("(a.mean_raw - a.median_raw)/a.sentiment_std")} ELSE 0.0 END AS sentiment_skew,
       |  a.extreme_negative_ratio, t.word_count,
       |  CASE WHEN t.n_words = 0 OR t.n_sent = 0 THEN 0.0
       |    ELSE floor(0.4*(t.n_words*1.0/t.n_sent + t.n_complex*100.0/t.n_words)*100 + 0.5)/100.0
       |  END AS fog_index
       |FROM agg a JOIN txt t USING (doc_id)""".stripMargin
  }

  /** T1/T2 — MD&A extraction over synthetic filings. Oracle-checked: the
    * start/end regex cascade is replayed in DuckDB — match position
    * recovered as len(first split part), earliest end-pattern via least(),
    * whitespace-collapse cleanup, ≥minLength validity guard.
    */
  def q35MdaExtract(s: SparkSession, dir: String): DataFrame =
    syntheticFilings(s, dir)
      .select(col("doc_id"),
        Mda.extractMdaUdf(minLength = 100)(col("filing")).as("mda"))
      .select(col("doc_id"),
        (col("mda").isNotNull).cast("int").as("found"),
        coalesce(length(col("mda")), lit(0)).cast("long").as("mda_len"))

  val q35Sql: String = {
    // position of a regex match = len of the first split part; match length
    // via regexp_extract — together they recover Scala's Match.end
    def startCase(pat: String) =
      s"""WHEN regexp_matches(filing, '$pat')
         |    THEN len(regexp_split_to_array(filing, '$pat')[1])
         |         + len(regexp_extract(filing, '$pat'))""".stripMargin
    def endPos(pat: String) =
      s"""CASE WHEN regexp_matches(after_txt, '$pat')
         |      THEN len(regexp_split_to_array(after_txt, '$pat')[1]) END""".stripMargin
    val apos = "’" // literal char — DuckDB's RE2 has no \uXXXX escape
    val s1 = s"(?i)item\\s+7[\\.\\s:]*management[''$apos]?s\\s+discussion\\s+and\\s+analysis"
    val s2 = "(?i)item\\s+7[\\.\\s:]*md\\s*&\\s*a"
    val s3 = s"(?i)item\\s+7[\\.\\s:]*management[''$apos]?s\\s+discussion"
    val e1 = "(?i)item\\s+7a[\\.\\s:]*quantitative\\s+and\\s+qualitative"
    val e2 = "(?i)item\\s+8[\\.\\s:]*financial\\s+statements"
    s"""WITH f AS (SELECT doc_id,
       |  'PART II. Item 7. Management''s Discussion and Analysis of results. '
       |    || text || ' ' || text || ' ' || text
       |    || ' Item 7A. Quantitative and Qualitative Disclosures.' AS filing
       |  FROM documents),
       |s AS (SELECT doc_id, filing,
       |  CASE
       |    ${startCase(s1)}
       |    ${startCase(s2)}
       |    ${startCase(s3)}
       |    ELSE NULL END AS start_end
       |  FROM f),
       |b AS (SELECT doc_id, substr(filing, start_end + 1) AS after_txt
       |  FROM s WHERE start_end IS NOT NULL),
       |e AS (SELECT doc_id, after_txt,
       |  least(${endPos(e1)}, ${endPos(e2)}) AS end_idx
       |  FROM b),
       |c AS (SELECT doc_id,
       |  trim(regexp_replace(
       |    CASE WHEN end_idx IS NOT NULL THEN substr(after_txt, 1, end_idx)
       |         ELSE substr(after_txt, 1, 100000) END,
       |    '\\\\s+', ' ', 'g')) AS cleaned
       |  FROM e)
       |SELECT f.doc_id,
       |  CAST(CASE WHEN len(c.cleaned) >= 100 THEN 1 ELSE 0 END AS INT) AS found,
       |  CAST(CASE WHEN len(c.cleaned) >= 100 THEN len(c.cleaned) ELSE 0 END AS BIGINT) AS mda_len
       |FROM f LEFT JOIN c USING (doc_id)""".stripMargin
  }

  /** A9 (oracle-checkable core) — exact distribution statistics per group:
    * mean, SAMPLE stddev via integer moments, range, exact interpolated
    * median, Pearson skew (mean − median)/std — the reference's
    * chunk-sentiment aggregation shape on numeric data.
    */
  def q36DistStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (ExactAgg.fixedSum(col("value"), 2) / count(lit(1))).as("mean_v"),
        ExactAgg.fixedStddevSamp(col("value"), 2).as("std_v"),
        (max(col("value")) - min(col("value"))).as("range_v"),
        expr("percentile(value, 0.5)").as("median_v"))
      .withColumn("skew_v",
        (col("mean_v") - col("median_v")) / col("std_v"))

  val q36Sql: String =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    (sum(CAST(round(value*100) AS BIGINT))/100.0)/count(*) AS mean_v,
      |    sqrt((sum(CAST(round(value*100) AS BIGINT)*CAST(round(value*100) AS BIGINT))
      |          - CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)
      |            * CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / count(*))
      |         / (100.0*100.0) / (count(*) - 1)) AS std_v,
      |    max(value) - min(value) AS range_v,
      |    median(value) AS median_v
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n, mean_v, std_v, range_v, median_v,
      |  (mean_v - median_v) / std_v AS skew_v
      |FROM m""".stripMargin

  /** T5 — LM word-category ratios over synthetic filings (oracle-checked:
    * same dictionaries inlined in SQL).
    */
  def q37LmRatios(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), WordLists.ratios(col("text")).as("r"))
      .select(col("doc_id"),
        col("r.word_count").as("word_count"),
        col("r.uncertainty_ratio").as("uncertainty_ratio"),
        col("r.constraining_ratio").as("constraining_ratio"),
        col("r.strong_modal_ratio").as("strong_modal_ratio"))

  val q37Sql: String = {
    def r(words: Seq[String], as: String) = {
      val l = words.map(w => s"'$w'").mkString(", ")
      s"CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x IN ($l))) AS DOUBLE)/len(toks) ELSE 0.0 END AS $as"
    }
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[^a-zA-Z]+'), x -> len(x) > 0) AS toks
       |  FROM documents)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS word_count,
       |  ${r(WordLists.uncertainty, "uncertainty_ratio")},
       |  ${r(WordLists.constraining, "constraining_ratio")},
       |  ${r(WordLists.strongModal, "strong_modal_ratio")}
       |FROM t""".stripMargin
  }

  /** A5/A6/A12 — count / exact distinct / latest-per-group metadata stats
    * (the reference's publisher metadata aggregates, publishers.py:562-572).
    */
  def q38MetaStats(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val latest = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    o.withColumn("rn", row_number().over(latest))
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        count_distinct(col("o_orderpriority")).as("n_priorities"),
        date_format(max(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("latest_date"),
        max(when(col("rn") === 1, col("o_orderkey"))).as("latest_orderkey"),
        max(when(col("rn") === 1, col("o_totalprice"))).as("latest_price"))
  }

  val q38Sql: String =
    """WITH r AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
      |SELECT o_custkey, count(*) AS n_orders,
      |  count(DISTINCT o_orderpriority) AS n_priorities,
      |  strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS latest_date,
      |  max(CASE WHEN rn = 1 THEN o_orderkey END) AS latest_orderkey,
      |  max(CASE WHEN rn = 1 THEN o_totalprice END) AS latest_price
      |FROM r GROUP BY o_custkey""".stripMargin

  /** W8 — analytic ranking family: rank, dense_rank, ntile, percent_rank
    * over a deterministic total order.
    */
  def q39Ranking(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
  }

  val q39Sql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pct_rank
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)""".stripMargin

  /** S8 + S12 — pipe-delimited text round-trip (the reference's Nasdaq
    * universe file, universe/current.py:119-146): write nation as '|' CSV,
    * read it back parsed.
    */
  def q40CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = "/tmp/graft_csv_nation"
    Tables.nation(s, dir)
      .repartition(1)
      .write.mode("overwrite")
      .option("sep", "|").option("header", "true")
      .csv(out)
    s.read.option("sep", "|").option("header", "true")
      .option("inferSchema", "false").csv(out)
      .select(col("n_nationkey").cast("int").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"))
  }

  val q40Sql: String =
    """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
      |  CAST(n_regionkey AS INT) AS n_regionkey
      |FROM read_csv('/tmp/graft_csv_nation/*.csv', delim='|', header=true)""".stripMargin

  /** P5 — regex/substring predicate family (the reference's common-stock
    * name heuristics, universe/current.py:20-88).
    */
  def q41RegexFilter(s: SparkSession, dir: String): DataFrame =
    // predicate terms chosen over the FIXTURE vocabulary (p_name is
    // "<adj> <noun>" with nouns ring/bolt/widget/…, p_brand is Brand#N) so
    // the gate filters a nonzero, selective subset (~10% of part) — the
    // round-4 (brass|steel) predicate matched nothing, making the oracle
    // comparison vacuous
    Tables.part(s, dir)
      .filter(col("p_name").rlike("(?i)(ring|bolt)") &&
        !col("p_name").contains("green") &&
        col("p_brand").startsWith("Brand#1"))
      .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_brand"))

  val q41Sql: String =
    """SELECT p_partkey, p_name, p_type, p_brand
      |FROM part
      |WHERE regexp_matches(p_name, '(?i)(ring|bolt)')
      |  AND NOT contains(p_name, 'green')
      |  AND starts_with(p_brand, 'Brand#1')""".stripMargin

  /** T6 — readability metrics. Oracle-checked: the vowel-group syllable
    * heuristic, sentence split, and Gunning Fog arithmetic are replicated in
    * DuckDB SQL (the -e and -ed/-es syllable adjustments are mutually
    * exclusive by last character, so the sequential decrements flatten to
    * one CASE).
    */
  def q42Readability(s: SparkSession, dir: String): DataFrame =
    syntheticFilings(s, dir)
      .select(col("doc_id"),
        Readability.sentenceCountUdf(col("filing")).cast("long").as("n_sentences"),
        Readability.complexWordsUdf(col("filing")).cast("long").as("n_complex"),
        Readability.avgSentenceLengthUdf(col("filing")).as("avg_sentence_len"),
        Readability.fogIndexUdf(col("filing")).as("fog"))

  val q42Sql: String =
    """WITH f AS (SELECT doc_id,
      |  'PART II. Item 7. Management''s Discussion and Analysis of results. '
      |    || text || ' ' || text || ' ' || text
      |    || ' Item 7A. Quantitative and Qualitative Disclosures.' AS filing
      |  FROM documents),
      |w AS (SELECT doc_id,
      |  CAST(len(list_filter(regexp_split_to_array(filing, '[.!?]+(?:\s|$)'),
      |       x -> trim(x) <> '')) AS BIGINT) AS n_sentences,
      |  CAST(len(regexp_extract_all(filing, '\b[a-zA-Z]+\b')) AS BIGINT) AS n_words,
      |  CAST(len(list_filter(regexp_extract_all(lower(filing), '[a-z]+'), t ->
      |    len(regexp_extract_all(t, '[aeiouy]+'))
      |      - (CASE WHEN (t LIKE '%e' OR t LIKE '%ed' OR t LIKE '%es')
      |              AND len(regexp_extract_all(t, '[aeiouy]+')) > 1
      |         THEN 1 ELSE 0 END) >= 3)) AS BIGINT) AS n_complex
      |  FROM f)
      |SELECT doc_id, n_sentences, n_complex,
      |  CASE WHEN n_sentences = 0 THEN 0.0
      |    ELSE floor(n_words*100.0/n_sentences + 0.5)/100.0 END AS avg_sentence_len,
      |  CASE WHEN n_words = 0 OR n_sentences = 0 THEN 0.0
      |    ELSE floor(0.4*(n_words*1.0/n_sentences + n_complex*100.0/n_words)*100 + 0.5)/100.0
      |  END AS fog
      |FROM w""".stripMargin

  /** PII redaction pass ([[graft.text.Redaction]]): the fixtures carry no
    * PII, so the query first injects synthetic emails / SSN-shaped ids /
    * IPv4s deterministically from doc_id (with gaps — only every 3rd/4th/5th
    * doc gets each category, so zero counts are exercised), then counts and
    * redacts. The oracle replays the injection and the RE2-compatible
    * regexes; redacted text equality is proven by md5.
    */
  def q85PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val enriched = Tables.documents(s, dir).select(id, concat(
      col("text"),
      when(id % 3 === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@mail"),
          (id % 10).cast("string"), lit(".example.com"))).otherwise(lit("")),
      when(id % 4 === 0,
        concat(lit(" id "), lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 100).cast("string"), 2, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" host 10."), (id % 256).cast("string"), lit("."),
          ((id * 7) % 256).cast("string"), lit("."),
          ((id * 13) % 256).cast("string"))).otherwise(lit(""))).as("text"))
    graft.text.Redaction.report(enriched, "text", "doc_id")
      .select(col("doc_id"), col("n_emails").cast("int").as("n_emails"),
        col("n_ssns").cast("int").as("n_ssns"),
        col("n_ips").cast("int").as("n_ips"), col("redacted_md5"))
  }

  val q85Sql: String = {
    import graft.text.Redaction.{emailRe, ssnRe, ipRe}
    s"""WITH enr AS (SELECT doc_id, text ||
       |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
       |       || '@mail' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' ELSE '' END ||
       |  CASE WHEN doc_id % 4 = 0 THEN ' id ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
       |       || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
       |       || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
       |       || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
       |       || '.' || CAST(doc_id * 13 % 256 AS VARCHAR) ELSE '' END AS t
       | FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$emailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$ssnRe')) AS INT) AS n_ssns,
       |  CAST(len(regexp_extract_all(t, '$ipRe')) AS INT) AS n_ips,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$emailRe', '[EMAIL]', 'g'), '$ssnRe', '[SSN]', 'g'), '$ipRe', '[IP]', 'g'))
       |    AS redacted_md5
       |FROM enr""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q85_pii_redaction" -> (q85PiiRedaction _),
    "q33_chunk_explode" -> (q33ChunkExplode _),
    "q34_sentiment_pipeline" -> (q34SentimentPipeline _),
    "q35_mda_extract" -> (q35MdaExtract _),
    "q36_dist_stats" -> (q36DistStats _),
    "q37_lm_ratios" -> (q37LmRatios _),
    "q38_meta_stats" -> (q38MetaStats _),
    "q39_ranking" -> (q39Ranking _),
    "q40_csv_roundtrip" -> (q40CsvRoundtrip _),
    "q41_regex_filter" -> (q41RegexFilter _),
    "q42_readability" -> (q42Readability _))

  val oracleSql: Map[String, String] = Map(
    "q85_pii_redaction" -> q85Sql,
    "q33_chunk_explode" -> q33Sql,
    "q34_sentiment_pipeline" -> q34Sql,
    "q35_mda_extract" -> q35Sql,
    "q36_dist_stats" -> q36Sql,
    "q37_lm_ratios" -> q37Sql,
    "q38_meta_stats" -> q38Sql,
    "q39_ranking" -> q39Sql,
    "q40_csv_roundtrip" -> q40Sql,
    "q41_regex_filter" -> q41Sql,
    "q42_readability" -> q42Sql)
}
