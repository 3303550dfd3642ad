package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JArray, JDouble, JLong, JNull, JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}

/** Scale-stress harness: measures how the dedup / ANN / curation
  * headliners scale when the corpus grows 10× and 100×, producing the
  * empirical leg of the 100 TB argument (observed scaling exponents, not
  * just plan-shape audits).
  *
  * Fixture blowup — "more distinct documents", not "the same documents
  * repeated": each copy k of `documents` rewrites the text through a
  * copy-specific alphabet rotation (a Caesar bijection). A character
  * bijection preserves tokenization, token/char counts, and every
  * within-copy shingle-Jaccard relation EXACTLY (shingles map 1:1), while
  * making cross-copy shingle sets disjoint — so the duplicate structure
  * per copy is isomorphic to the original and candidate generation cannot
  * cheat by colliding copies. A naive `union of identical copies` would
  * instead make every doc a 10-way exact duplicate and blow the
  * within-bucket pair count quadratically — a pathological corpus, not a
  * bigger one. Embedding copies rotate the 64 dims by k (norm- and
  * within-copy-geometry-preserving, cross-copy decorrelated).
  *
  * ID offsets are multiples of 1e8, so every doc_id/vec_id modulus the
  * query suite keys on (%10 batch split, %20 clones, %25 seeds, %100
  * panels) is preserved per copy — each query sees per-copy structure
  * identical to the 1× fixture.
  *
  * Two measurement families:
  *   - the registered queries verbatim on the blown-up dir (q25, q27,
  *     q28, q93, q94, q109, q110; q111 to 10× by default — its fixture
  *     pins nlist = N/100, so corpus×centroid assignment is the known
  *     quadratic term of the FIXTURE parameterization, not the operator);
  *   - the ANN scale path parameterized the way a deployment would be:
  *     nlist ∝ √N with a FIXED 20-query panel, where probe cost should
  *     grow ~√N (candidates/query = nprobe·N/nlist) and build ~N^1.5.
  *
  * Run: `sbt "runMain graft.tools.ScaleStress"`; env:
  * SPARK_GRAFT_SCALES=1,10,100  SPARK_GRAFT_TRIALS=2
  * SPARK_GRAFT_Q111_MAX=10  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  * SPARK_GRAFT_ONLY=q25_…,q27_…  SPARK_GRAFT_ANN=0  SPARK_GRAFT_STREAM=1
  * (streaming ANN/media probe legs)
  * SPARK_GRAFT_SCALE_OUT=BENCH_scale_x100.json
  * Writes BENCH_scale_local.json (full detail, one JSON object) unless
  * SPARK_GRAFT_SCALE_OUT overrides the path.
  */
object ScaleStress {

  private val Lo = "abcdefghijklmnopqrstuvwxyz"
  private val Dim = 64
  private val IdStride = 100000000L // preserves %10/%20/%25/%100 per copy

  /** Copy-k text bijection: rotate the alphabet by k (case-preserving). */
  private def rotAlphabet(k: Int): (String, String) = {
    val r = ((k % 26) + 26) % 26
    val lo = Lo.drop(r) + Lo.take(r)
    (Lo + Lo.toUpperCase, lo + lo.toUpperCase)
  }

  private def blowupDocuments(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      val (from, to) = rotAlphabet(k)
      docs.select(
        (col("doc_id") + lit(k * IdStride)).as("doc_id"),
        (if (k == 0) col("text") else translate(col("text"), from, to)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionByName(_))

  /** Copy-k embedding bijection: rotate the 64 dims by k. */
  private def blowupEmbeddings(emb: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      val r = k % Dim
      val vec =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, Dim - r),
          slice(col("embedding"), 1, r))
      emb.select(
        (col("vec_id") + lit(k * IdStride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_.unionByName(_))

  /** Relational/event blowup: k-th copy offsets every KEY column by
    * k·IdStride and leaves all value/time columns untouched, so the
    * per-copy join/window/funnel structure is EXACTLY the 1× fixture's
    * (users, orders and customers of different copies are disjoint; every
    * per-key relation — asof matches, funnel steps, CDC last-writer
    * sequences — is isomorphic per copy). Cross-copy work cannot collide:
    * a super-linear measurement is the operator's, not the corpus's.
    * Reads the RAW fixture (ts passes through whatever generation it is;
    * Tables.events normalizes at load time exactly as at 1×).
    */
  private def blowupByIdOffset(df: DataFrame, factor: Int,
      idCols: Seq[String]): DataFrame =
    (0 until factor).map { k =>
      df.select(df.columns.map { c =>
        if (idCols.contains(c)) (col(c) + lit(k * IdStride)).as(c) else col(c)
      }: _*)
    }.reduce(_.unionByName(_))

  /** Queries whose inputs are the relational/event tables — their presence
    * in the measured set triggers the relational blowup leg.
    */
  private val RelFamily: Set[String] = Set(
    "q1_pricing_summary", "q56_grouping_sets", "q57_salted_join",
    "q134_hotkey_salted", "q9_asof_join", "q10_interval_join",
    "q107_cdc_merge", "q97_funnel", "q98_retention",
    "q103_event_transitions", "q106_rfm_segments",
    // round-8 second leg: orders/lineitem/events consumers
    "q136_file_skipping", "q138_profile", "q139_pagerank",
    "q140_hll_distinct", "q142_corr_matrix", "q151_hll_setops",
    "q153_cusum", "q157_trailing_agg", "q155_asof_forward",
    "q156_asof_nearest",
    // round-8 fourth/fifth legs: indicator windows (events), MOR deletes
    // (orders), schema evolution (customer)
    "q159_drawdown", "q160_ewma", "q161_bollinger", "q162_rsi",
    "q165_delete_vectors", "q166_schema_evolution",
    // round-8 seventh/eighth legs: VaR + momentum (events), join IVM
    // (orders/customer), CDF-driven IVM (lineitem/orders)
    "q169_var_historical", "q170_momentum_backtest",
    "q172_join_ivm", "q173_cdf_join_ivm",
    // ninth leg: split adjustment + NBBO (events consumers)
    "q174_split_adjust", "q175_nbbo",
    // tenth/eleventh legs: microstructure (events), Benford (orders),
    // HHI (supplier dim — rides verbatim), pair spread + weekday (events)
    "q176_flow_imbalance", "q177_kyle_lambda", "q178_benford",
    "q179_hhi", "q180_pair_spread", "q181_weekday_effect",
    // twelfth leg: realized vol + long-short (events consumers)
    "q182_realized_vol", "q183_long_short",
    // round 9: composed lifecycle (orders/customer; supplier rides
    // verbatim). Lake partitions (sid, year) FATTEN with the corpus —
    // the honest scale shape for a partition-overwrite pipeline.
    "q185_daily_lifecycle")

  /** Graph-wave queries need BOTH lineitem keys offset per copy
    * (l_orderkey AND l_partkey) so each copy's co-purchase graph is
    * disjoint and isomorphic to the 1× graph — with shared partkeys a
    * blowup would DENSIFY the graph (support counts multiply) and the
    * measured exponent would be the corpus's densification, not the
    * operator's scaling. They read from `$blowupDir/graph`.
    */
  private val GraphFamily: Set[String] = Set(
    "q149_triangles", "q152_assoc_rules", "q154_kcore")

  private def ensureBlowup(s: SparkSession, srcDir: String, factor: Int,
      withRel: Boolean, withGraph: Boolean): String = {
    val dir = s"/tmp/graft_scale_x$factor"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_BLOWUP_DONE")
    if (!fs.exists(marker)) {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      blowupDocuments(graft.queries.Tables.documents(s, srcDir), factor)
        .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      blowupEmbeddings(graft.queries.Tables.embeddings(s, srcDir), factor)
        .repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      fs.create(marker, true).close()
    }
    val relMarker = new org.apache.hadoop.fs.Path(s"$dir/_BLOWUP_REL_DONE")
    if (withRel && !fs.exists(relMarker)) {
      // raw reads: key offsets only, value/time columns byte-identical
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      def raw(name: String) = s.read.parquet(s"$srcDir/$name.parquet")
      val keyed = Seq(
        "events" -> Seq("event_id", "user_id"),
        "orders" -> Seq("o_orderkey", "o_custkey"),
        "customer" -> Seq("c_custkey"),
        "lineitem" -> Seq("l_orderkey"))
      keyed.foreach { case (name, ids) =>
        blowupByIdOffset(raw(name), factor, ids)
          .repartition(32).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      // dimension tables ride along verbatim (nation/region joins, dict
      // broadcasts) — per-copy fan-out to them is the 1× fan-out
      Seq("nation", "region", "supplier", "part").foreach { name =>
        raw(name).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      fs.create(relMarker, true).close()
    }
    val graphMarker = new org.apache.hadoop.fs.Path(s"$dir/_BLOWUP_GRAPH_DONE")
    if (withGraph && !fs.exists(graphMarker)) {
      blowupByIdOffset(s.read.parquet(s"$srcDir/lineitem.parquet"), factor,
        Seq("l_orderkey", "l_partkey"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$dir/graph/lineitem.parquet")
      fs.create(graphMarker, true).close()
    }
    dir
  }

  /** ANN parameterized as a deployment would: nlist = ⌈√N⌉ centroids
    * picked deterministically, query panel FIXED at the 1× fixture's 20
    * vectors (a daily query batch does not grow with the corpus).
    */
  private def annScalePath(s: SparkSession, dir: String, factor: Int): (DataFrame, DataFrame) = {
    val emb = graft.queries.Tables.embeddings(s, dir)
    val n = emb.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toInt
    // every ⌈N/nlist⌉-th vector by id — deterministic, corpus-spread
    val stride = math.max(1L, n / nlist)
    val cents = emb.filter(col("vec_id") % lit(stride) === 7)
      .limit(nlist)
      .select(col("vec_id").cast("long").as("cell"),
        transform(col("embedding"), x => x.cast("double")).as("centroid"))
    val queries = emb.filter(col("vec_id") < IdStride && col("vec_id") % 100 === 0)
    (cents, queries)
  }

  def main(args: Array[String]): Unit = {
    // sampled BEFORE any work (even session startup): the artifact itself
    // carries the idleness evidence — `loads` inside each trial floor at
    // the run's own 32-thread work and cannot certify an idle box
    val loadStart = graft.GraftSession.loadavg()
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "2").toInt
    val q111Max = sys.env.getOrElse("SPARK_GRAFT_Q111_MAX", "10").toInt
    val spark = graft.GraftSession.create()
    // shuffle width defaults to the core count; SPARK_GRAFT_SHUFFLE sizes
    // it to the DATA for the biggest blowup legs (the 100 TB guidance:
    // partitions must fit in executor memory at the target SF — AQE
    // coalesces a too-wide shuffle for free, it never splits a too-narrow
    // non-skewed one)
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    // SPARK_GRAFT_ONLY=q25_...,q27_... restricts the verbatim set (e.g. an
    // x100 pass over just the sublinear dedup family); the ANN sqrtN path
    // runs unless SPARK_GRAFT_ANN=0
    // SPARK_GRAFT_ONLY=- runs no verbatim queries (custom legs only)
    val verbatim = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(n => n.nonEmpty && n != "-").toSeq)
      .getOrElse(Seq(
        "q25_dedup_exact", "q27_minhash_lsh", "q28_simhash",
        "q93_incremental_neardup", "q94_dup_spans", "q109_curation_pipeline",
        "q110_ann_index_probe", "q111_ivf_pq"))
    val runAnn = sys.env.getOrElse("SPARK_GRAFT_ANN", "1") != "0"
    // fail fast on a typo'd SPARK_GRAFT_ONLY name — before minutes of
    // blowup-fixture I/O, not at first registry(name) lookup after it
    locally {
      val unknown = verbatim.filterNot(graft.SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.mkString(",")}")
    }
    val registry = graft.SparkEntry.queries

    import graft.GraftSession.loadavg
    def reset(): Unit = graft.GraftSession.reset(spark)

    // name -> scale -> (minSec, rows, loads)
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, (Double, Long, Seq[Double])]]
    def record(name: String, factor: Int, sec: Double, rows: Long, loads: Seq[Double]): Unit = {
      val m = results.getOrElseUpdate(name,
        scala.collection.mutable.LinkedHashMap.empty)
      m(factor) = (sec, rows, loads)
      println(f"[scale] $name%-28s x$factor%-4d ${sec}%8.3f s  rows=$rows  load=${loads.map(l => f"$l%.1f").mkString(",")}")
    }

    // Inter-query settle: a measured query's tail work (GC, shuffle file
    // cleanup, ContextCleaner) can bleed into the NEXT query's trials when
    // the suite runs back-to-back — observed as a bimodal 4s/18s split on
    // the same query at the same scale. A few idle seconds between
    // measured queries keeps each capture independent.
    val settleMs = sys.env.getOrElse("SPARK_GRAFT_SETTLE_SEC", "0").toInt * 1000L

    def timeDf(mk: () => DataFrame): (Double, Long, Seq[Double]) = {
      var best = Double.MaxValue
      var rows = -1L
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to trials) {
        loads += loadavg()
        val t0 = System.nanoTime()
        val df = mk()
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) best = sec
        reset()
      }
      rows = mk().count()
      reset()
      if (settleMs > 0) Thread.sleep(settleMs)
      (best, rows, loads.toSeq)
    }

    val withRel = verbatim.exists(RelFamily.contains) ||
      sys.env.getOrElse("SPARK_GRAFT_SKEW", "0") != "0"
    val withGraph = verbatim.exists(GraphFamily.contains)
    if (withRel) // a ns-generation events fixture needs this to read raw
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // build blowup fixtures only for legs that read them (the textrank
    // grow-vocab leg writes its own)
    val needBlowup = verbatim.nonEmpty || runAnn ||
      sys.env.getOrElse("SPARK_GRAFT_DECONTAM", "0") != "0" ||
      sys.env.getOrElse("SPARK_GRAFT_SKEW", "0") != "0" ||
      sys.env.getOrElse("SPARK_GRAFT_ROUTED", "0") != "0" ||
      sys.env.getOrElse("SPARK_GRAFT_STREAM", "0") != "0"
    val dirs = scales.map(f =>
      f -> (if (f == 1 || !needBlowup) srcDir
            else ensureBlowup(spark, srcDir, f, withRel, withGraph))).toMap
    // graph-wave queries read their own double-key-offset lineitem copy
    def dirFor(name: String, f: Int): String =
      if (GraphFamily.contains(name) && f != 1) s"${dirs(f)}/graph" else dirs(f)

    // warm page cache + codegen on every scale dir
    val warmTables =
      Seq("documents", "embeddings") ++
        (if (withRel) Seq("events", "orders", "customer", "lineitem") else Nil)
    dirs.values.foreach { d =>
      warmTables.foreach(t => spark.read.parquet(s"$d/$t.parquet").count())
    }
    if (withGraph) dirs.foreach { case (f, d) =>
      if (f != 1) spark.read.parquet(s"$d/graph/lineitem.parquet").count()
    }

    // q111 and q135 share the fixture-pinned nlist ∝ n parameterization
    // (corpus×centroid assignment is the KNOWN quadratic term of the
    // fixture, not the operator) — both cap at the q111Max scale; their
    // deployment-shaped counterpart is the ann_* sqrtN pair below
    // q186 left the pinned set in round 10: its centroids-∝-n fixture now
    // crosses Decontamination.RouteThreshold at x100 and assignment goes
    // through the two-level router (n^1.5, not n²) — the verbatim leg is
    // measurable again; the deployment shape remains the fixed-index
    // decontam_probe leg (SPARK_GRAFT_DECONTAM=1)
    val pinnedNlist = Set("q111_ivf_pq", "q135_semdedup")
    for (f <- scales; name <- verbatim) {
      if (!pinnedNlist.contains(name) || f <= q111Max) {
        val (sec, rows, loads) = timeDf(() => registry(name)(spark, dirFor(name, f)))
        record(name, f, sec, rows, loads)
      }
    }

    // Routed SemDeDup deployment shape: nlist ∝ n (the constant-cell-size
    // regime that makes flat assignment n²) but assignment goes through
    // the two-level router — bound n^1.5, the measured counterpart of
    // q135's documented fixture-pinned exponent.
    val runRouted = sys.env.getOrElse("SPARK_GRAFT_ROUTED", "0") != "0"
    for (f <- scales if runRouted) {
      val emb = graft.queries.Tables.embeddings(spark, dirs(f))
        .select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") % 100 === 50)
        .select(col("vec_id").cast("long").as("cell"),
          transform(col("embedding"), x => x.cast("double")).as("centroid"))
      val (sec, rows, loads) = timeDf(() =>
        graft.operators.SemDedup.dedupRouted(emb, cents, tau = 0.9, probes = 2))
      record("semdedup_routed", f, sec, rows, loads)
    }

    // Decontamination at probe cost (round 9): the eval index is built
    // ONCE from the 1× fixture (eval suites do not grow with the training
    // corpus) and stays FIXED; each scale probes the full blown-up train
    // corpus against it. The claim under measurement is cost ∝ probe
    // side: exponent ≈ 1 vs corpus factor, with the index build timed
    // separately (a constant, reported at x1 only).
    val runDecontam = sys.env.getOrElse("SPARK_GRAFT_DECONTAM", "0") != "0"
    if (runDecontam) {
      val idxRoot = "/tmp/graft_scale_decontam_idx"
      val baseDocs = graft.queries.Tables.documents(spark, srcDir)
      val baseEmb = graft.queries.Tables.embeddings(spark, srcDir)
        .select(col("vec_id"), col("embedding"))
      val cents = baseEmb.filter(col("vec_id") % 100 === 50)
        .select(col("vec_id").cast("long").as("cell"),
          transform(col("embedding"), x => x.cast("double")).as("centroid"))
      val t0 = System.nanoTime()
      graft.operators.Decontamination.buildIndex(
        baseDocs.filter(col("doc_id") % 50 === 0), "text", "doc_id", 8,
        baseEmb.filter(col("vec_id") % 50 === 0), cents, idxRoot)
      record("decontam_index_build", 1, (System.nanoTime() - t0) / 1e9, 0L,
        Seq(loadavg()))
      for (f <- scales) {
        val dir = dirs(f)
        val (sec, rows, loads) = timeDf(() =>
          graft.operators.Decontamination.probe(spark,
            graft.queries.Tables.documents(spark, dir)
              .filter(col("doc_id") % 50 =!= 0), "text", "doc_id", 8,
            graft.queries.Tables.embeddings(spark, dir)
              .select(col("vec_id"), col("embedding"))
              .filter(col("vec_id") % 50 =!= 0),
            idxRoot, tau = 0.9))
        record("decontam_probe_fixed_index", f, sec, rows, loads)
      }
    }

    // TextRank with a vocabulary that GROWS with the corpus (round 9):
    // the fixture's token pool is only 31 words and the alphabet-rotation
    // blowup saturates at 26 alphabets, so this leg suffixes every token
    // with (copy index, doc_id % 1000) — token universes are disjoint
    // across copies AND across doc buckets, so the vocabulary grows to
    // 31 × 1000 × copies distinct tokens (3.1M at x100), stressing the
    // co-occurrence collapse and a PageRank over a node set that grows
    // ∝ corpus.
    val runTextrank = sys.env.getOrElse("SPARK_GRAFT_TEXTRANK", "0") != "0"
    for (f <- scales if runTextrank) {
      val dir = s"/tmp/graft_scale_textrank_x$f"
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(s"$dir/_DONE")
      if (!fs.exists(marker)) {
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        val base = graft.queries.Tables.documents(spark, srcDir)
        (0 until f).map { k =>
          base.select((col("doc_id") + lit(k * IdStride)).as("doc_id"),
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit(s"$$1x${k}_"), col("doc_id") % 1000)).as("text"))
        }.reduce(_.unionByName(_))
          .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
        fs.create(marker, true).close()
      }
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val (sec, rows, loads) = timeDf(() =>
        graft.text.TextRank.keywords(docs, "text", "doc_id", topK = 20))
      val vocab = docs.select(explode(graft.text.TextFunctions.tokens(col("text"))))
        .distinct().count()
      record("textrank_growvocab", f, sec, vocab, loads)
    }

    // Skew-stressed rank-window backtests (round 9, verdict ask #8): the
    // day key of q170/q183 is low-cardinality by nature; this leg remaps
    // HALF of all events onto ONE day (event_id parity, time-of-day
    // preserved) so a single day carries 50% of every per-day rank
    // window, and measures the same registry queries on the skewed lake.
    val runSkew = sys.env.getOrElse("SPARK_GRAFT_SKEW", "0") != "0"
    for (f <- scales if runSkew) {
      val dir = s"/tmp/graft_scale_skew_x$f"
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(s"$dir/_DONE")
      if (!fs.exists(marker)) {
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        val ev = graft.queries.Tables.events(spark, dirs(f))
        // 1970-01-05 (a Monday) absorbs every even event_id's row
        val skewed = ev.withColumn("ts",
          when(col("event_id") % 2 === 0,
            timestamp_micros((lit(4L * 86400000000L)) +
              (col("ts_ns") / 1000).cast("long") % 86400000000L))
            .otherwise(col("ts")))
          .select("event_id", "ts", "user_id", "event_type", "value")
        skewed.repartition(32).write.mode("overwrite")
          .parquet(s"$dir/events.parquet")
        fs.create(marker, true).close()
      }
      for (name <- Seq("q170_momentum_backtest", "q183_long_short")) {
        val (sec, rows, loads) = timeDf(() => registry(name)(spark, dir))
        record(s"${name}_skewed", f, sec, rows, loads)
      }
    }

    // Chain-shaped connected components (round 10): ONE path of length
    // 10⁴·f — the diameter-proportional case min-label propagation cannot
    // finish — must contract in rounds ∝ log(diameter). The recorded
    // `rows` value is the ROUND COUNT (the claim under measurement), not
    // an output size.
    val runChain = sys.env.getOrElse("SPARK_GRAFT_CHAIN", "0") != "0"
    for (f <- scales if runChain) {
      val n = 10000L * f
      var best = Double.MaxValue
      var rounds = 0
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to trials) {
        loads += loadavg()
        val t0 = System.nanoTime()
        val (labels, r) = graft.operators.Dedup.contractionLabels(
          spark.range(0, n - 1)
            .select(col("id").as("id_a"), (col("id") + 1L).as("id_b")))
        labels.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) best = sec
        rounds = r
        reset()
      }
      record("chain_contraction_roundsAsRows", f, best, rounds, loads.toSeq)
    }

    // Contraction under SKEW (round 12): one hub of degree 10⁴·f with a
    // FIXED 1000-hop chain hanging off it — the shape the large-star step
    // exists for. Claims under measurement: (a) rounds stay ≤ the fixed
    // chain's log-diameter bound (the hub star flattens in O(1) rounds
    // regardless of degree, so rounds must NOT grow with f — recorded as
    // `rows`); (b) wall-clock grows ~linearly in the hub degree (exponent
    // ≈ 1), i.e. the hub key's symmetric groupBy/join rows partial-
    // aggregate and hash-join without single-task quadratic inflation.
    val runHub = sys.env.getOrElse("SPARK_GRAFT_HUB", "0") != "0"
    for (f <- scales if runHub) {
      val h = 10000L * f
      val star = spark.range(1, h + 1)
        .select(lit(0L).as("id_a"), col("id").as("id_b"))
      val chain = spark.range(0, 1000)
        .select((col("id") + h + 1).as("id_a"), (col("id") + h + 2).as("id_b"))
        .unionByName(spark.range(1)
          .select(lit(0L).as("id_a"), lit(h + 1).as("id_b"))) // hub→chain link
      var best = Double.MaxValue
      var rounds = 0
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to trials) {
        loads += loadavg()
        val t0 = System.nanoTime()
        val (labels, r) = graft.operators.Dedup.contractionLabels(
          star.unionByName(chain))
        labels.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) best = sec
        rounds = r
        reset()
      }
      record("hub_contraction_roundsAsRows", f, best, rounds, loads.toSeq)
    }

    // Catalog DPP at scale (round 12): a 40-partition fact whose VOLUME
    // grows with f, joined to a 1-sid-selective dimension through
    // graft.sql.GraftCatalog. With runtime pruning (DppParquetScan) the
    // scan reads one sid's 1/40th of the data; with DPP disabled the same
    // plan reads the whole fact. The gap IS the restored capability,
    // measured; both legs pay the same (constant) listing cost.
    val runCatalog = sys.env.getOrElse("SPARK_GRAFT_CATALOG", "0") != "0"
    for (f <- scales if runCatalog) {
      val root = s"/tmp/graft_scale_catalog2_${math.abs(srcDir.hashCode)}_x$f"
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(s"$root/_READY")
      if (!fs.exists(marker)) {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val nSids = 40L
        val bars = spark.range(0, 1000000L * f).select(
          (col("id") % nSids + 9000L).as("security_id"),
          col("id").as("close_cents"))
        graft.lake.Lake.overwritePartitions(bars, root, "daily_ticks",
          Seq("security_id"))
        val s2 = spark; import s2.implicits._
        graft.lake.Lake.overwritePartitions(
          Seq(("SYMR", 9003L), ("OTHR", 9004L)).toDF("symbol", "security_id"),
          root, "master", Seq.empty)
        fs.create(marker, true).close()
      }
      graft.sql.GraftCatalog.install(spark, "graftscale", root)
      val sql = """
        SELECT sum(t.close_cents) AS s FROM graftscale.daily_ticks t
        JOIN graftscale.master m ON t.security_id = m.security_id
        WHERE m.symbol = 'SYMR'"""
      val (dppSec, dppRows, dppLoads) = timeDf(() => spark.sql(sql))
      record("catalog_join_dpp", f, dppSec, dppRows, dppLoads)
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      try {
        val (off, offRows, offLoads) = timeDf(() => spark.sql(sql))
        record("catalog_join_nodpp", f, off, offRows, offLoads)
      } finally spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    }

    // SQL stats-sidecar skipping at scale (round 13): a versioned table
    // whose FILE COUNT grows with f (32·f range-clustered files), read
    // through the catalog with a fixed-width id range. With the sidecar
    // (statsCols commit) the scan opens the O(1) files whose ranges hit
    // the window; the control table (same data, committed WITHOUT
    // statsCols) has no sidecar, so every file must be opened and only
    // parquet row-group stats limit the damage. Claim: the skip leg stays
    // ~flat across two decades of file count, the no-sidecar leg grows.
    val runSqlSkip = sys.env.getOrElse("SPARK_GRAFT_SQLSKIP", "0") != "0"
    for (f <- scales if runSqlSkip) {
      val root = s"/tmp/graft_scale_sqlskip_${math.abs(srcDir.hashCode)}_x$f"
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(s"$root/_READY")
      if (!fs.exists(marker)) {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        def data = spark.range(0, 1000000L * f).select(
          col("id"), (col("id") % 1000L).as("v"))
          .repartitionByRange(32 * f, col("id"))
        graft.lake.Snapshots.commit(data, root, "t_stats", Seq.empty,
          statsCols = Seq("id"))
        graft.lake.Snapshots.commit(data, root, "t_plain", Seq.empty)
        fs.create(marker, true).close()
      }
      graft.sql.GraftCatalog.install(spark, "graftskip", root)
      def q(t: String) = s"""
        SELECT count(*) AS n, sum(v) AS s FROM graftskip.$t
        WHERE id BETWEEN 500000 AND 550000"""
      val (skipSec, skipRows, skipLoads) = timeDf(() => spark.sql(q("t_stats")))
      record("sql_range_sidecar_skip", f, skipSec, skipRows, skipLoads)
      val (noSec, noRows, noLoads) = timeDf(() => spark.sql(q("t_plain")))
      record("sql_range_nosidecar", f, noSec, noRows, noLoads)
    }

    // Commit-protocol contention (round 14): W writer threads race
    // commitRetry against ONE table — the optimistic-concurrency loop
    // under real (not seam-simulated) contention. Records wall-clock for
    // all W commits to land and, as `rows`, the TOTAL lost-race retries
    // observed. Claims under measurement: every writer lands (versions
    // end dense at W — asserted, a lost update throws), and retry volume
    // stays in the O(W·overlap) regime rather than exploding quadratically
    // (each loss re-reads the new latest once).
    val runContention = sys.env.getOrElse("SPARK_GRAFT_CONTENTION", "0") != "0"
    for (w <- Seq(10, 100) if runContention) {
      val root = s"/tmp/graft_scale_commitrace_${math.abs(srcDir.hashCode)}_w$w"
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val retries = new java.util.concurrent.atomic.AtomicLong(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(w)
      val load0 = loadavg()
      val t0 = System.nanoTime()
      val versions =
        try {
          val futures = (0 until w).map { i =>
            pool.submit(new java.util.concurrent.Callable[Long] {
              // one partition PER WRITER: co-partitioned writers would
              // legitimately dynamic-overwrite each other — the leg
              // measures manifest contention, not partition ownership
              override def call(): Long = graft.lake.Snapshots.commitRetry(
                spark.range(i, i + 1).select(col("id"), col("id").as("p")),
                root, "t", Seq("p"), maxRetries = w * 8,
                onRetry = _ => retries.incrementAndGet())
            })
          }
          futures.map(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
        } finally pool.shutdownNow()
      val sec = (System.nanoTime() - t0) / 1e9
      require(versions.sorted == (1L to w.toLong),
        s"contention lost an update: ${versions.sorted}")
      require(graft.lake.Snapshots
        .readVersion(spark, root, "t", w.toLong).count() == w.toLong,
        "final version must carry every writer's row")
      record("commit_contention_retriesAsRows", w, sec, retries.get(),
        Seq(load0))
      reset()
    }

    // SQL MERGE scale shape (round 15): a FIXED 4k-row CDC batch merged
    // into bases of growing size (5M·f rows, 64 hash partitions, 2 of
    // them touched). Claim under measurement: the merge is SUB-LINEAR in
    // base size — touched-partition discovery is a column-pruned
    // broadcast-semi scan (plus sidecar key-range skipping when the base
    // is key-clustered) and the rewrite full-outer join runs over ONLY
    // the touched partitions; the data-proportional full-table shuffle of
    // a naive merge never happens. `rows` records the base size.
    val runDml = sys.env.getOrElse("SPARK_GRAFT_DML_MERGE", "0") != "0"
    for (f <- scales if runDml) {
      import org.apache.spark.sql.functions.{col, lit}
      val n = 5000000L * f
      val root = s"/tmp/graft_scale_dmlmerge_${math.abs(srcDir.hashCode)}_x$f"
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      graft.lake.Snapshots.commit(
        spark.range(0, n).select(col("id"), (col("id") % 1000).as("bal"),
          (col("id") % 64).as("p")).repartitionByRange(64, col("id")),
        root, "t", Seq("p"), statsCols = Seq("id"))
      graft.sql.GraftCatalog.install(spark, "graftdml", root)
      spark.conf.set("spark.sql.catalog.graftdml.root", root)
      spark.range(0, 2000)
        .select((col("id") * 64 + 3).as("id"), lit(7L).as("delta"), lit(3L).as("p"))
        .union(spark.range(0, 2000)
          .select((col("id") * 64 + 17).as("id"), lit(9L).as("delta"), lit(17L).as("p")))
        .createOrReplaceTempView("graft_scale_dml_ops")
      // the big-base staging commit immediately precedes the measurement;
      // let its I/O tail drain (same rationale as the inter-query settle)
      reset()
      if (settleMs > 0) Thread.sleep(settleMs)
      val load0 = loadavg()
      val t0 = System.nanoTime()
      spark.sql("""MERGE INTO graftdml.t AS tgt USING graft_scale_dml_ops AS s
                   ON tgt.id = s.id
                   WHEN MATCHED THEN UPDATE SET bal = tgt.bal + s.delta
                   WHEN NOT MATCHED THEN INSERT (id, bal, p) VALUES (s.id, s.delta, s.p)""")
      record("sql_merge_fixed_batch", f,
        (System.nanoTime() - t0) / 1e9, n, Seq(load0))
      reset()
    }

    // BY SOURCE full-sync scale shape (round 16): the SCD-2 delist — a
    // snapshot mentioning 99.9% of the base's keys, one `WHEN NOT MATCHED
    // BY SOURCE THEN UPDATE` soft-delisting the absent sliver. Claim
    // under measurement: the statement is LINEAR in base size (exponent
    // ~1) with a one-join + one-rewrite constant — BY SOURCE unprunes the
    // scan BY DEFINITION (docs/API.md prices it as a table scan; this leg
    // is the committed evidence), and it must never go super-linear.
    val runBySource = sys.env.getOrElse("SPARK_GRAFT_DML_BYSOURCE", "0") != "0"
    for (f <- scales if runBySource) {
      import org.apache.spark.sql.functions.col
      val n = 5000000L * f
      val root = s"/tmp/graft_scale_dmlbs_${math.abs(srcDir.hashCode)}_x$f"
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      graft.lake.Snapshots.commit(
        spark.range(0, n).select(col("id"), (col("id") % 1000).as("bal"),
          (col("id") % 64).as("p")).repartitionByRange(64, col("id")),
        root, "t", Seq("p"), statsCols = Seq("id"))
      graft.sql.GraftCatalog.install(spark, "graftbsrc", root)
      spark.conf.set("spark.sql.catalog.graftbsrc.root", root)
      spark.range(0, n).filter(col("id") % 997 =!= 3)
        .select(col("id")) // today's snapshot: all keys but a 0.1% sliver
        .createOrReplaceTempView("graft_scale_bs_snap")
      // honors `trials` (min-of-N): the statement is content-idempotent —
      // every run full-syncs an equal-sized base (run k reads run k-1's
      // rewrite), so repeated timings are comparable and the min shakes
      // out the 80M-row single-shot variance (GC/page-cache noise measured
      // at ±70% across single-trial captures)
      var bsBest = Double.MaxValue
      val bsLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to trials) {
        reset()
        if (settleMs > 0) Thread.sleep(settleMs)
        bsLoads += loadavg()
        val t0 = System.nanoTime()
        spark.sql("""MERGE INTO graftbsrc.t AS tgt
                     USING graft_scale_bs_snap AS s ON tgt.id = s.id
                     WHEN NOT MATCHED BY SOURCE THEN UPDATE SET bal = -1""")
        bsBest = math.min(bsBest, (System.nanoTime() - t0) / 1e9)
      }
      record("sql_merge_bysource_fullsync", f, bsBest, n, bsLoads.toSeq)
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      reset()
    }

    // Streaming-table-write scale shape (round 17): a FIXED ~500k-row
    // micro-batch streamed via `writeStream.toTable` into a versioned
    // table whose BASE grows 5M→80M rows (64 partitions). Claim under
    // measurement: epoch latency is ~FLAT in base size — the epoch commit
    // carries prior files by reference (manifest-sized metadata reconcile
    // + ledger scan) and writes only the batch's own bytes; nothing in
    // the sink rescans or rewrites the table.
    val runStreamWrite =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_WRITE", "0") != "0"
    for (f <- scales if runStreamWrite) {
      import org.apache.spark.sql.functions.col
      val n = 5000000L * f
      val root = s"/tmp/graft_scale_swrite_${math.abs(srcDir.hashCode)}_x$f"
      val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      lfs.delete(new org.apache.hadoop.fs.Path(root), true)
      graft.lake.Snapshots.commit(
        spark.range(0, n).select(col("id"), (col("id") % 1000).as("bal"),
          (col("id") % 64).as("p")).repartitionByRange(64, col("id")),
        root, "t", Seq("p"), statsCols = Seq("id"))
      graft.sql.GraftCatalog.install(spark, "graftswsc", root)
      spark.conf.set("spark.sql.catalog.graftswsc.root", root)
      val src = s"$root/_src"; val cp = s"$root/_cp"
      spark.range(n, n + 500000L).select(col("id"),
          (col("id") % 1000).as("bal"), (col("id") % 64).as("p"))
        .repartition(4).write.parquet(src)
      val schema = spark.read.parquet(src).schema
      reset()
      if (settleMs > 0) Thread.sleep(settleMs)
      val load0 = loadavg()
      val t0 = System.nanoTime()
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graftswsc.t")
      q.awaitTermination()
      record("stream_table_write_fixed_batch", f,
        (System.nanoTime() - t0) / 1e9, n, Seq(load0))
      lfs.delete(new org.apache.hadoop.fs.Path(root), true)
      reset()
    }

    // Epoch-ledger scale shape (round 18): VERSION COUNT grows 10→10,000
    // while the epoch payload stays fixed. Claim under measurement: the
    // steady-state epoch commit is ~FLAT in history depth — the replay
    // probe answers from the LATEST manifest's high-water index (one
    // parse), never a scan over all live manifests; the only
    // depth-proportional work left is the manifest-directory listing
    // (one getdents sweep, microseconds per thousand entries). `rows`
    // records the version count; `sec` is the per-epoch commit latency
    // (mean of 5 fresh epochs at the top of the history).
    val runEpochLedger =
      sys.env.getOrElse("SPARK_GRAFT_EPOCH_LEDGER", "0") != "0"
    val epochVersionCounts = sys.env
      .getOrElse("SPARK_GRAFT_EPOCH_VERSIONS", "10,100,1000,10000")
      .split(",").map(_.trim.toInt).toSeq
    for (v <- epochVersionCounts if runEpochLedger) {
      import org.apache.spark.sql.functions.col
      val root = s"/tmp/graft_scale_epoch_${math.abs(srcDir.hashCode)}_v$v"
      val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      lfs.delete(new org.apache.hadoop.fs.Path(root), true)
      val frame = spark.range(0, 1000)
        .select(col("id"), (col("id") % 4).as("p"))
      graft.lake.Snapshots.commit(frame, root, "t", Seq("p"))
      // build the history: v-1 ledger-only epochs (no files — the leg
      // measures metadata depth, not data I/O)
      var i = 0L
      while (i < v - 1) {
        graft.lake.Snapshots.commitStreamEpoch(spark, root, "t", Seq.empty,
          frame.schema, Seq("p"), Nil, "qledger", i)
        i += 1
      }
      reset()
      if (settleMs > 0) Thread.sleep(settleMs)
      val load0 = loadavg()
      val t0 = System.nanoTime()
      (0 until 5).foreach(k =>
        graft.lake.Snapshots.commitStreamEpoch(spark, root, "t", Seq.empty,
          frame.schema, Seq("p"), Nil, "qledger", (v + k).toLong))
      record("epoch_commit_by_versions", v,
        (System.nanoTime() - t0) / 1e9 / 5, v, Seq(load0))
      lfs.delete(new org.apache.hadoop.fs.Path(root), true)
      reset()
    }

    // ANN scale path: build (nlist = √N) and probe (fixed 20-query panel)
    for (f <- scales if runAnn) {
      val dir = dirs(f)
      val (cents, queries) = annScalePath(spark, dir, f)
      val emb = graft.queries.Tables.embeddings(spark, dir)
      val root = s"/tmp/graft_scale_annidx_${math.abs(srcDir.hashCode)}_x$f"
      val (bSec, _, bLoads) = {
        var best = Double.MaxValue
        val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
        for (_ <- 1 to trials) {
          loads += loadavg()
          val t0 = System.nanoTime()
          graft.operators.AnnIndex.build(emb, cents, root)
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec < best) best = sec
          reset()
        }
        (best, 0L, loads.toSeq)
      }
      record("ann_build_sqrtN", f, bSec, emb.count(), bLoads)
      val (pSec, pRows, pLoads) = timeDf(() =>
        graft.operators.AnnIndex.probe(spark, root, queries, k = 10, nprobe = 4))
      record("ann_probe_fixedpanel", f, pSec, pRows, pLoads)
    }

    // Streaming probes at corpus scale (round 10): q196's (ANN) and
    // q193's (media dHash) STREAMING postures against a blown-up
    // persisted index. The stream itself stays FIXED — a daily probe
    // batch does not grow with the corpus — split into 2 micro-batches
    // via maxFilesPerTrigger, with the full AvailableNow machinery
    // (source listing, checkpoint, foreachBatch, sink commits) inside
    // the timing. Claim under measurement: per-run cost follows the
    // batch×index candidate relation (ANN: nprobe·N/nlist ∝ √N at
    // nlist = √N; media: distinct-hash banding over the union), the
    // streaming overhead is a constant — so these exponents should
    // match their batch counterparts (ann_probe_fixedpanel,
    // decontam-style fixed-batch probes), not add to them.
    val runStream = sys.env.getOrElse("SPARK_GRAFT_STREAM", "0") != "0"
    if (runStream) {
      import org.apache.spark.sql.types._
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      def path(p: String) = new org.apache.hadoop.fs.Path(p)
      def timedRun(body: () => Long): (Double, Long, Seq[Double]) = {
        var best = Double.MaxValue
        var rows = -1L
        val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
        for (_ <- 1 to trials) {
          loads += loadavg()
          val t0 = System.nanoTime()
          rows = body()
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec < best) best = sec
          reset()
        }
        (best, rows, loads.toSeq)
      }
      for (f <- scales) {
        val dir = dirs(f)
        // --- q196 posture: fixed query-file stream → AnnIndex.probe
        // path keyed by (source fixture, scale) — same key as the runAnn
        // leg's build below, so skip-on-exists can only ever reuse an
        // index built from THIS fixture (a leftover from a different
        // SPARK_GRAFT_SF_DIR keys to a different path)
        val annRoot = s"/tmp/graft_scale_annidx_${math.abs(srcDir.hashCode)}_x$f"
        val (cents, queries) = annScalePath(spark, dir, f)
        if (!fs.exists(path(annRoot))) // the runAnn leg may have built it
          graft.operators.AnnIndex.build(
            graft.queries.Tables.embeddings(spark, dir), cents, annRoot)
        val src = s"/tmp/graft_scale_stream_src_ann_x$f"
        fs.delete(path(src), true)
        queries.select("vec_id", "embedding")
          .repartition(4).write.mode("overwrite").parquet(src)
        val (aSec, aRows, aLoads) = timedRun { () =>
          val sink = s"/tmp/graft_scale_stream_${java.util.UUID.randomUUID()}"
          val ckpt = sink + "_ckpt"
          val stream = graft.streaming.Incremental.fileStream(spark, src,
            StructType(Seq(StructField("vec_id", LongType),
              StructField("embedding", ArrayType(FloatType)))),
            maxFilesPerTrigger = Some(2))
          graft.streaming.Incremental.runForeachBatchToParquet(stream, sink,
            ckpt, (batch, _) => graft.operators.AnnIndex
              .probe(batch.sparkSession, annRoot, batch, k = 10, nprobe = 4))
          val n = spark.read.parquet(sink).count()
          fs.delete(path(sink), true); fs.delete(path(ckpt), true)
          n
        }
        record("ann_stream_probe_fixedpanel", f, aSec, aRows, aLoads)
        // --- q193 posture: fixed media-file stream → dHash index probe
        val mediaIdx = s"/tmp/graft_scale_mediaidx_${math.abs(srcDir.hashCode)}_x$f"
        if (!fs.exists(path(s"$mediaIdx/_DONE"))) {
          fs.delete(path(mediaIdx), true)
          graft.queries.MediaFixtures.bmpDhash83(spark, dir)
            .write.mode("overwrite").parquet(s"$mediaIdx/hashes")
          fs.create(path(s"$mediaIdx/_DONE"), true).close()
        }
        val msrc = s"/tmp/graft_scale_stream_src_media_x$f"
        fs.delete(path(msrc), true)
        graft.queries.MediaFixtures.bmpScramble83(spark, srcDir)
          .filter(col("media_id") % 100 === 7)
          .repartition(4).write.mode("overwrite").parquet(msrc)
        val (mSec, mRows, mLoads) = timedRun { () =>
          val sink = s"/tmp/graft_scale_stream_${java.util.UUID.randomUUID()}"
          val ckpt = sink + "_ckpt"
          val stream = graft.streaming.Incremental.fileStream(spark, msrc,
            StructType(Seq(StructField("media_id", LongType),
              StructField("payload", BinaryType))),
            maxFilesPerTrigger = Some(2))
          graft.streaming.Incremental.runForeachBatchToParquet(stream, sink,
            ckpt, (batch, _) => graft.multimodal.ImageHash.probeNearDuplicates(
              batch,
              batch.sparkSession.read.parquet(s"$mediaIdx/hashes"),
              maxDist = 2))
          val n = spark.read.parquet(sink).count()
          fs.delete(path(sink), true); fs.delete(path(ckpt), true)
          n
        }
        record("media_stream_probe_fixedbatch", f, mSec, mRows, mLoads)
      }
    }

    // least-squares slope of log t vs log scale = observed scaling exponent
    def exponent(m: collection.Map[Int, (Double, Long, Seq[Double])]): Double = {
      val pts = m.toSeq.sortBy(_._1)
        .map { case (f, (t, _, _)) => (math.log(f.toDouble), math.log(math.max(t, 1e-3))) }
      if (pts.size < 2) return Double.NaN
      val n = pts.size
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }

    def r3(v: Double) = math.rint(v * 1000) / 1000
    val qJson = JObject(results.toSeq.map { case (name, m) =>
      val times = m.toSeq.sortBy(_._1).map { case (f, (t, rows, loads)) =>
        s"x$f" -> JObject("sec" -> JDouble(r3(t)), "rows" -> JLong(rows),
          "loads" -> JArray(loads.map(l => JDouble(r3(l))).toList))
      }
      val e = exponent(m)
      name -> JObject(times :+ ("exponent" -> (if (e.isNaN) JNull else JDouble(r3(e)))): _*)
    }: _*)
    val out = compact(render(JObject(
      "metric" -> JString("scale_stress"), "sf_base" -> JString(srcDir),
      "load_start" -> JDouble(r3(loadStart)),
      "scales" -> JArray(scales.map(f => JLong(f)).toList),
      "trials" -> JLong(trials), "queries" -> qJson)))
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_scale_local.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), out + "\n")
    println(out)
    spark.stop()
  }
}
