package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Materialize, SemDedup, Similarity}
import graft.queries.Tables
import graft.text.{BpeTrainer, TextRank}

/** `curation_batch`: repeated passes of the training-data chain over a
  * seeded `documents` + `embeddings` corpus, loaded through
  * `queries.Tables`. The generator reproduces the shape measured on the
  * sf0.1 corpus (see the constants below) at `Docs` documents. Exact
  * copies and appended-token near-duplicates (Jaccard about 0.8 or more,
  * above the 0.7 threshold, so MinHash-LSH finds every pair) and the scaled
  * embedding clones of `CurationQueries.q135SemDedup` give every operator a
  * non-trivial answer that a plain-Scala model computes exactly. */
final class CurationWorkload(spark: SparkSession, seed: Long, work: String)
    extends Workload {

  // The sf0.1 `documents` corpus has 5,000 docs over 30 distinct words of
  // 1-8 letters, all at about the same frequency, and 10-100 tokens per
  // doc, uniformly. 8 docs are exact copies; 244 are an earlier doc with
  // 1-3 copies of a 31st word appended (223 near-duplicate pairs, 9 chains
  // of three, one of four). Its `embeddings` are 2,000 unit 64-d vectors,
  // 0.4 per doc.
  private val Docs = 2000
  private val Words = 30
  private val ExactCopies = math.max(1, Docs * 8 / 5000)
  private val NearDups = Docs * 244 / 5000
  /** Every `ChainEvery`-th near-duplicate extends the previous one. */
  private val ChainEvery = 20
  private val Vectors = Docs * 2 / 5
  private val Dims = 64
  private val BpeRounds = 5
  private val Threshold = 0.7
  private val Tau = 0.9

  // --------------------------------------------------------------- inputs

  private val rnd = new SplittableRandom(seed * 104729L + 11L)
  private val vocab: Vector[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < Words + 1)
      seen += (0 until 1 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    seen.toVector
  }
  private def word() = vocab(rnd.nextInt(Words))
  /** The word a near-duplicate appends. */
  private val marker = vocab.last

  /** Texts in generation order: bases, near-duplicates, exact copies.
    * Fixed counts keep the duplicate graph the same shape for every seed;
    * ids are a seeded permutation. */
  private val texts: Vector[String] = {
    val b = mutable.ArrayBuffer.empty[Vector[String]]
    val bases = Docs - NearDups - ExactCopies
    (0 until bases).foreach(_ => b += Vector.fill(10 + rnd.nextInt(91))(word()))
    (0 until NearDups).foreach { j =>
      b += (if (j % ChainEvery == ChainEvery - 1) b.last else b(rnd.nextInt(bases))) :+ marker
    }
    (0 until ExactCopies).foreach(_ => b += b(rnd.nextInt(bases)))
    b.map(_.mkString(" ")).toVector
  }
  private val ids: Vector[Long] = {
    val a = (0 until Docs).map(_.toLong).toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toVector
  }
  /** Unit vectors, plus a clone scaled by 1.5 of every tenth one. */
  private val vectors: Vector[(Long, Array[Float])] = {
    val base = (0 until Vectors).map { i =>
      val v = Array.fill(Dims)(rnd.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      i.toLong -> v.map(x => (x / n).toFloat)
    }
    val clones = base.collect { case (i, v) if i % 10 == 3 =>
      (Vectors + i) -> v.map(x => (x.toDouble * 1.5).toFloat)
    }
    (base ++ clones).toVector
  }

  private var dir: String = _

  def setup(t: Tracer): Unit = {
    dir = s"$work/inputs"
    val langs = Vector("en", "de", "fr", "es", "zh")
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docRows = texts.indices.map(i => Row(ids(i), texts(i), langs(i % 5), s"src${i % 20}",
      texts(i).length.toLong))
    Session.frame(spark, docRows, docSchema, 1).write.parquet(s"$dir/documents.parquet")
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val embRows = vectors.map { case (id, v) => Row(id, v.toSeq, (id % 10).toInt) }
    Session.frame(spark, embRows, embSchema, 1).write.parquet(s"$dir/embeddings.parquet")
  }

  def warmup(t: Tracer): Unit = pass(t, "warmup", spanned = false)

  private var passes = 0
  val primary = "pass"

  def step(i: Int, t: Tracer, spanned: Boolean): Unit = {
    pass(t, "pass", spanned)
    passes += 1
  }

  final case class Out(exact: Set[(Long, Boolean)], pairs: Set[(Long, Long, Long)],
      clusters: Set[(Long, Long)], keywords: Seq[(String, Long)],
      bpe: Seq[(Int, String, String, Long, Long)], semdedup: Set[(Long, Int)])

  private def pass(t: Tracer, kind: String, spanned: Boolean): Unit =
    t.op(kind, spanned) {
      val (docs, emb) = t.span("queries.tables") {
        (Tables.documents(spark, dir), Tables.embeddings(spark, dir))
      }
      val exact = t.span("operators.dedup_exact") {
        Dedup.exact(docs, "text", "doc_id").select("doc_id", "keep").collect()
      }.map(r => (r.getLong(0), r.getBoolean(1))).toSet
      val (pairsDf, pairs) = t.span("operators.near_dups") {
        val p = Materialize.once(Dedup.nearDuplicates(docs, "text", "doc_id", threshold = Threshold))
        (p, p.collect().map(r => (r.getLong(0), r.getLong(1), Digest.dbl(r.getDouble(2)))).toSet)
      }
      val clusters = t.span("operators.clusters") {
        Dedup.clusters(pairsDf.select("id_a", "id_b")).collect()
      }.map(r => (r.getLong(0), r.getLong(1))).toSet
      val keywords = t.span("text.textrank") {
        TextRank.keywords(docs, "text", "doc_id", window = 2, iters = 3, topK = 20).collect()
      }.map(r => (r.getString(0), r.getLong(1))).toSeq
      val bpe = t.span("text.bpe_train") {
        BpeTrainer.train(docs, "text", "doc_id", rounds = BpeRounds).collect()
      }.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
      val sem = t.span("operators.semdedup") {
        val cents = Similarity.ivfCentroids(emb, nlist = 8, iters = 2)
        SemDedup.dedup(emb, cents, tau = Tau).select("vec_id", "kept").collect()
      }.map(r => (r.getLong(0), r.getInt(1))).toSet
      Out(exact, pairs, clusters, keywords, bpe, sem)
    } { o =>
      val diffs = Seq(
        "exact" -> (o.exact == model.exact), "near_dups" -> (o.pairs == model.pairs),
        "clusters" -> (o.clusters == model.clusters),
        "textrank" -> (o.keywords == model.keywords), "bpe" -> (o.bpe == model.bpe),
        "semdedup" -> (o.semdedup == model.semdedup)).collect { case (k, false) => k }
      if (diffs.isEmpty) None
      else Some(s"outputs differ from the model: ${diffs.mkString(", ")}" +
        (if (o.bpe != model.bpe) s"; bpe got ${o.bpe.take(2)} model ${model.bpe.take(2)}" else "") +
        (if (o.keywords != model.keywords) s"; textrank got ${o.keywords.take(3)} model ${model.keywords.take(3)}" else ""))
    }

  def work: Double = passes.toDouble * Docs

  def finish(t: Tracer): Unit = if (t.traced) {
    // useful verified pairs per LSH candidate, measured once outside the passes
    t.op("probe") {
      val docs = Tables.documents(spark, dir)
      val shingles = Dedup.hashedShinglePairs(docs, "text", "doc_id", 3)
      Dedup.lshCandidatePairs(Dedup.minhashSignaturesFromPairs(shingles, 32), 8, 4).count()
    } { cands =>
      t.count("operators.near_dups.verified_per_candidate",
        model.pairs.size.toDouble / math.max(1L, cands))
      None
    }
  }

  def report(t: Tracer): Seq[(String, Double, String)] = {
    val p = t.latencies.getOrElse("pass", Nil).toSeq
    Seq(("curation_docs_per_s", if (p.isEmpty) Double.NaN else Docs / (Stats.median(p) / 1000.0), "docs/s"),
      ("curation_pass_n", p.size.toDouble, "count"))
  }

  def sizes: Seq[(String, Double)] = Seq("documents" -> Docs.toDouble,
    "embeddings" -> vectors.size.toDouble, "dims" -> Dims.toDouble,
    "bpe_rounds" -> BpeRounds.toDouble, "vocabulary" -> vocab.size.toDouble,
    "model_pairs" -> model.pairs.size.toDouble)

  // ---------------------------------------------------------------- model

  private object model {
    private val toks: Vector[Vector[String]] = texts.map(_.split(" ").toVector)

    val exact: Set[(Long, Boolean)] = {
      val minId = texts.indices.groupBy(texts).map { case (txt, is) => txt -> is.map(ids).min }
      texts.indices.map(i => (ids(i), ids(i) == minId(texts(i)))).toSet
    }

    val pairs: Set[(Long, Long, Long)] = {
      val sh = toks.map(ts => ts.sliding(3).map(_.mkString(" ")).toSet)
      val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      sh.indices.foreach(i => sh(i).foreach(s => index.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i))
      val shared = mutable.HashMap.empty[(Int, Int), Int]
      index.values.foreach { docs =>
        for (a <- docs; b <- docs if ids(a) < ids(b)) shared((a, b)) = shared.getOrElse((a, b), 0) + 1
      }
      shared.collect { case ((a, b), s) if {
          val j = s.toDouble / (sh(a).size + sh(b).size - s); j >= Threshold } =>
        val j = s.toDouble / (sh(a).size + sh(b).size - s)
        (ids(a), ids(b), Digest.dbl(j))
      }.toSet
    }

    val clusters: Set[(Long, Long)] = {
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.map(x => (x, find(x))).toSet
    }

    private def roundHalfUp(d: Double): Double =
      BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble

    val keywords: Seq[(String, Long)] = {
      val tid = toks.flatten.distinct.sorted.zipWithIndex.map { case (w, i) => w -> (i + 1L) }.toMap
      val w = mutable.HashMap.empty[(Long, Long), Long]
      toks.foreach { ts =>
        for (p <- ts.indices; o <- 1 to 2 if p + o < ts.size) {
          val (a, b) = (tid(ts(p)), tid(ts(p + o)))
          w((a, b)) = w.getOrElse((a, b), 0L) + 1
          w((b, a)) = w.getOrElse((b, a), 0L) + 1
        }
      }
      val nodes = w.keys.flatMap { case (a, b) => Seq(a, b) }.toSet
      val n = nodes.size
      val teleport = math.round((1.0 - 0.85) * 1e6 / n)
      val deg = w.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
      var rank = nodes.map(_ -> math.round(1e6 / n)).toMap
      (1 to 3).foreach { _ =>
        val sc = mutable.HashMap.empty[Long, Long]
        w.foreach { case ((a, b), m) =>
          sc(b) = sc.getOrElse(b, 0L) + roundHalfUp(rank(a).toDouble / deg(a)).toLong * m
        }
        rank = nodes.map(v => v -> (teleport + roundHalfUp(sc.getOrElse(v, 0L) * 0.85).toLong)).toMap
      }
      val word = tid.map(_.swap)
      rank.toSeq.map { case (v, r) => (word(v), r) }
        .sortBy { case (tok, r) => (-r, tok) }.take(20)
    }

    val bpe: Seq[(Int, String, String, Long, Long)] = {
      var corpus = toks
      (1 to BpeRounds).flatMap { round =>
        val counts = mutable.HashMap.empty[(String, String), Long]
        corpus.foreach(ts => ts.indices.dropRight(1).foreach { i =>
          counts((ts(i), ts(i + 1))) = counts.getOrElse((ts(i), ts(i + 1)), 0L) + 1 })
        if (counts.isEmpty) None
        else {
          val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
          corpus = corpus.map { ts =>
            val out = mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < ts.size) {
              if (i + 1 < ts.size && ts(i) == l && ts(i + 1) == r) { out += s"$l $r"; i += 2 }
              else { out += ts(i); i += 1 }
            }
            out.toVector
          }
          Some((round, l, r, c, corpus.map(_.size.toLong).sum))
        }
      }
    }

    val semdedup: Set[(Long, Int)] = {
      val unit = vectors.map { case (id, v) =>
        val n = math.sqrt(v.map(x => x.toDouble * x).sum); (id, v.map(_ / n)) }
      unit.map { case (id, v) =>
        val dup = unit.exists { case (j, u) =>
          j < id && {
            var dot = 0.0; var k = 0
            while (k < v.length) { dot += v(k) * u(k); k += 1 }
            dot >= Tau
          }
        }
        (id, if (dup) 0 else 1)
      }.toSet
    }
  }
}
