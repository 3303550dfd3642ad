package graft.text

import graft.SparkTestBase

/** Graph construction + rank behavior of the TextRank composition. */
class TextRankSpec extends SparkTestBase {
  import spark.implicits._

  test("hub token outranks leaves; topK order is deterministic") {
    // 'core' co-occurs with everything; leaves only with 'core'
    val docs = Seq(
      (1L, "core alpha core beta core gamma"),
      (2L, "delta core epsilon core zeta"),
      (3L, "alpha beta")).toDF("doc_id", "text")
    val got = TextRank.keywords(docs, "text", "doc_id",
        window = 2, iters = 3, topK = 10)
      .as[(String, Long)].collect()
    assert(got.head._1 === "core", s"hub must rank first: ${got.toSeq}")
    assert(got.map(_._2).sameElements(got.map(_._2).sorted.reverse))
    // all seven distinct tokens participate in edges
    assert(got.map(_._1).toSet ===
      Set("core", "alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
  }

  test("window=1 uses only adjacent pairs; isolated tokens drop") {
    val docs = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextRank.keywords(docs, "text", "doc_id",
        window = 1, iters = 2, topK = 10)
      .as[(String, Long)].collect().toMap
    assert(got.keySet === Set("a", "b"), "token 'c' has no edges")
    assert(got("a") === got("b"), "symmetric pair, symmetric rank")
  }

  test("the token universe never funnels through one row: no " +
      "single-row array agg, no unpartitioned window in the plan") {
    val docs = Seq((1L, "p q r p"), (2L, "q r s t")).toDF("doc_id", "text")
    val df = TextRank.keywords(docs, "text", "doc_id", topK = 5)
    val plan = df.queryExecution.analyzed.toString
    assert(!plan.contains("collect_list"),
      "vocab assignment must not funnel the token universe into one array row")
    val optimized = df.queryExecution.optimizedPlan
    val badWindows = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(badWindows.isEmpty, s"unpartitioned window(s): $badWindows")
    // every token with an edge is ranked
    val got = df.as[(String, Long)].collect().map(_._1).toSet
    assert(got === Set("p", "q", "r", "s", "t"))
  }

  test("determinism: two runs produce identical rows") {
    val docs = Seq((1L, "x y z x y"), (2L, "z z y x w v")).toDF("doc_id", "text")
    val a = TextRank.keywords(docs, "text", "doc_id").as[(String, Long)].collect().toSeq
    val b = TextRank.keywords(docs, "text", "doc_id").as[(String, Long)].collect().toSeq
    assert(a === b)
  }

  /** Plain-Scala TextRank: window co-occurrence multigraph, both
    * directions, then the micro-quantized PageRank rounds by hand. */
  private def model(texts: Seq[String], window: Int, iters: Int,
      topK: Int): Seq[(String, Long)] = {
    val toks = texts.filter(_ != null).map(_.trim.toLowerCase.split("\\s+", -1).toIndexedSeq)
    val edges: Map[(String, String), Long] = (for {
      t <- toks; i <- t.indices; o <- 1 to window if i + o < t.length
      e <- Seq((t(i), t(i + o)), (t(i + o), t(i)))
    } yield e).groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val nodes = edges.keySet.flatMap { case (a, b) => Set(a, b) }
    val n = nodes.size
    val deg = edges.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
    val teleport = math.round((1.0 - 0.85) * 1e6 / n)
    var rank = nodes.map(_ -> math.round(1e6 / n)).toMap
    for (_ <- 1 to iters) {
      val sc = edges.toSeq.map { case ((a, b), w) =>
        b -> math.round(rank(a).toDouble / deg(a)) * w }.groupMapReduce(_._1)(_._2)(_ + _)
      rank = nodes.map(v => v -> (teleport + math.round(sc.getOrElse(v, 0L) * 0.85))).toMap
    }
    rank.toSeq.sortBy { case (t, r) => (-r, t) }.take(topK)
  }

  test("seeded corpus: keywords match a plain-Scala PageRank model") {
    val rnd = new scala.util.Random(31)
    val words = Vector("risk", "rate", "loan", "bank", "fed", "cut", "hike",
      "yield", "bond", "debt", "a", "the")
    val texts = Seq(null, "", "solo") ++ (0 until 60).map { _ =>
      Seq.fill(2 + rnd.nextInt(20))(words(rnd.nextInt(words.length))).mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for ((window, iters, topK) <- Seq((2, 3, 20), (1, 2, 5), (3, 4, 8))) {
      val got = TextRank.keywords(docs, "text", "doc_id", window, iters, topK)
        .as[(String, Long)].collect().toSeq
      assert(got === model(texts, window, iters, topK), s"window $window, iters $iters")
    }
  }
}
