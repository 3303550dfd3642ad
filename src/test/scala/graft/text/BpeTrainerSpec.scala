package graft.text

import graft.SparkTestBase

class BpeTrainerSpec extends SparkTestBase {
  import spark.implicits._

  test("merges the most frequent pair with lexicographic tiebreak; counts and sizes match a hand trace") {
    // corpus: "a b a b c" ×2 docs and "b c d" — pair counts round 1:
    //   (a,b)=4, (b,a)=2, (b,c)=3, (c,d)=1 → winner (a,b)
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "a b a b c"),
      (3L, "b c d")).toDF("doc_id", "text")
    val out = BpeTrainer.train(docs, "text", "doc_id", rounds = 2)
      .orderBy("round")
      .as[(Int, String, String, Long, Long)].collect().toSeq
    // round 1: docs 1,2 → ["a b","a b","c"]; doc 3 unchanged; 13-4=9 tokens
    assert(out.head === ((1, "a", "b", 4L, 9L)))
    // round 2 pairs: ("a b","a b")=2, ("a b","c")=2, (b,c)=1, (c,d)=1
    //   → count tie broken by pair text: "a b"<"b" ties on lhs, rhs "a b"<"c"
    assert(out(1) === ((2, "a b", "a b", 2L, 7L)))
  }

  test("greedy leftmost non-overlap on runs: 'a a a a' merges positions 0 and 2") {
    val docs = Seq((1L, "a a a a")).toDF("doc_id", "text")
    val out = BpeTrainer.train(docs, "text", "doc_id", rounds = 1)
      .as[(Int, String, String, Long, Long)].collect().head
    // (a,a) appears 3×; after merging even offsets the corpus is ["a a","a a"]
    assert(out === ((1, "a", "a", 3L, 2L)))
  }

  test("stops early when no pairs remain") {
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    val out = BpeTrainer.train(docs, "text", "doc_id", rounds = 5)
    assert(out.count() === 1) // round 1 merges (x,y); round 2 has no pairs
  }

  /** Plain-Scala sequential trainer: the same rules, written as a list
    * scan (no shared code with the engine). */
  private def modelTrain(texts: Seq[String], rounds: Int): Seq[(Int, String, String, Long, Long)] = {
    def merge(ts: List[String], l: String, r: String): List[String] = ts match {
      case a :: b :: rest if a == l && b == r => (a + " " + b) :: merge(rest, l, r)
      case a :: rest => a :: merge(rest, l, r)
      case Nil => Nil
    }
    var corpus = texts.filter(_ != null).map(_.trim.toLowerCase.split("\\s+", -1).toList)
    val out = Seq.newBuilder[(Int, String, String, Long, Long)]
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val counts = corpus.flatMap(ts => ts.zip(ts.drop(1)))
        .groupBy(identity).map { case (p, v) => (p, v.size.toLong) }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        corpus = corpus.map(merge(_, l, r))
        out += ((round, l, r, c, corpus.map(_.size.toLong).sum))
        round += 1
      }
    }
    out.result()
  }

  /** Seeded corpus over a 4-word skewed vocabulary, with the edge shapes
    * spelled out: null text, empty and blank text, one-token documents,
    * an `a a a a` run, and uneven spacing. */
  private def corpus(seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("a", "a", "a", "b", "b", "c", "d")
    val random = (0 until 40).map { _ =>
      val n = rnd.nextInt(14)
      (0 until n).map(_ => words(rnd.nextInt(words.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  ")
    }
    Seq(null, "", "   ", "a", "B", "a a a a", " a b c ", null) ++ random
  }

  test("seeded corpora: train matches a plain-Scala sequential trainer, " +
      "with and without ANSI") {
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for (ansiOn <- Seq("true", "false"); seed <- Seq(7L, 11L, 23L)) {
        spark.conf.set("spark.sql.ansi.enabled", ansiOn)
        val texts = corpus(seed)
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = BpeTrainer.train(docs, "text", "doc_id", rounds = 8)
          .as[(Int, String, String, Long, Long)].collect().toSeq.sortBy(_._1)
        val want = modelTrain(texts, 8)
        assert(got === want, s"seed $seed, ansi $ansiOn")
        // a merged token is an operand of a later round
        assert(want.exists { case (_, l, r, _, _) => l.contains(" ") || r.contains(" ") },
          s"seed $seed never re-merges a merged token")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("at most 3 Spark jobs per round plus a constant") {
    // 30 docs of 40 tokens over 3 words: pairs never run out in 6 rounds
    val rnd = new scala.util.Random(5)
    val docs = (0 until 30).map(i => (i.toLong,
      Seq.fill(40)(Seq("x", "y", "z")(rnd.nextInt(3))).mkString(" ")))
      .toDF("doc_id", "text")
    val Seq(one, six) = Seq(1, 6).map(rounds => jobsOf(rounds.toString) {
      assert(BpeTrainer.train(docs, "text", "doc_id", rounds).count() === rounds)
    }._2)
    assert(six - one <= 3 * 5, s"1 round: $one jobs, 6 rounds: $six jobs")
    assert(one <= 3 + 3, s"1 round: $one jobs")
  }
}
