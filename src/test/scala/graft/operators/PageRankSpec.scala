package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Fixed-round micro-quantized PageRank on hand graphs. */
class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  test("two-node cycle is the fixpoint: ranks stay at 1/N") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = PageRank.run(edges, "src", "dst", iters = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // rank = 500000 each round: teleport 75000 + round(0.85 * 500000)
    assert(r === Seq((1L, 500000L), (2L, 500000L)))
  }

  test("star graph: the hub outranks the leaves") {
    // 4 leaves all point at the hub; hub points at leaf 2
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val out = PageRank.run(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) > out(2L))
    assert(out(2L) > out(3L)) // leaf 2 receives the hub's mass
    assert(out(3L) === out(4L) && out(4L) === out(5L))
  }

  test("hand-replay of one round on a 3-node chain") {
    // 1 -> 2 -> 3; N = 3, r0 = round(1e6/3) = 333333
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r1 = PageRank.run(edges, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap
    val teleport = math.round((1.0 - 0.85) * 1e6 / 3) // 50000
    assert(r1(1L) === teleport)
    assert(r1(2L) === teleport + math.round(333333L * 0.85))
    assert(r1(3L) === teleport + math.round(333333L * 0.85))
  }

  test("multi-edges act as weights; result is partitioning-invariant") {
    val e = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L))
      .toDF("src", "dst")
    val a = PageRank.run(e.repartition(5), "src", "dst", iters = 2)
      .orderBy("node").collect().toSeq
    val b = PageRank.run(e.coalesce(1), "src", "dst", iters = 2)
      .orderBy("node").collect().toSeq
    assert(a === b)
    val m = a.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 2 gets 2/3 of node 1's mass, node 3 gets 1/3
    assert(m(2L) > m(3L))
  }

  test("runWeighted keeps the key type and ranks like run over the " +
      "expanded multigraph") {
    val multi = Seq((1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 2L), (3L, 1L, 1L),
      (4L, 3L, 5L), (1L, 2L, 1L)) // (1, 2) twice: weights add up
    val expanded = multi.flatMap { case (a, b, w) => Seq.fill(w.toInt)((a, b)) }
      .toDF("src", "dst")
    val byRun = PageRank.run(expanded, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().map { case (v, r) => (s"n$v", r) }.toMap
    val named = multi.map { case (a, b, w) => (s"n$a", s"n$b", w) }.toDF("a", "b", "w")
    val weighted = PageRank.runWeighted(named, "a", "b", "w", iters = 3)
    assert(weighted.schema("node").dataType === org.apache.spark.sql.types.StringType)
    assert(weighted.as[(String, Long)].collect().toMap === byRun)
  }
}
