package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Per-key top-k as a first-class physical operator (SURVEY §2.6 O1 at
  * scale; the custom LogicalPlan → Strategy → SparkPlan showcase).
  *
  * The DataFrame idiom — `row_number().over(partitionBy(key).orderBy(ord))`
  * then `filter(rn <= k)` — SORTS every key group in full before discarding
  * all but k rows: for 10⁹ rows per key that is an O(n log n) sort and a
  * full-width shuffle, to keep 3 rows. This operator instead:
  *
  *   1. PARTIAL pass before the shuffle (same exec, no distribution
  *      requirement): each input partition keeps at most k rows per key in
  *      a bounded heap → shuffle volume collapses from n to ≤ k·keys per
  *      partition (the aggregation-style map-side combine, applied to
  *      top-k);
  *   2. one hash shuffle on the key (`ClusteredDistribution` — the planner
  *      inserts the exchange);
  *   3. FINAL pass merges the partial winners with the same bounded heaps.
  *
  * O(n log k) total, no full sort anywhere, spill-free by construction
  * (state = k rows per live key).
  */
object TopKPerKey {

  /** Top `k` rows per `keyCols` group under `orderBys` (col, ascending?);
    * ties beyond position k are broken by adding a unique tiebreak column
    * to `orderBys` (determinism is the caller's contract, as with any
    * top-k).
    */
  def apply(df: DataFrame, k: Int, keyCols: Seq[String],
      orderBys: Seq[(String, Boolean)]): DataFrame = {
    require(k > 0 && keyCols.nonEmpty && orderBys.nonEmpty)
    val spark = df.sparkSession
    install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(_.name.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(",")}"))
    val order = orderBys.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending) }
    org.apache.spark.sql.graft.bridge.ofRows(spark,
      TopKPerKeyNode(k, keyCols.map(attr), order, analyzed))
  }

  /** Register the planning strategy on the session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[TopKPerKeyStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new TopKPerKeyStrategy
}

case class TopKPerKeyNode(k: Int, keys: Seq[Attribute], order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

class TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, keys, order, child) =>
      // partial (pre-shuffle, per input partition) feeding final (post-
      // shuffle): EnsureRequirements places the exchange between them
      TopKPerKeyExec(k, keys, order, partial = false,
        TopKPerKeyExec(k, keys, order, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
    partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val sortOrder = order
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // heap head = WORST retained row (max under the sort order): evict it
      // when a better row arrives and the heap is full
      val heaps = scala.collection.mutable.HashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(h) =>
            if (h.size < kLocal) h.enqueue(row.copy())
            else if (ord.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
          case None =>
            val h = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
            h.enqueue(row.copy())
            heaps.put(key.copy(), h)
        }
      }
      // emit each group in sort order (deterministic output)
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
