package graft.sql

import graft.SparkTestBase
import graft.lake.Snapshots

/** SQL UPDATE over Snapshots-versioned tables (SnapshotUpdateRule →
  * conditional projection → partition-pruned, base-pinned commit). Same
  * deployment contract as MERGE: session extensions installed by
  * SparkTestBase.
  */
class SnapshotUpdateSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("snap_upd").toString

  private def stage(root: String): Unit = {
    Snapshots.commit(
      (0L until 40L).map(i => (i, i * 10L, (i % 4).toInt)).toDF("id", "bal", "p")
        .repartitionByRange(4, $"id"),
      root, "t", Seq("p"), statsCols = Seq("id"))
    GraftCatalog.install(spark, "graftu", root)
  }

  test("conditioned UPDATE: target-reading arithmetic, partition-pruned CoW") {
    val root = freshRoot(); stage(root)
    spark.sql("UPDATE graftu.t SET bal = bal + 5 WHERE p = 1 AND id < 20")
    val rows = spark.sql("SELECT id, bal FROM graftu.t")
      .as[(Long, Long)].collect().toMap
    assert(rows(1L) === 15L && rows(5L) === 55L && rows(13L) === 135L)
    assert(rows(21L) === 210L, "p=1 rows outside the predicate carry")
    assert(rows(2L) === 20L, "other partitions untouched")
    assert(rows.size === 40)
    // pre-update version intact; untouched partitions carry by reference
    assert(Snapshots.readVersion(spark, root, "t", 1L)
      .filter($"id" === 1L).select("bal").as[Long].head() === 10L)
    val v1 = Snapshots.liveFiles(spark, root, "t", 1L).filter(_.startsWith("p=2/"))
    val v2 = Snapshots.liveFiles(spark, root, "t", 2L).filter(_.startsWith("p=2/"))
    assert(v1.nonEmpty && v1.toSet === v2.toSet,
      s"untouched partition must carry by reference: $v1 vs $v2")
  }

  test("unconditioned UPDATE rewrites every row; no-match UPDATE is a no-op") {
    val root = freshRoot(); stage(root)
    spark.sql("UPDATE graftu.t SET bal = -bal")
    val rows = spark.sql("SELECT id, bal FROM graftu.t")
      .as[(Long, Long)].collect().toMap
    assert(rows(7L) === -70L && rows.size === 40)
    assert(Snapshots.latestVersion(spark, root, "t") === Some(2L))
    // nothing matches: no new version is published
    spark.sql("UPDATE graftu.t SET bal = 0 WHERE id > 9000")
    assert(Snapshots.latestVersion(spark, root, "t") === Some(2L))
  }

  test("UPDATE of a partition column moves rows across the layout") {
    val root = freshRoot(); stage(root)
    spark.sql("UPDATE graftu.t SET p = 0 WHERE p = 3")
    // the catalog widens integer partition-directory values to BIGINT
    val byP = spark.sql("SELECT p, count(*) AS n FROM graftu.t GROUP BY p")
      .as[(Long, Long)].collect().toMap
    assert(byP.getOrElse(3L, 0L) === 0L && byP(0L) === 20L &&
      byP(1L) === 10L && byP(2L) === 10L)
    // the emptied p=3 partition is gone from the manifest, not just empty
    assert(Snapshots.liveFiles(spark, root, "t", 2L)
      .forall(!_.startsWith("p=3/")), "p=3 must be gone from the manifest")
    assert(spark.sql("SELECT sum(bal) FROM graftu.t").as[Long].head() ===
      (0L until 40L).map(_ * 10L).sum, "moved rows keep their values")
  }

  test("UPDATE composes with merge-on-read delete vectors") {
    val root = freshRoot(); stage(root)
    // rows 8 and 12 are vector-deleted; the UPDATE's base read applies
    // the vectors, so they stay gone — including in the rewritten
    // partition, where the rewrite drops them physically
    Snapshots.deleteWhere(spark, root, "t", $"id".isin(8L, 12L))
    spark.sql("UPDATE graftu.t SET bal = bal + 1 WHERE p = 0")
    val rows = spark.sql("SELECT id, bal FROM graftu.t")
      .as[(Long, Long)].collect().toMap
    assert(!rows.contains(8L) && !rows.contains(12L),
      "vector-deleted rows must not be resurrected by the rewrite")
    assert(rows(4L) === 41L && rows(16L) === 161L, "p=0 rows updated")
    assert(rows(5L) === 50L, "other partitions untouched")
    assert(rows.size === 38)
  }

  test("UPDATE subqueries: uncorrelated scalar/IN inline at run time; " +
      "correlated refuses; non-deterministic refuses") {
    val root = freshRoot(); stage(root) // ids 0..39, bal = id*10, p = id%4
    // scalar subquery in a SET value: executed once, inlined as a literal
    spark.sql("""UPDATE graftu.t
                 SET bal = (SELECT max(id) FROM graftu.t) + 1
                 WHERE id = 3""")
    assert(spark.sql("SELECT bal FROM graftu.t WHERE id = 3")
      .as[Long].head() === 40L)
    // IN subquery in the WHERE: collected (capped) and inlined
    spark.sql("""UPDATE graftu.t SET bal = -1
                 WHERE id IN (SELECT id FROM graftu.t WHERE bal >= 370)""")
    assert(spark.sql("SELECT count(*) FROM graftu.t WHERE bal = -1")
      .as[Long].head() === 3L) // ids 37, 38, 39
    // an empty IN result updates nothing (and publishes nothing)
    val vBefore = Snapshots.latestVersion(spark, root, "t").get
    spark.sql("""UPDATE graftu.t SET bal = 0
                 WHERE id IN (SELECT id FROM graftu.t WHERE bal > 99999)""")
    assert(Snapshots.latestVersion(spark, root, "t") === Some(vBefore))
    // correlated subqueries refuse with the MERGE spelling
    val corr = intercept[Exception] {
      spark.sql("""UPDATE graftu.t AS o SET bal = 0
                   WHERE id < (SELECT max(i.bal) FROM graftu.t AS i
                               WHERE i.p = o.p)""")
    }
    assert(corr.getMessage.contains("CORRELATED"), corr.getMessage)
    // past the inline cap, a WHERE-position IN is NOT driver-collected:
    // the distinct key set is materialized once and the predicate
    // evaluates as a semi join against the pinned base (same split path
    // as correlated EXISTS/IN) — values identical to the inline path
    spark.conf.set("spark.graft.dml.maxInlineSubqueryRows", "2")
    try {
      spark.sql("""UPDATE graftu.t SET bal = 7777
                   WHERE id IN (SELECT id FROM graftu.t WHERE p = 1)""")
      assert(spark.sql("SELECT count(*) FROM graftu.t WHERE bal = 7777")
        .as[Long].head() === 10L) // all of p=1 (10 of 40 ids — past cap 2)
      assert(spark.sql(
        "SELECT count(*) FROM graftu.t WHERE bal = 7777 AND p <> 1")
        .as[Long].head() === 0L)
      // a SET-position IN keeps the refusal past the cap: assignments run
      // in a projection, where a predicate subquery cannot evaluate
      val big = intercept[Exception] {
        spark.sql("""UPDATE graftu.t
                     SET bal = CASE WHEN id IN (SELECT id FROM graftu.t)
                               THEN 0 ELSE 1 END""")
      }
      assert(big.getMessage.contains("maxInlineSubqueryRows"), big.getMessage)
    } finally spark.conf.unset("spark.graft.dml.maxInlineSubqueryRows")
  }

  test("correlated EXISTS/IN in WHERE: DELETE publishes a MOR vector of " +
      "the outer-referenced tuples; UPDATE splits on an existence join; " +
      "SET-position and correlated-scalar shapes still refuse") {
    val root = freshRoot(); stage(root) // ids 0..39, bal = id*10, p = id%4
    Seq((2L, 1000L), (5L, 10L), (7L, 1000L)).toDF("k", "v")
      .createOrReplaceTempView("upd_src")

    // EXISTS-delete with a NON-EQUI correlation: verdict is a function of
    // (id, bal), so the vector stores exactly those tuples
    spark.sql("""DELETE FROM graftu.t AS x WHERE EXISTS (
                   SELECT 1 FROM upd_src s WHERE s.k = x.id AND s.v > x.bal)""")
    val ids = spark.sql("SELECT id FROM graftu.t").as[Long].collect().toSet
    assert(!ids.contains(2L) && !ids.contains(7L) && ids.contains(5L))
    assert(ids.size === 38)
    val m = Snapshots.manifest(spark, root, "t", 2L)
    assert(m.deletes.nonEmpty, "EXISTS-delete must stay merge-on-read")
    assert(m.deletes.head.cols.toSet === Set("id", "bal"), m.deletes)

    // NOT EXISTS (anti-join shape) composes with plain predicates
    spark.sql("""DELETE FROM graftu.t AS x WHERE x.id >= 36 AND NOT EXISTS (
                   SELECT 1 FROM upd_src s WHERE s.k = x.id)""")
    assert(spark.sql("SELECT count(*) FROM graftu.t").as[Long].head() === 34)

    // correlated IN-update: hit rows via existence join, CoW commit
    spark.sql("""UPDATE graftu.t AS x SET bal = -5
                 WHERE x.id IN (SELECT s.k FROM upd_src s WHERE s.v < x.bal)""")
    val bals = spark.sql("SELECT id, bal FROM graftu.t")
      .as[(Long, Long)].collect().toMap
    assert(bals(5L) === -5L, bals(5L))
    assert(bals.count(_._2 === -5L) === 1)

    // an uncorrelated EXISTS is a run-time constant: false ⇒ no-op, no
    // version published
    val vBefore = Snapshots.latestVersion(spark, root, "t").get
    spark.sql("""UPDATE graftu.t SET bal = 0
                 WHERE EXISTS (SELECT 1 FROM upd_src WHERE v > 5000)""")
    assert(Snapshots.latestVersion(spark, root, "t") === Some(vBefore))

    // still refused: a correlated SCALAR subquery anywhere
    val corrScalar = intercept[Exception] {
      spark.sql("""UPDATE graftu.t AS x
                   SET bal = (SELECT max(s.v) FROM upd_src s WHERE s.k = x.id)""")
    }
    assert(corrScalar.getMessage.contains("CORRELATED"), corrScalar.getMessage)
    // still refused: a correlated predicate subquery in a SET value (only
    // the WHERE clause evaluates EXISTS/IN as joins)
    val inSet = intercept[Exception] {
      spark.sql("""UPDATE graftu.t AS x
                   SET bal = CASE WHEN EXISTS (SELECT 1 FROM upd_src s
                                               WHERE s.k = x.id)
                             THEN 1 ELSE 0 END""")
    }
    assert(inSet.getMessage.contains("CORRELATED"), inSet.getMessage)
    // refused edge: correlating on a catalog-WIDENED partition column
    // (stored int read back as long — OuterReference cannot carry a cast)
    val widened = intercept[Exception] {
      spark.sql("""DELETE FROM graftu.t AS x WHERE EXISTS (
                     SELECT 1 FROM upd_src s WHERE s.k = x.p)""")
    }
    assert(widened.getMessage.contains("MERGE"), widened.getMessage)
  }

  test("big-IN DELETEs and UPDATEs release their materialized key sets: " +
      "block-manager storage returns to its baseline") {
    val root = freshRoot(); stage(root) // ids 0..39, bal = id*10, p = id%4
    // RDD blocks stored right now, by RDD id (other suites may hold some)
    def storedRdds: Set[Int] = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    spark.conf.set("spark.graft.dml.maxInlineSubqueryRows", "2")
    try {
      val baseline = storedRdds
      for (k <- 0 until 4) {
        // 10 keys each, past the cap of 2: the key set is materialized
        spark.sql(s"""DELETE FROM graftu.t
                      WHERE id IN (SELECT id FROM graftu.t WHERE id % 4 = $k)""")
        assert(storedRdds.subsetOf(baseline),
          s"DELETE $k left blocks behind: ${storedRdds -- baseline}")
      }
      assert(spark.sql("SELECT count(*) FROM graftu.t").as[Long].head() === 0L)
      stage(freshRoot())
      spark.sql("""UPDATE graftu.t SET bal = 1
                   WHERE id IN (SELECT id FROM graftu.t WHERE p = 2)""")
      assert(spark.sql("SELECT count(*) FROM graftu.t WHERE bal = 1")
        .as[Long].head() === 10L)
      assert(storedRdds.subsetOf(baseline),
        s"UPDATE left blocks behind: ${storedRdds -- baseline}")
    } finally spark.conf.unset("spark.graft.dml.maxInlineSubqueryRows")
  }

  test("DELETE pins its base version: a commit landing while subqueries " +
      "evaluate raises the retryable CME, never applies stale literals") {
    val root = freshRoot(); stage(root)
    DeleteCmeTrigger.root = root
    DeleteCmeTrigger.fired.set(false)
    spark.udf.register("d_cme_trigger", (k: Long) => DeleteCmeTrigger(k))
    // FILE-backed source: over a LocalRelation the optimizer would
    // constant-fold the deterministic UDF before the command ever runs
    Seq(30L).toDF("k").write.mode("overwrite").parquet(s"$root/_cme_src")
    spark.read.parquet(s"$root/_cme_src").createOrReplaceTempView("d_cme_raw")
    val e = intercept[Exception] {
      spark.sql("""DELETE FROM graftu.t
                   WHERE id < (SELECT max(d_cme_trigger(k)) FROM d_cme_raw)""")
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]), e.toString)
    // the competitor's row is intact and nothing was deleted
    val rows = spark.sql("SELECT id, bal FROM graftu.t")
      .as[(Long, Long)].collect().toMap
    assert(rows(99L) === 999L && rows.size === 41)
  }

  test("UPDATE refusals are loud: non-versioned table") {
    val root = freshRoot(); stage(root)
    assert(Snapshots.latestVersion(spark, root, "t") === Some(1L))
    // non-deterministic predicates/values are refused: the WHERE is
    // evaluated once for touched-partition discovery and again for the
    // rewrite — rand() could hit different rows per pass
    val nondetV = intercept[Exception] {
      spark.sql("UPDATE graftu.t SET bal = CAST(rand() * 100 AS BIGINT)")
    }
    assert(nondetV.getMessage.contains("non-deterministic"), nondetV.getMessage)
    val nondetW = intercept[Exception] {
      spark.sql("UPDATE graftu.t SET bal = 0 WHERE rand() < 0.5")
    }
    assert(nondetW.getMessage.contains("non-deterministic"), nondetW.getMessage)
    assert(Snapshots.latestVersion(spark, root, "t") === Some(1L))
  }
}

/** Competing-commit trigger for the DELETE expectedBase CME test (the
  * MergeCmeTrigger pattern): commits a new version of `t` the first time
  * it evaluates — inside the DELETE's own subquery-inline job, after the
  * command resolved its base version. Local-mode only.
  */
private[sql] object DeleteCmeTrigger {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var root: String = _
  def apply(k: Long): Long = {
    if (fired.compareAndSet(false, true)) {
      var err: Throwable = null
      val t = new Thread(() => {
        try {
          val s = org.apache.spark.sql.SparkSession.active
          graft.lake.Snapshots.append(
            s.range(1).selectExpr("CAST(99 AS BIGINT) AS id",
              "CAST(999 AS BIGINT) AS bal", "CAST(3 AS INT) AS p"),
            root, "t", Seq("p"))
        } catch { case e: Throwable => err = e }
      })
      t.start(); t.join()
      if (err != null) throw err
    }
    k
  }
}
