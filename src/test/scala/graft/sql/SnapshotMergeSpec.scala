package graft.sql

import graft.SparkTestBase
import graft.lake.Snapshots
import org.apache.spark.sql.functions._

/** SQL MERGE INTO over Snapshots-versioned tables (SnapshotMergeRule →
  * Cdc.merge → partition-pruned commit). The session extensions are
  * installed by SparkTestBase — the same deployment contract as a
  * cluster (`spark.sql.extensions=graft.expressions.GraftExtensions`).
  */
class SnapshotMergeSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("snap_merge").toString

  private def stage(root: String): Unit = {
    Snapshots.commit(
      (0L until 40L).map(i => (i, s"v$i", (i % 4).toInt)).toDF("id", "v", "p")
        .repartitionByRange(4, $"id"),
      root, "t", Seq("p"), statsCols = Seq("id"))
    GraftCatalog.install(spark, "graftm", root)
  }

  test("MERGE upsert: matched rows update, unmatched insert, re-run idempotent") {
    val root = freshRoot(); stage(root)
    Seq((1L, "NEW1", 1), (2L, "NEW2", 2), (100L, "INS", 0))
      .toDF("id", "v", "p").createOrReplaceTempView("m_src")

    spark.sql("""MERGE INTO graftm.t AS tgt USING m_src AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
    assert(Snapshots.latestVersion(spark, root, "t") === Some(2L))
    val rows = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    assert(rows.size === 41 && rows(1L) === "NEW1" && rows(2L) === "NEW2" &&
      rows(100L) === "INS" && rows(3L) === "v3")
    // partition-pruned CoW: p=3 was untouched — its files carried over
    val v1 = Snapshots.liveFiles(spark, root, "t", 1L).filter(_.startsWith("p=3/"))
    val v2 = Snapshots.liveFiles(spark, root, "t", 2L).filter(_.startsWith("p=3/"))
    assert(v1.nonEmpty && v1.toSet === v2.toSet,
      s"untouched partition must carry by reference: $v1 vs $v2")
    // idempotent re-run: new version, same content
    spark.sql("""MERGE INTO graftm.t AS tgt USING m_src AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap === rows)
  }

  test("MERGE as the CDC verb: conditioned DELETE routes, UPDATE otherwise") {
    val root = freshRoot(); stage(root)
    Seq((1L, "upd", "U", 1), (8L, "x", "D", 0), (200L, "ins", "U", 0))
      .toDF("id", "v", "op", "p").createOrReplaceTempView("m_ops")

    spark.sql("""MERGE INTO graftm.t AS tgt USING m_ops AS s ON tgt.id = s.id
                 WHEN MATCHED AND s.op = 'D' THEN DELETE
                 WHEN MATCHED THEN UPDATE SET v = s.v, p = s.p
                 WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)""")
    val rows = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    assert(!rows.contains(8L), "matched DELETE must drop the row")
    assert(rows(1L) === "upd" && rows(200L) === "ins" && rows(5L) === "v5")
    assert(rows.size === 40) // 40 - 1 deleted + 1 inserted
  }

  test("update-only MERGE never inserts; insert-only never updates") {
    val root = freshRoot(); stage(root)
    Seq((1L, "U1", 1), (500L, "NOPE", 0)).toDF("id", "v", "p")
      .createOrReplaceTempView("m_uo")
    spark.sql("""MERGE INTO graftm.t AS tgt USING m_uo AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET *""")
    val afterU = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    assert(afterU(1L) === "U1" && !afterU.contains(500L) && afterU.size === 40)

    spark.sql("""MERGE INTO graftm.t AS tgt USING m_uo AS s ON tgt.id = s.id
                 WHEN NOT MATCHED THEN INSERT *""")
    val afterI = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    assert(afterI(1L) === "U1", "insert-only must not rewrite matched rows")
    assert(afterI(500L) === "NOPE" && afterI.size === 41)
  }

  test("MERGE refusals are loud: dup source keys, non-equi ON, key update") {
    val root = freshRoot(); stage(root)
    Seq((1L, "a", 1), (1L, "b", 1)).toDF("id", "v", "p")
      .createOrReplaceTempView("m_dup")
    val dup = intercept[Exception] {
      spark.sql("""MERGE INTO graftm.t AS tgt USING m_dup AS s ON tgt.id = s.id
                   WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(dup.getMessage.contains("more than once"), dup.getMessage)
    // nothing committed by the refused statement
    assert(Snapshots.latestVersion(spark, root, "t") === Some(1L))

    Seq((1L, "a", 1)).toDF("id", "v", "p").createOrReplaceTempView("m_one")
    val nonEqui = intercept[Exception] {
      spark.sql("""MERGE INTO graftm.t AS tgt USING m_one AS s ON tgt.id < s.id
                   WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(nonEqui.getMessage.contains("non-equality"), nonEqui.getMessage)
    val keyUpd = intercept[Exception] {
      spark.sql("""MERGE INTO graftm.t AS tgt USING m_one AS s ON tgt.id = s.id
                   WHEN MATCHED THEN UPDATE SET id = s.id + 1""")
    }
    assert(keyUpd.getMessage.contains("join key"), keyUpd.getMessage)
    val tgtIns = intercept[Exception] {
      spark.sql("""MERGE INTO graftm.t AS tgt USING m_one AS s ON tgt.id = s.id
                   WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, tgt.v, s.p)""")
    }
    // Spark's own analyzer scopes NOT MATCHED to the source side — the
    // refusal is loud before the rewrite even sees the statement
    assert(tgtIns.getMessage.contains("cannot be resolved"), tgtIns.getMessage)
    // non-deterministic clause values are refused: touched-partition
    // discovery re-evaluates them separately from the rewrite join, so a
    // rand()-derived partition home could silently drop bystander rows
    val nondet = intercept[Exception] {
      spark.sql("""MERGE INTO graftm.t AS tgt USING m_one AS s ON tgt.id = s.id
                   WHEN NOT MATCHED THEN INSERT (id, v, p)
                     VALUES (s.id, s.v, CAST(rand() * 4 AS INT))""")
    }
    assert(nondet.getMessage.contains("non-deterministic"), nondet.getMessage)
    assert(Snapshots.latestVersion(spark, root, "t") === Some(1L))
  }

  test("MERGE UPDATE values and MATCHED conditions read target columns") {
    val root = freshRoot(); stage(root)
    // accumulating upsert: bal = tgt.bal + src.delta — the canonical CDC-
    // adjacent pattern (the value reads the target side of the join)
    Snapshots.commit(
      Seq((1L, 100L, 0), (2L, 50L, 1)).toDF("id", "bal", "p"),
      root, "acct", Seq("p"))
    Seq((1L, 7L, 1), (3L, 5L, 0)).toDF("id", "delta", "p")
      .createOrReplaceTempView("m_acc")
    spark.sql("""MERGE INTO graftm.acct AS tgt USING m_acc AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET bal = tgt.bal + s.delta
                 WHEN NOT MATCHED THEN INSERT (id, bal, p) VALUES (s.id, s.delta, s.p)""")
    val rows = spark.sql("SELECT id, bal FROM graftm.acct")
      .as[(Long, Long)].collect().toMap
    assert(rows === Map(1L -> 107L, 2L -> 50L, 3L -> 5L))
    // conditioned UPDATE comparing target against source: only rows whose
    // stored balance is LOWER than the incoming one move
    Seq((1L, 90L, 0), (2L, 60L, 1)).toDF("id", "bal2", "p")
      .createOrReplaceTempView("m_max")
    spark.sql("""MERGE INTO graftm.acct AS tgt USING m_max AS s ON tgt.id = s.id
                 WHEN MATCHED AND tgt.bal < s.bal2 THEN UPDATE SET bal = s.bal2""")
    val rows2 = spark.sql("SELECT id, bal FROM graftm.acct")
      .as[(Long, Long)].collect().toMap
    assert(rows2 === Map(1L -> 107L, 2L -> 60L, 3L -> 5L),
      "only the condition-passing row updates; others carry")
  }

  test("UPDATE+DELETE without INSERT ignores unmatched source rows") {
    val root = freshRoot(); stage(root)
    // 700/701 match nothing; with no NOT MATCHED clause they must be
    // IGNORED, never phantom-inserted (ANSI first-match routing)
    Seq((1L, "upd", "U", 1), (8L, "x", "D", 0),
        (700L, "ghost", "U", 0), (701L, "ghost", "D", 1))
      .toDF("id", "v", "op", "p").createOrReplaceTempView("m_ud")
    spark.sql("""MERGE INTO graftm.t AS tgt USING m_ud AS s ON tgt.id = s.id
                 WHEN MATCHED AND s.op = 'D' THEN DELETE
                 WHEN MATCHED THEN UPDATE SET v = s.v""")
    val rows = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    assert(rows.size === 39 && rows(1L) === "upd" && !rows.contains(8L))
    assert(!rows.contains(700L) && !rows.contains(701L),
      "unmatched source rows with no INSERT clause are ignored")
  }

  test("asymmetric UPDATE/INSERT column sets route separately") {
    val root = freshRoot()
    Snapshots.commit(
      Seq((1L, "keepA", "keepB", 0)).toDF("id", "a", "b", "p"),
      root, "asym", Seq("p"))
    GraftCatalog.install(spark, "graftm", root)
    Seq((1L, "ua", "ib", 0), (2L, "ua2", "ib2", 1)).toDF("id", "sa", "sb", "p")
      .createOrReplaceTempView("m_asym")
    // UPDATE assigns only `a`; INSERT assigns only (id, b, p): the matched
    // row's `b` must stay untouched, the inserted row's `a` must be null —
    // one shared value map would leak each clause's columns into the other
    spark.sql("""MERGE INTO graftm.asym AS tgt USING m_asym AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET a = s.sa
                 WHEN NOT MATCHED THEN INSERT (id, b, p) VALUES (s.id, s.sb, s.p)""")
    val rows = spark.sql("SELECT id, a, b FROM graftm.asym")
      .as[(Long, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L) === (("ua", "keepB")),
      "a column the UPDATE does not assign must carry the stored value")
    assert(rows(2L) === ((null, "ib2")),
      "a column the INSERT does not assign must be null on the new row")
  }

  test("multiple conditioned clauses: first match wins, in declaration order") {
    val root = freshRoot(); stage(root)
    Seq((1L, 5L, 1), (2L, 50L, 2), (3L, 500L, 3)).toDF("id", "x", "p")
      .createOrReplaceTempView("m_multi")
    spark.sql("""MERGE INTO graftm.t AS tgt USING m_multi AS s ON tgt.id = s.id
                 WHEN MATCHED AND s.x < 10 THEN UPDATE SET v = 'small'
                 WHEN MATCHED AND s.x < 100 THEN UPDATE SET v = 'mid'
                 WHEN MATCHED THEN DELETE""")
    val rows = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    assert(rows(1L) === "small" && rows(2L) === "mid" && !rows.contains(3L))
    assert(rows.size === 39)
  }

  test("WHEN NOT MATCHED BY SOURCE routes first-match over the source-null " +
      "side, interleaved with MATCHED and INSERT clauses") {
    val root = freshRoot(); stage(root) // ids 0..39, v=v<i>, p=i%4
    Seq((1L, "SRC1", 1), (2L, "SRC2", 2), (100L, "INS", 0))
      .toDF("id", "v", "p").createOrReplaceTempView("bs_src")
    spark.sql("""MERGE INTO graftm.t AS tgt USING bs_src AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET v = s.v
                 WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)
                 WHEN NOT MATCHED BY SOURCE AND tgt.id >= 30 THEN DELETE
                 WHEN NOT MATCHED BY SOURCE AND tgt.id >= 20 THEN
                   UPDATE SET v = concat(tgt.v, '_stale')""")
    val out = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    // matched updates + insert
    assert(out(1L) === "SRC1" && out(2L) === "SRC2" && out(100L) === "INS")
    // conditioned BY SOURCE DELETE claimed ids 30..39 (first match wins —
    // the UPDATE clause's condition also covers them but never fires)
    assert((30L to 39L).forall(!out.contains(_)))
    // second BY SOURCE clause took the leftovers 20..29
    assert((20L to 29L).forall(i => out(i) === s"v${i}_stale"))
    // unclaimed BY SOURCE rows carry untouched
    assert(out(0L) === "v0" && (3L to 19L).forall(i => out(i) === s"v$i"))
    assert(out.size === 31) // 40 - 10 deleted + 1 inserted
    // BY SOURCE expressions are target-only: a source reference refuses
    // loudly (Spark's analyzer scopes the clause before the rewrite)
    val srcRef = intercept[Exception] {
      spark.sql("""MERGE INTO graftm.t AS tgt USING bs_src AS s ON tgt.id = s.id
                   WHEN NOT MATCHED BY SOURCE AND s.v = 'x' THEN DELETE""")
    }
    assert(srcRef.getMessage != null, srcRef.toString)
    assert(Snapshots.latestVersion(spark, root, "t") === Some(2L))
  }

  test("unconditioned DELETE BY SOURCE is the full-sync verb: the table " +
      "converges to exactly the source's keys") {
    val root = freshRoot(); stage(root)
    Seq((5L, "S5", 1), (6L, "S6", 2), (200L, "S200", 0))
      .toDF("id", "v", "p").createOrReplaceTempView("bs_sync")
    spark.sql("""MERGE INTO graftm.t AS tgt USING bs_sync AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *
                 WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val out = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    assert(out === Map(5L -> "S5", 6L -> "S6", 200L -> "S200"))
    // re-running the full sync is idempotent: same end state, new version
    spark.sql("""MERGE INTO graftm.t AS tgt USING bs_sync AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *
                 WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap === out)
    // snapshot isolation: the pre-sync version reads all 40 rows
    assert(spark.sql("SELECT count(*) FROM graftm.t VERSION AS OF 1")
      .as[Long].head() === 40L)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source's new columns " +
      "additively; pre-merge versions read them null under time travel") {
    val root = freshRoot(); stage(root) // t: (id, v, p), ids 0..39
    // existing columns must TYPE-match the target (p arrives BIGINT: the
    // catalog widens int partition cols) — Spark's schemaChanges diff
    // treats any type difference as an UpdateColumnType, which additive
    // evolution refuses loudly; only genuinely NEW columns evolve
    Seq((1L, "NEW1", 1L, 7.5), (100L, "INS", 0L, 9.25))
      .toDF("id", "v", "p", "score").createOrReplaceTempView("ev_src")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graftm.t AS tgt
                 USING ev_src AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
    // the evolved column exists, with data-cols-before-partition-cols order
    assert(spark.table("graftm.t").schema.fieldNames.toSeq ===
      Seq("id", "v", "score", "p"))
    assert(spark.sql("SELECT v, score FROM graftm.t WHERE id = 1")
      .as[(String, Option[Double])].head() === ("NEW1", Some(7.5)))
    assert(spark.sql("SELECT v, score FROM graftm.t WHERE id = 100")
      .as[(String, Option[Double])].head() === ("INS", Some(9.25)))
    // untouched rows (old files) read the new column as null
    assert(spark.sql("SELECT score FROM graftm.t WHERE id = 5")
      .as[Option[Double]].head() === None)
    assert(spark.sql("SELECT count(*) FROM graftm.t").as[Long].head() === 41L)
    // q213's invariant: the pre-evolution version keeps its OWN columns
    assert(!spark.sql("SELECT * FROM graftm.t VERSION AS OF 1")
      .schema.fieldNames.contains("score"))
    // the explicit spelling works too: ALTER TABLE ADD COLUMNS
    spark.sql("ALTER TABLE graftm.t ADD COLUMNS (note STRING)")
    assert(spark.table("graftm.t").schema.fieldNames.toSeq ===
      Seq("id", "v", "score", "note", "p"))
    // DROP COLUMN is supported since column mapping (metadata-only, bytes
    // stay — ColumnMappingSpec pins the semantics); drop the added note
    spark.sql("ALTER TABLE graftm.t DROP COLUMN note")
    assert(spark.table("graftm.t").schema.fieldNames.toSeq ===
      Seq("id", "v", "score", "p"))
    // lossy TYPE changes stay refused
    val retype = intercept[Exception] {
      spark.sql("ALTER TABLE graftm.t ALTER COLUMN v TYPE INT")
    }
    assert(retype.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      retype.getMessage.contains("RENAME COLUMN") ||
      retype.getMessage.contains("read-only"), retype.getMessage)
    val dup = intercept[Exception] {
      graft.lake.Snapshots.evolveSchema(spark, root, "t",
        Seq(org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))
    }
    assert(dup.getMessage.contains("already exist"), dup.getMessage)
  }

  test("WITH SCHEMA EVOLUTION is a two-commit protocol BY DESIGN: the " +
      "metadata-only evolve publishes at analysis, so a merge that then " +
      "refuses leaves the evolved (data-unchanged) version committed") {
    val root = freshRoot(); stage(root) // t: (id, v, p), ids 0..39
    val vBefore = Snapshots.latestVersion(spark, root, "t").get
    // duplicate source keys: the ANSI dup-key refusal fires at EXECUTION,
    // after ResolveMergeIntoSchemaEvolution already published the evolved
    // schema during ANALYSIS (GraftCatalog.alterTable → evolveSchema)
    Seq((1L, "A", 1L, 5.0), (1L, "B", 1L, 6.0))
      .toDF("id", "v", "p", "extra").createOrReplaceTempView("ev_dup_src")
    val e = intercept[Exception] {
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graftm.t AS tgt
                   USING ev_dup_src AS s ON tgt.id = s.id
                   WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(e.getMessage != null, e.toString)
    // end state, pinned as INTENDED (documented in docs/API.md — this
    // diverges from Delta's transactional evolution): one metadata-only
    // 'evolve' version exists, no data changed, old rows read null
    assert(Snapshots.latestVersion(spark, root, "t") === Some(vBefore + 1))
    assert(Snapshots.manifest(spark, root, "t", vBefore + 1)
      .operation === Some("evolve"))
    assert(spark.table("graftm.t").schema.fieldNames.contains("extra"))
    assert(spark.sql("SELECT count(*) FROM graftm.t").as[Long].head() === 40L)
    assert(spark.sql("SELECT v FROM graftm.t WHERE id = 1")
      .as[String].head() === "v1", "the refused merge changed no data")
  }

  test("MERGE pins its base version: a concurrent commit raises CME") {
    val root = freshRoot(); stage(root)
    // a competing writer lands BETWEEN the merge's base read (pinned at
    // v1) and its commit reconcile: the trigger UDF fires during the
    // merge's own dup-check job, so the table is at v2 by the time the
    // merge publishes. The merge must refuse (retryable CME, the
    // expectedBase pin), never silently overwrite the competitor's rows
    // with data derived from the stale v1 snapshot.
    MergeCmeTrigger.root = root
    MergeCmeTrigger.fired.set(false)
    spark.udf.register("m_cme_trigger", (id: Long) => MergeCmeTrigger(id))
    // the raw source must be a FILE scan, not a local relation: over a
    // LocalRelation the optimizer constant-folds the deterministic UDF
    // driver-side the moment the merge materializes its source — BEFORE
    // the version pin — and the merge then (correctly) computes against
    // the competitor's version instead of conflicting with it
    Seq((1L, "late", 1)).toDF("id", "v", "p")
      .write.mode("overwrite").parquet(s"$root/_cme_src")
    spark.read.parquet(s"$root/_cme_src")
      .createOrReplaceTempView("m_cme_raw")
    spark.sql("SELECT m_cme_trigger(id) AS id, v, p FROM m_cme_raw")
      .createOrReplaceTempView("m_cme")
    // the BY SOURCE clause rides along: the pin must guard the unpruned
    // full-sync shape exactly like the pruned one
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO graftm.t AS tgt USING m_cme AS s ON tgt.id = s.id
                   WHEN MATCHED THEN UPDATE SET v = s.v
                   WHEN NOT MATCHED BY SOURCE AND tgt.id > 1000 THEN DELETE""")
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]), e.toString)
    // the competitor's version is the latest; its row and the would-be
    // merged row are both intact
    val rows = spark.sql("SELECT id, v FROM graftm.t")
      .as[(Long, String)].collect().toMap
    assert(rows(99L) === "concurrent" && rows(1L) === "v1")
  }

  test("a MERGE that empties a partition really empties it") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p"),
      root, "t", Seq("p"))
    GraftCatalog.install(spark, "graftm", root)
    Seq((1L, "D")).toDF("id", "op").createOrReplaceTempView("m_del")
    spark.sql("""MERGE INTO graftm.t AS tgt USING m_del AS s ON tgt.id = s.id
                 WHEN MATCHED AND s.op = 'D' THEN DELETE""")
    assert(spark.sql("SELECT id FROM graftm.t").as[Long].collect().toSet ===
      Set(2L))
    assert(Snapshots.liveFiles(spark, root, "t", 2L)
      .forall(_.startsWith("p=1/")), "p=0 must be gone from the manifest")
  }
}

/** Competing-commit trigger for the expectedBase CME test: a UDF body
  * (top-level object — nothing non-serializable captured) that commits a
  * new version of `t` the FIRST time it is evaluated, i.e. inside the
  * merge's own dup-check job, after the merge pinned its base version.
  * local-mode only (the inner commit launches jobs from a task thread).
  */
private[sql] object MergeCmeTrigger {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var root: String = _
  def apply(id: Long): Long = {
    if (fired.compareAndSet(false, true)) {
      // the commit must run OFF the task thread (sessions are
      // driver-only); a fresh thread has no TaskContext, so the default
      // session resolves and job submission is legal in local mode
      var err: Throwable = null
      val t = new Thread(() => {
        try {
          val s = org.apache.spark.sql.SparkSession.active
          graft.lake.Snapshots.append(
            s.range(1).selectExpr("CAST(99 AS BIGINT) AS id",
              "'concurrent' AS v", "CAST(1 AS INT) AS p"),
            root, "t", Seq("p"))
        } catch { case e: Throwable => err = e }
      })
      t.start(); t.join()
      if (err != null) throw err
    }
    id
  }
}
