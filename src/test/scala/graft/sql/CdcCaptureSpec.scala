package graft.sql

import graft.SparkTestBase
import graft.lake.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** CDC capture for rewrite-shaped commits (`spark.graft.cdc.write`):
  * UPDATE and row-level MERGE write per-commit change files (Delta's CDF
  * row shape — insert / delete / update_preimage / update_postimage), the
  * change feed serves those versions EXACTLY instead of refusing, batch
  * and stream legs agree (one shared planner), replaying the feed
  * reconstructs the table, and vacuum's lifecycle rules hold.
  */
class CdcCaptureSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("cdc_cap").toString

  private def withCapture[A](body: => A): A = {
    spark.conf.set(SnapshotCdc.WriteConf, "true")
    try body finally spark.conf.unset(SnapshotCdc.WriteConf)
  }

  private def batchChanges(cat: String, table: String, start: Long,
      end: Long): org.apache.spark.sql.DataFrame = {
    spark.conf.set("spark.graft.changes.startVersion", start.toString)
    spark.conf.set("spark.graft.changes.endVersion", end.toString)
    try spark.sql(s"SELECT * FROM $cat.$table.changes")
    finally {
      spark.conf.unset("spark.graft.changes.startVersion")
      spark.conf.unset("spark.graft.changes.endVersion")
    }
  }

  test("UPDATE under capture: the copy-on-write version serves exact " +
      "preimage/postimage pairs; the SAME shape without capture refuses") {
    val root = freshRoot()
    Snapshots.commit((0L until 20L).map(i => (i, i * 10L, i % 2))
      .toDF("id", "bal", "p"), root, "t", Seq("p"))
    GraftCatalog.install(spark, "graftcap", root)
    withCapture {
      spark.sql("UPDATE graftcap.t SET bal = bal + 1 WHERE id % 5 = 0")
    }
    val v2 = batchChanges("graftcap", "t", 2, 2)
      .select("id", "bal", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    val exp = (0L until 20L).filter(_ % 5 == 0).flatMap(i => Seq(
      (i, i * 10L, "update_preimage"), (i, i * 10L + 1L, "update_postimage")))
    assert(v2 === exp.toSet)

    // the un-captured spelling of the same rewrite still refuses
    spark.sql("UPDATE graftcap.t SET bal = bal + 1 WHERE id % 5 = 1") // v3
    val e = intercept[Exception] { batchChanges("graftcap", "t", 3, 3).collect() }
    assert((e.getMessage != null && e.getMessage.contains("removed")) ||
      Option(e.getCause).exists(c => Option(c.getMessage)
        .exists(_.contains("removed"))), e.toString)
  }

  test("partition-replacing MERGE under capture: all three clause kinds " +
      "replay exactly, batch and stream agree, and the feed reconstructs " +
      "the table") {
    val root = freshRoot()
    Snapshots.commit((0L until 30L).map(i => (i, i * 10L, i % 3))
      .toDF("id", "bal", "p"), root, "t", Seq("p"))
    GraftCatalog.install(spark, "graftcap2", root)
    // updates ids 0,6,12…, deletes 3,9,15…, inserts 100..102 (new keys,
    // one landing in a brand-new partition value)
    (0L until 30L).filter(_ % 3 == 0)
      .map(i => (i, if (i % 6 == 0) "U" else "D", 0L, i % 3))
      .toDF("k", "op", "nb", "np")
      .unionByName(Seq((100L, "I", 7L, 5L), (101L, "I", 8L, 0L),
        (102L, "I", 9L, 1L)).toDF("k", "op", "nb", "np"))
      .createOrReplaceTempView("cdc_cap_src")
    withCapture {
      spark.sql("""MERGE INTO graftcap2.t AS t USING cdc_cap_src AS s
                   ON t.id = s.k
                   WHEN MATCHED AND s.op = 'U' THEN UPDATE SET bal = t.bal + 100
                   WHEN MATCHED THEN DELETE
                   WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (id, bal, p)
                     VALUES (s.k, s.nb, s.np)""")
    }
    val batch = batchChanges("graftcap2", "t", 2, 2)
      .select("id", "bal", "p", "_change_type", "_commit_version")
    val rows = batch.as[(Long, Long, Long, String, Long)].collect().toSet
    val expUpd = (0L until 30L).filter(_ % 6 == 0).flatMap(i => Seq(
      (i, i * 10L, i % 3, "update_preimage", 2L),
      (i, i * 10L + 100L, i % 3, "update_postimage", 2L)))
    val expDel = (0L until 30L).filter(i => i % 3 == 0 && i % 6 != 0)
      .map(i => (i, i * 10L, i % 3, "delete", 2L))
    val expIns = Seq((100L, 7L, 5L, "insert", 2L), (101L, 8L, 0L, "insert", 2L),
      (102L, 9L, 1L, "insert", 2L))
    assert(rows === (expUpd ++ expDel ++ expIns).toSet)

    // stream leg: identical rows through the shared planner
    val q = spark.readStream.format(classOf[CdfSource].getName)
      .option("root", root).option("table", "t").load()
      .writeStream.format("parquet")
      .option("path", s"$root/_out").option("checkpointLocation", s"$root/_cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$root/_out")
      .filter($"_commit_version" === 2L)
      .select("id", "bal", "p", "_change_type", "_commit_version")
      .as[(Long, Long, Long, String, Long)].collect().toSet
    assert(streamed === rows)

    // replay equivalence: latest state = inserts+postimages minus the keys
    // whose last change was a delete — equals the direct read
    val feed = spark.read.parquet(s"$root/_out")
    val upserts = feed.filter($"_change_type".isin("insert", "update_postimage"))
    val replayed = upserts
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("id").orderBy($"_commit_version".desc)))
      .filter($"rn" === 1)
      .join(feed.filter($"_change_type" === "delete" &&
          $"_commit_version" === 2L).select("id"), Seq("id"), "left_anti")
      .select("id", "bal", "p").as[(Long, Long, Long)].collect().toSet
    val direct = Snapshots.readVersion(spark, root, "t", 2L)
      .select("id", "bal", "p").as[(Long, Long, Long)].collect().toSet
    assert(replayed === direct)
  }

  test("unpartitioned MERGE (full logical replace) under capture serves " +
      "through the same change files") {
    val root = freshRoot()
    Snapshots.commit((0L until 8L).map(i => (i, s"v$i")).toDF("id", "v"),
      root, "t", Seq.empty)
    GraftCatalog.install(spark, "graftcap3", root)
    Seq((1L, "x1"), (99L, "x99")).toDF("k", "nv")
      .createOrReplaceTempView("cdc_cap3_src")
    withCapture {
      spark.sql("""MERGE INTO graftcap3.t AS t USING cdc_cap3_src AS s
                   ON t.id = s.k
                   WHEN MATCHED THEN UPDATE SET v = s.nv
                   WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.k, s.nv)""")
    }
    val rows = batchChanges("graftcap3", "t", 2, 2)
      .select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(rows === Set((1L, "v1", "update_preimage"),
      (1L, "x1", "update_postimage"), (99L, "x99", "insert")))
  }

  test("capture refuses loudly on a table that carries a _change_type " +
      "column") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "_change_type"),
      root, "t", Seq.empty)
    GraftCatalog.install(spark, "graftcap4", root)
    val e = withCapture {
      intercept[Exception] {
        spark.sql("UPDATE graftcap4.t SET id = id + 1 WHERE id = 1")
      }
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(t => Option(t.getMessage)
      .exists(_.contains("reserves"))), e.toString)
  }

  test("vacuum lifecycle: referenced change files survive, files of " +
      "vacuumed versions and orphans from lost publishes are reclaimed") {
    val root = freshRoot()
    Snapshots.commit((0L until 10L).map(i => (i, i * 10L)).toDF("id", "bal"),
      root, "t", Seq.empty)
    GraftCatalog.install(spark, "graftcap5", root)
    withCapture {
      spark.sql("UPDATE graftcap5.t SET bal = bal + 1 WHERE id < 3") // v2
      spark.sql("UPDATE graftcap5.t SET bal = bal + 1 WHERE id >= 7") // v3
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def changeFiles(): Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/t/changes")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).map(_.getPath.getName).toSet
    }
    val v2files = Snapshots.manifest(spark, root, "t", 2L).changeFiles.get.toSet
    val v3files = Snapshots.manifest(spark, root, "t", 3L).changeFiles.get.toSet
    assert(v2files.nonEmpty && v3files.nonEmpty)
    // an orphan (a lost publish's leak) ages out; referenced files stay
    val orphan = new org.apache.hadoop.fs.Path(s"$root/t/changes/chg-orphan.parquet")
    fs.create(orphan, true).close()
    Snapshots.vacuum(spark, root, "t", keepVersions = 10, graceMillis = 0L)
    assert(changeFiles() === v2files ++ v3files)
    // dropping v1+v2 from retention reclaims v2's change files with it
    Snapshots.vacuum(spark, root, "t", keepVersions = 1, graceMillis = 0L)
    assert(changeFiles() === v3files)
    // the surviving version still serves its capture
    val v3 = batchChanges("graftcap5", "t", 3, 3)
    assert(v3.count() === 6L) // 3 hit rows × pre+post
  }

  test("window starting at the vacuum horizon: an append-shaped first " +
      "version streams (adds attribute from addedAt); a rewrite-shaped " +
      "one without capture names the startVersion conf") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), root, "t", Seq.empty)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "v"), root, "t", Seq.empty)
    Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), root, "t", Seq.empty)
    Snapshots.vacuum(spark, root, "t", keepVersions = 2, graceMillis = 0L)
    GraftCatalog.install(spark, "graftcap6", root)
    // v2 (earliest readable) is an append: its predecessor manifest is
    // gone but nothing needs it — the window serves
    val ok = batchChanges("graftcap6", "t", 2, 3)
      .select("id").as[Long].collect().toSet
    assert(ok === Set(2L, 3L))

    // same geometry with a REWRITE at the horizon: refuse, naming the conf
    val root2 = freshRoot()
    Snapshots.commit(Seq((1L, "a", 0)).toDF("id", "v", "p"), root2, "t", Seq("p"))
    Snapshots.commit(Seq((1L, "a2", 0)).toDF("id", "v", "p"), root2, "t", Seq("p"))
    Snapshots.commit(Seq((9L, "z", 1)).toDF("id", "v", "p"), root2, "t", Seq("p"))
    Snapshots.vacuum(spark, root2, "t", keepVersions = 2, graceMillis = 0L)
    GraftCatalog.install(spark, "graftcap7", root2)
    val e = intercept[Exception] {
      batchChanges("graftcap7", "t", 2, 3).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(t => Option(t.getMessage)
      .exists(_.contains("spark.graft.changes.startVersion"))), e.toString)
    // …and skipChangeCommits skips the unattributable first version
    spark.conf.set("spark.graft.changes.skipChangeCommits", "true")
    try {
      val skipped = batchChanges("graftcap7", "t", 2, 3)
        .select("id").as[Long].collect().toSet
      assert(skipped === Set(9L))
    } finally spark.conf.unset("spark.graft.changes.skipChangeCommits")
  }

  test("metadata-only verbs after a stream epoch and a captured UPDATE " +
      "carry the epoch ledger, never the epoch identity or the capture") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = freshRoot()
    Snapshots.commit((0L until 6L).map(i => (i, i * 10L)).toDF("id", "bal"),
      root, "t", Seq.empty) // v1
    def epoch(id: Long): Long = {
      val stage = s"$root/t/.streamstage-qc/0"
      Seq((id, id * 10L)).toDF("id", "bal").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val rel = new java.io.File(stage).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
      val added = Snapshots.adoptStagedFiles(spark, root, "t", stage, Seq(rel))
      Snapshots.commitStreamEpoch(spark, root, "t", added,
        StructType(Seq(StructField("id", LongType), StructField("bal", LongType))),
        Seq.empty, Seq.empty, "qc", 0L)
    }
    val vStream = epoch(100L)
    val vEvolve1 = Snapshots.evolveSchema(spark, root, "t",
      Seq(StructField("note1", StringType)))
    val vRestore1 = Snapshots.restore(spark, root, "t", vStream)
    GraftCatalog.install(spark, "graftcarry", root)
    withCapture {
      spark.sql("UPDATE graftcarry.t SET bal = bal + 1 WHERE id < 2")
    }
    val vUpdate = vRestore1 + 1
    assert(Snapshots.manifest(spark, root, "t", vUpdate).changeFiles
      .exists(_.nonEmpty))
    val vEvolve2 = Snapshots.evolveSchema(spark, root, "t",
      Seq(StructField("note2", StringType)))
    val vRestore2 = Snapshots.restore(spark, root, "t", vUpdate)

    Seq(vEvolve1, vRestore1, vEvolve2, vRestore2).foreach { v =>
      val m = Snapshots.manifest(spark, root, "t", v)
      assert(m.epochs === Map("qc" -> 0L), s"v$v dropped the epoch ledger")
      assert(m.streamEpoch.isEmpty, s"v$v carried the epoch identity")
      assert(m.changeFiles.isEmpty, s"v$v carried the CDC capture")
    }
    // the ledger still answers the stream version; a replay appends nothing
    assert(Snapshots.epochVersion(spark, root, "t", "qc", 0L) === Some(vStream))
    assert(epoch(999L) === vStream)
    assert(Snapshots.latestVersion(spark, root, "t") === Some(vRestore2))
    // the change feed shows nothing at the metadata-only versions
    assert(batchChanges("graftcarry", "t", vEvolve1, vRestore1).count() === 0L)
    assert(batchChanges("graftcarry", "t", vEvolve2, vRestore2).count() === 0L)
  }
}
