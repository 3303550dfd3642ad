package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String = {
    val root = java.nio.file.Files.createTempDirectory("snap_spec").toString
    root
  }

  test("commits are dynamic-overwrite; every version stays readable") {
    val root = freshRoot()
    val v1 = Seq((1L, "a", 2020), (2L, "b", 2020), (3L, "c", 2021)).toDF("id", "v", "year")
    assert(Snapshots.commit(v1, root, "t", Seq("year")) === 1L)
    // overwrite year=2020 only
    val v2 = Seq((9L, "z", 2020)).toDF("id", "v", "year")
    assert(Snapshots.commit(v2, root, "t", Seq("year")) === 2L)
    // brand-new partition, nothing replaced
    val v3 = Seq((4L, "d", 2022)).toDF("id", "v", "year")
    assert(Snapshots.commit(v3, root, "t", Seq("year")) === 3L)

    def rows(ver: Long) = Snapshots.readVersion(spark, root, "t", ver)
      .select("id", "v", "year").as[(Long, String, Int)].collect().toSet
    assert(rows(1L) === Set((1L, "a", 2020), (2L, "b", 2020), (3L, "c", 2021)))
    assert(rows(2L) === Set((9L, "z", 2020), (3L, "c", 2021)))
    assert(rows(3L) === Set((9L, "z", 2020), (3L, "c", 2021), (4L, "d", 2022)))
    // partition pruning still applies on a time-travel read
    val plan = Snapshots.readVersion(spark, root, "t", 3L)
      .filter($"year" === 2022).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("diff tags multiset changes as insert/delete; updates become both") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("id", "v", "year"),
      root, "t", Seq("year"))
    Snapshots.commit(Seq((1L, "A", 2020)).toDF("id", "v", "year"),
      root, "t", Seq("year")) // update id=1, leave 2021 alone
    val d = Snapshots.diff(spark, root, "t", 1L, 2L)
      .select("change_type", "id", "v").as[(String, Long, String)].collect().toSet
    assert(d === Set(("delete", 1L, "a"), ("insert", 1L, "A")))
  }

  test("statsCols commit writes a sidecar; readVersionPruned skips files, result ≡ unpruned") {
    val root = freshRoot()
    val df = (0L until 100L).map(i => (i, i % 7)).toDF("id", "grp")
      .repartitionByRange(4, $"id") // 4 files, each owning a tight id range
    Snapshots.commit(df, root, "t", Seq.empty, statsCols = Seq("id"))
    val cand = Snapshots.candidateFiles(spark, root, "t", 1L, "id", lit(10), lit(20))
    assert(cand.nonEmpty && cand.size < 4, s"expected pruning, got $cand")
    val pruned = Snapshots.readVersionPruned(spark, root, "t", 1L, "id", lit(10), lit(20))
      .select("id").as[Long].collect().toSet
    assert(pruned === (10L to 20L).toSet)
  }

  test("stats carry forward across a non-stats commit; new files read conservatively") {
    val root = freshRoot()
    Snapshots.commit((0L until 100L).toDF("id").repartitionByRange(4, $"id"),
      root, "t", Seq.empty, statsCols = Seq("id"))
    // append-only commit WITHOUT statsCols: v1 stats must carry forward,
    // v2's own files get null stats (conservative)
    Snapshots.commit((1000L until 1100L).toDF("id").repartitionByRange(4, $"id"),
      root, "t", Seq.empty)
    val cand = Snapshots.candidateFiles(spark, root, "t", 2L, "id", lit(10), lit(20))
    assert(cand.size < 8 && cand.size >= 5, // ≤2 v1 files prune in, all 4 v2 files stay
      s"expected carried v1 pruning + conservative v2 files, got $cand")
    val pruned = Snapshots.readVersionPruned(spark, root, "t", 2L, "id", lit(10), lit(20))
      .select("id").as[Long].collect().toSet
    assert(pruned === (10L to 20L).toSet)
  }

  test("compact rewrites range-clustered with fresh stats; time-travel AND post-compact reads prune") {
    val root = freshRoot()
    Snapshots.commit((0L until 100L).toDF("id").repartitionByRange(4, $"id"),
      root, "t", Seq.empty, statsCols = Seq("id"))
    Snapshots.commit((1000L until 1100L).toDF("id").repartitionByRange(4, $"id"),
      root, "t", Seq.empty, statsCols = Seq("id"))
    val v3 = Snapshots.compact(spark, root, "t", Seq.empty, numFiles = 4,
      clusterCols = Seq("id"), statsCols = Seq("id"))
    assert(v3 === 3L)
    // post-compaction read prunes on the FRESH stats (files re-clustered)
    val cand3 = Snapshots.candidateFiles(spark, root, "t", 3L, "id", lit(10), lit(20))
    assert(cand3.size < 4, s"post-compact pruning failed: $cand3")
    assert(Snapshots.readVersionPruned(spark, root, "t", 3L, "id", lit(10), lit(20))
      .select("id").as[Long].collect().toSet === (10L to 20L).toSet)
    // time-travel read at v1 prunes on v1's OWN committed stats
    val cand1 = Snapshots.candidateFiles(spark, root, "t", 1L, "id", lit(10), lit(20))
    assert(cand1.size < 4, s"time-travel pruning failed: $cand1")
    assert(Snapshots.readVersionPruned(spark, root, "t", 1L, "id", lit(10), lit(20))
      .select("id").as[Long].collect().toSet === (10L to 20L).toSet)
    // compaction replaced the live set but older versions still read intact
    assert(Snapshots.readVersion(spark, root, "t", 2L).count() === 200L)
    assert(Snapshots.readVersion(spark, root, "t", 3L).count() === 200L)
  }

  test("no sidecar → pruned read degrades to the plain filtered scan") {
    val root = freshRoot()
    Snapshots.commit((0L until 40L).map(i => (i, (2020 + i % 2).toInt))
      .toDF("id", "year"), root, "t", Seq("year")) // no statsCols anywhere
    val cand = Snapshots.candidateFiles(spark, root, "t", 1L, "id", lit(0), lit(5))
    assert(cand.size === 2) // both partition files: fully conservative
    assert(Snapshots.readVersionPruned(spark, root, "t", 1L, "id", lit(0), lit(5))
      .select("id").as[Long].collect().toSet === (0L to 5L).toSet)
  }

  test("added-file attribution is write-derived: foreign files can't enter a commit's manifest") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    // plant what a concurrent writer would leave around mid-commit: an
    // in-flight task file under _temporary AND an already-committed
    // foreign data file — neither may land in the NEXT commit's manifest
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val tmpFile = new org.apache.hadoop.fs.Path(
      s"$root/t/data/year=2021/_temporary/0/part-inflight.parquet")
    f.mkdirs(tmpFile.getParent)
    f.create(tmpFile, true).close()
    Seq((7L, 2021)).toDF("id", "year").write
      .partitionBy("year").mode("append").parquet(s"$root/t/data") // foreign
    val v2 = Snapshots.commit(Seq((2L, 2022)).toDF("id", "year"),
      root, "t", Seq("year"))
    val files = Snapshots.liveFiles(spark, root, "t", v2)
    assert(files.forall(p => !p.contains("_temporary")), files)
    assert(files.forall(p => !p.startsWith("year=2021")),
      s"foreign concurrent file must not be attributed to this commit: $files")
    assert(Snapshots.readVersion(spark, root, "t", v2)
      .select("id").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("TIMESTAMP AS OF resolves from the manifest's own commit time — portable across mtime loss") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    Thread.sleep(20)
    val mid = System.currentTimeMillis()
    Thread.sleep(20)
    Snapshots.commit(Seq((2L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    // simulate an rsync'd/migrated lake: scramble every manifest mtime so
    // mtime-ordered resolution would pick the WRONG version
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    f.setTimes(new org.apache.hadoop.fs.Path(s"$root/_snapshots/t/v1.json"),
      mid + 900000L, -1)
    f.setTimes(new org.apache.hadoop.fs.Path(s"$root/_snapshots/t/v2.json"),
      mid - 900000L, -1)
    assert(Snapshots.versionAsOf(spark, root, "t", mid) === Some(1L))
    assert(Snapshots.versionAsOf(spark, root, "t",
      System.currentTimeMillis()) === Some(2L))
    assert(Snapshots.versionAsOf(spark, root, "t", mid - 86400000L) === None)
  }

  test("concurrent commit publishing first surfaces the CME retry contract, end to end") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // the competing writer lands its v2 manifest between OUR version
    // computation and publish — the deterministic replay of the race
    Snapshots.beforePublish = () =>
      Snapshots.writeManifest(f, root, "t", 2L,
        Manifest(files = Seq("winner.parquet")))
    try {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.commit(Seq((2L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
      }
    } finally Snapshots.beforePublish = () => ()
    // the winner's manifest is intact; a retry lands as v3
    assert(Snapshots.liveFiles(spark, root, "t", 2L) === Seq("winner.parquet"))
    assert(Snapshots.commit(Seq((3L, 2021)).toDF("id", "year"),
      root, "t", Seq("year")) === 3L)
  }

  test("an all-empty version reads as an empty frame with the prior schema") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "a", 2020)).toDF("id", "v", "year"), root, "t", Seq("year"))
    // the empty-version states: a delete-shaped rewrite that leaves zero
    // live files (manifest constructed directly — dynamic overwrite alone
    // can't shrink to empty), and a FIRST commit of an empty frame
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    Snapshots.writeManifest(f, root, "t", 2L, Manifest(files = Seq.empty))
    assert(Snapshots.liveFiles(spark, root, "t", 2L).isEmpty)
    val read = Snapshots.readVersion(spark, root, "t", 2L)
    assert(read.columns.toSeq === Seq("id", "v", "year"))
    assert(read.count() === 0L)
    // a FIRST commit of an empty frame stamps its schema into the
    // manifest, so even an all-empty v1 reads as a typed empty frame
    val empty = Seq.empty[(Long, String, Int)].toDF("id", "v", "year")
    Snapshots.commit(empty, root, "t2", Seq("year"))
    val e1 = Snapshots.readVersion(spark, root, "t2", 1L)
    assert(e1.columns.toSeq === Seq("id", "v", "year") && e1.count() === 0L)
  }

  test("schema evolution is additive and time-travel-correct") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("id", "v", "year"),
      root, "t", Seq("year"))
    // append a NEW column (and touch only year=2022: nothing replaced)
    Snapshots.commit(Seq((3L, "c", 9L, 2022)).toDF("id", "v", "extra", "year"),
      root, "t", Seq("year"))
    // v1 reads with ITS OWN schema — evolution never rewrites history
    assert(Snapshots.readVersion(spark, root, "t", 1L).columns.toSeq ===
      Seq("id", "v", "year"))
    // v2 reads the merged schema (partition column stays last, matching
    // every file-source read's output order); pre-`extra` files read null
    val v2 = Snapshots.readVersion(spark, root, "t", 2L)
    assert(v2.columns.toSeq === Seq("id", "v", "extra", "year"))
    assert(v2.select("id", "extra").as[(Long, Option[Long])].collect().toSet ===
      Set((1L, None), (2L, None), (3L, Some(9L))))
    // a PARTIAL-column append: the omitted column reads null in new files
    Snapshots.commit(Seq((4L, 2023)).toDF("id", "year"), root, "t", Seq("year"))
    val v3 = Snapshots.readVersion(spark, root, "t", 3L)
    assert(v3.columns.toSeq === Seq("id", "v", "extra", "year"))
    assert(v3.filter($"id" === 4L).select("v").collect().head.isNullAt(0))
    // NARROWING type changes are refused loudly — they would corrupt old
    // versions (id arrives as INT where the table committed LONG; the
    // reverse, widening, is allowed — see the widening test)
    val ex2 = intercept[IllegalArgumentException] {
      Snapshots.commit(Seq((5, 2024)).toDF("id", "year"), root, "t", Seq("year"))
    }
    assert(ex2.getMessage.contains("additive/widening-only"), ex2.getMessage)
    // diff across the evolution boundary aligns schemas (added column
    // surfaces as null on the old side)
    val d = Snapshots.diff(spark, root, "t", 1L, 2L)
    assert(d.columns.contains("extra"))
    assert(d.filter($"change_type" === "insert").select("id").as[Long]
      .collect().toSet === Set(3L))
    // compact materializes the merged schema and carries it forward
    val v4 = Snapshots.compact(spark, root, "t", Seq("year"), numFiles = 2,
      clusterCols = Seq("id"))
    assert(Snapshots.readVersion(spark, root, "t", v4).columns.toSeq ===
      Seq("id", "v", "extra", "year"))
    assert(Snapshots.readVersion(spark, root, "t", v4).count() === 4L)
  }

  test("commitRetry wins a lost race on the next attempt; neither commit is lost") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // competing writer lands v2 during OUR first attempt only
    var fired = false
    Snapshots.beforePublish = () =>
      if (!fired) {
        fired = true
        Snapshots.writeManifest(f, root, "t", 2L, // winner carries v1
          Manifest(files = Snapshots.liveFiles(spark, root, "t", 1L)))
      }
    try {
      val v = Snapshots.commitRetry(Seq((2L, 2021)).toDF("id", "year"),
        root, "t", Seq("year"))
      assert(v === 3L, "the retry must land as the NEXT version")
    } finally Snapshots.beforePublish = () => ()
    // both writers' content is visible at v3 (nothing lost, nothing doubled)
    assert(Snapshots.readVersion(spark, root, "t", 3L)
      .select("id").as[Long].collect().toSet === Set(1L, 2L))
    assert(Snapshots.readVersion(spark, root, "t", 3L).count() === 2L)
  }

  test("a commit onto a pre-schema-tracking manifest carries legacy columns forward") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "legacy", 2020)).toDF("id", "old_col", "year"),
      root, "t", Seq("year"))
    // strip the schema from v1's manifest: the state every pre-tracking
    // lake is in (files list + commit time only)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val files = Snapshots.liveFiles(spark, root, "t", 1L)
    f.delete(new org.apache.hadoop.fs.Path(s"$root/_snapshots/t/v1.json"), false)
    Snapshots.writeManifest(f, root, "t", 1L, Manifest(files = files)) // no schema param
    assert(Snapshots.versionSchema(spark, root, "t", 1L).isEmpty)
    // first post-upgrade commit: v2's stamped schema must still carry
    // old_col, and v1's rows keep their value under the merged read
    Snapshots.commit(Seq((2L, 2021)).toDF("id", "year"), root, "t", Seq("year"))
    val v2 = Snapshots.readVersion(spark, root, "t", 2L)
    assert(v2.columns.contains("old_col"), v2.columns.toSeq)
    assert(v2.filter($"id" === 1L).select("old_col").as[String].head() === "legacy")
    assert(v2.filter($"id" === 2L).select("old_col").collect().head.isNullAt(0))
  }

  test("vacuum keeps only the requested versions' files; survivors still read") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"),
      statsCols = Seq("id"))
    Snapshots.commit(Seq((2L, 2020)).toDF("id", "year"), root, "t", Seq("year"),
      statsCols = Seq("id"))
    Snapshots.commit(Seq((3L, 2020)).toDF("id", "year"), root, "t", Seq("year"),
      statsCols = Seq("id"))
    val deleted = Snapshots.vacuum(spark, root, "t", keepVersions = 1, graceMillis = 0L)
    assert(deleted.nonEmpty) // v1+v2's superseded files are gone
    assert(Snapshots.readVersion(spark, root, "t", 3L)
      .select("id").as[Long].collect().toSeq === Seq(3L))
    // a retired version fails with a CLEAR error naming vacuum and the
    // earliest readable version — never a raw FileNotFound mid-scan
    val retired = intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, root, "t", 1L)
    }
    assert(retired.getMessage.contains("retired by vacuum") &&
      retired.getMessage.contains("v3"), retired.getMessage)
    // a version that never existed says so (and names the latest)
    val never = intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, root, "t", 9L)
    }
    assert(never.getMessage.contains("does not exist"), never.getMessage)
    // dropped versions' stats sidecars are gone too; the survivor's stays
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/_snapshots/t/stats_v1")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/_snapshots/t/stats_v2")))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$root/_snapshots/t/stats_v3")))
  }

  test("z-order compact prunes a rectangle on BOTH axes; 1-D compact can't") {
    val root = freshRoot()
    // x and y vary independently: 1-D range clustering on x gives tight x
    // boxes but full-range y boxes; the Morton interleave bounds both
    val df = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
      col("id").as("v"))
    Snapshots.commit(df.repartitionByRange(8, col("v")), root, "t",
      Seq.empty, statsCols = Seq("x", "y"))
    val v1d = Snapshots.compact(spark, root, "t", Seq.empty, numFiles = 16,
      clusterCols = Seq("x", "y"), statsCols = Seq("x", "y"))
    val vz = Snapshots.compact(spark, root, "t", Seq.empty, numFiles = 16,
      clusterCols = Seq("x", "y"), statsCols = Seq("x", "y"), zOrder = true)
    // x UNconstrained, y narrow: 1-D (x-leading) clustering cannot prune
    // at all — every file spans all of y; z-order bounds y per file
    val rect = Seq(("x", lit(0L), lit(63L)), ("y", lit(10L), lit(14L)))
    val files1d = Snapshots.candidateFilesRect(spark, root, "t", v1d, rect)
    val filesZ = Snapshots.candidateFilesRect(spark, root, "t", vz, rect)
    assert(filesZ.size < files1d.size,
      s"z-order must open fewer files on a 2-D rectangle: ${filesZ.size} vs ${files1d.size}")
    assert(filesZ.size < 16)
    // result invariance: pruned rectangle read ≡ unpruned filter, both layouts
    val expect = df.filter($"x".between(0, 63) && $"y".between(10, 14))
      .select("v").as[Long].collect().toSet
    for (v <- Seq(v1d, vz))
      assert(Snapshots.readVersionRect(spark, root, "t", v, rect)
        .select("v").as[Long].collect().toSet === expect, s"version $v")
  }

  test("commitRetry under real N-way contention: dense versions, no lost updates") {
    val root = freshRoot()
    val writers = 8
    val retries = new java.util.concurrent.atomic.AtomicLong(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            Snapshots.commitRetry(
              Seq((w.toLong, w)).toDF("id", "p"), root, "t", Seq("p"),
              maxRetries = writers * 4, onRetry = _ => retries.incrementAndGet())
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // every writer landed; versions are DENSE 1..N (each lost race
      // re-read the new latest and re-committed on top)
      assert(versions.sorted === (1L to writers.toLong))
      // no lost updates: the final version carries every writer's row
      val ids = Snapshots.readVersion(spark, root, "t", writers.toLong)
        .select("id").as[Long].collect().toSet
      assert(ids === (0L until writers.toLong).toSet)
      // contention was REAL: with 8 simultaneous writers racing one
      // manifest path, at least one CME retry must have fired
      assert(retries.get() > 0, "expected at least one lost manifest race")
    } finally pool.shutdownNow()
  }

  test("schema evolution widens losslessly: int32 files read under a bigint commit") {
    val root = freshRoot()
    Snapshots.commit(Seq((1, 2020)).toDF("n", "year"), root, "t", Seq("year"))
    assert(Snapshots.versionSchema(spark, root, "t", 1L).get("n").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // a later commit brings bigint: the column WIDENS (Spark 4 parquet
    // readers promote the old int32 files natively — SPARK-40876)
    Snapshots.append(Seq((2L, 2021L)).toDF("n", "year")
      .select($"n", $"year".cast("int").as("year")), root, "t", Seq("year"))
    val v2 = Snapshots.readVersion(spark, root, "t", 2L)
    assert(v2.schema("n").dataType === org.apache.spark.sql.types.LongType)
    assert(v2.select("n").as[Long].collect().toSet === Set(1L, 2L))
    // NARROWING (or a real type change) still refuses
    val bad = intercept[IllegalArgumentException] {
      Snapshots.append(Seq(("x", 2021)).toDF("n", "year"), root, "t", Seq("year"))
    }
    assert(bad.getMessage.contains("widening"), bad.getMessage)
  }

  test("deleteWhere is merge-on-read: rows vanish, no data file is rewritten") {
    val root = freshRoot()
    Snapshots.commit(
      (1L to 20L).map(i => (i, s"r$i", (i % 2).toInt)).toDF("id", "v", "p"),
      root, "t", Seq("p"), statsCols = Seq("id"))
    val filesBefore = Snapshots.liveFiles(spark, root, "t", 1L).toSet
    val v2 = Snapshots.deleteWhere(spark, root, "t", $"id" % 5 === 0)
    assert(v2 === 2L)
    // the data-file set is UNCHANGED — the delete is a manifest vector
    assert(Snapshots.liveFiles(spark, root, "t", 2L).toSet === filesBefore)
    def ids(ver: Long) = Snapshots.readVersion(spark, root, "t", ver)
      .select("id").as[Long].collect().toSet
    assert(ids(2L) === (1L to 20L).filterNot(_ % 5 == 0).toSet)
    // the pre-delete version still reads the full set (snapshot isolation)
    assert(ids(1L) === (1L to 20L).toSet)
    // a second vector stacks
    val v3 = Snapshots.deleteWhere(spark, root, "t", $"v" === "r7")
    assert(ids(v3) === (1L to 20L).filterNot(i => i % 5 == 0 || i == 7).toSet)
    // pruned reads apply the vectors too
    val pruned = Snapshots.readVersionPruned(spark, root, "t", v3,
      "id", lit(1L), lit(10L)).select("id").as[Long].collect().toSet
    assert(pruned === (1L to 10L).filterNot(i => i % 5 == 0 || i == 7).toSet)
    // MOR read ≡ post-compact read; the compacted manifest carries no vectors
    val v4 = Snapshots.compact(spark, root, "t", Seq("p"), numFiles = 2,
      clusterCols = Seq("id"), statsCols = Seq("id"))
    assert(ids(v4) === ids(v3))
    assert(Snapshots.manifest(spark, root, "t", v4).deletes.isEmpty)
    // vacuum to the compacted version retires the vector files
    Snapshots.vacuum(spark, root, "t", keepVersions = 1, graceMillis = 0L)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val ddir = new org.apache.hadoop.fs.Path(s"$root/t/deletes")
    assert(!f.exists(ddir) || f.listStatus(ddir).forall(!_.isFile))
  }

  test("deleteWhere enforces the MOR vector-size contract: an oversized " +
      "vector refuses loudly, pointing at the rewrite path") {
    val root = freshRoot()
    Snapshots.commit((1L to 50L).map(i => (i, s"r$i")).toDF("id", "v"),
      root, "t", Seq.empty)
    spark.conf.set("spark.graft.delete.maxVectorRows", "10")
    try {
      // 25 matching keys > cap 10: refused BEFORE any version publishes
      val big = intercept[IllegalArgumentException] {
        Snapshots.deleteWhere(spark, root, "t", $"id" % 2 === 0)
      }
      assert(big.getMessage.contains("merge-on-read premise"), big.getMessage)
      assert(big.getMessage.contains("filter(!cond)"), big.getMessage)
      assert(Snapshots.latestVersion(spark, root, "t") === Some(1L))
      // under the cap still works
      val v2 = Snapshots.deleteWhere(spark, root, "t", $"id" <= 5L)
      assert(Snapshots.readVersion(spark, root, "t", v2)
        .count() === 45L)
    } finally spark.conf.unset("spark.graft.delete.maxVectorRows")
  }

  test("a row re-inserted AFTER a delete survives it (addedAt sequence rule)") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "old", 0), (2L, "keep", 0)).toDF("id", "v", "p"),
      root, "t", Seq("p"))
    Snapshots.deleteWhere(spark, root, "t", $"id" === 1L)
    // re-insert id=1 with new content: the vector (v=2) must not touch the
    // v3-added file
    val v3 = Snapshots.append(Seq((1L, "new", 0)).toDF("id", "v", "p"),
      root, "t", Seq("p"))
    val rows = Snapshots.readVersion(spark, root, "t", v3)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(rows === Set((1L, "new"), (2L, "keep")))
    // and diff sees the delete+insert across the history
    val d = Snapshots.diff(spark, root, "t", 1L, v3)
      .select("id", "v", "change_type").as[(Long, String, String)].collect().toSet
    assert(d === Set((1L, "old", "delete"), (1L, "new", "insert")))
  }

  test("deleteWhere edge cases: IS NULL matches, no-match is a no-op, deleteAll truncates") {
    val root = freshRoot()
    Snapshots.commit(
      Seq((1L, Some("a")), (2L, None), (3L, Some("c"))).toDF("id", "v"),
      root, "t", Seq.empty)
    // IS NULL predicate: the vector's null key must null-safe match
    val v2 = Snapshots.deleteWhere(spark, root, "t", $"v".isNull)
    assert(Snapshots.readVersion(spark, root, "t", v2)
      .select("id").as[Long].collect().toSet === Set(1L, 3L))
    // nothing matches → no new version
    assert(Snapshots.deleteWhere(spark, root, "t", $"id" === 999L) === v2)
    // unknown column is refused loudly
    val bad = intercept[IllegalArgumentException] {
      Snapshots.deleteWhere(spark, root, "t", col("nope") === 1L)
    }
    assert(bad.getMessage.contains("unknown column"), bad.getMessage)
    // truncate keeps the schema
    val v3 = Snapshots.deleteAll(spark, root, "t")
    val empty = Snapshots.readVersion(spark, root, "t", v3)
    assert(empty.columns.toSeq === Seq("id", "v") && empty.count() === 0L)
  }

  test("sidecar records exact bytes and rows for every added file") {
    val root = freshRoot()
    Snapshots.commit((1L to 10L).map(i => (i, (i % 2).toInt)).toDF("id", "p"),
      root, "t", Seq("p")) // note: NO statsCols — bytes/rows still land
    val sc = spark.read.parquet(s"$root/_snapshots/t/stats_v1")
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(sc.count() > 0)
    sc.select("file", "bytes", "rows").as[(String, Long, Long)].collect()
      .foreach { case (file, bytes, _) =>
        val st = f.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/t/data/$file"))
        assert(st.getLen === bytes, file)
      }
    val totalRows = sc.agg(sum("rows")).as[Long].head()
    assert(totalRows === 10L)
  }

  test("a lost race retries METADATA only: one data write across N CMEs") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // a competing writer lands a new version during our first THREE
    // publish attempts — each one a lost race for us
    var competing = 0
    Snapshots.beforePublish = () =>
      if (competing < 3) {
        competing += 1
        val next = Snapshots.latestVersion(spark, root, "t").get + 1
        Snapshots.writeManifest(f, root, "t", next,
          Manifest(files = Snapshots.liveFiles(spark, root, "t", next - 1)))
      }
    val writesBefore = Snapshots.dataWrites.get()
    try {
      val v = Snapshots.commitRetry(Seq((2L, 2021)).toDF("id", "year"),
        root, "t", Seq("year"), maxRetries = 5)
      assert(v === 5L, "1 base + 3 competitors + ours")
    } finally Snapshots.beforePublish = () => ()
    assert(Snapshots.dataWrites.get() - writesBefore === 1L,
      "a lost manifest race must never re-write data files")
    // nothing lost: the final version carries both writers' rows
    assert(Snapshots.readVersion(spark, root, "t", 5L)
      .select("id").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("an S3-shaped filesystem (replacing rename, racing exists) loses a version silently; the coordinated arbiter catches it") {
    val root = freshRoot()
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(new java.net.URI("file:///"), conf)
    // S3A's semantics, distilled: rename is copy+delete that REPLACES an
    // existing destination, and exists() inside the race window reports
    // absent (check-then-act has no atomicity to offer)
    val s3ish = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def exists(p: org.apache.hadoop.fs.Path): Boolean = false
      override def rename(src: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = {
        fs.delete(dst, false); fs.rename(src, dst)
      }
    }
    // two writers publish the SAME version through the default arbiter:
    // both "succeed" — the second silently replaces the first (this is
    // exactly what a bare object store would do)
    Snapshots.writeManifest(s3ish, root, "t", 1L, Manifest(files = Seq("first")))
    Snapshots.writeManifest(s3ish, root, "t", 1L, Manifest(files = Seq("second")))
    assert(Snapshots.liveFiles(spark, root, "t", 1L) === Seq("second"),
      "demonstrated: the default arbiter cannot protect a non-atomic FS")
    // same race through the coordinated arbiter (put-if-absent lock on a
    // coordination filesystem): exactly one winner, the loser gets the
    // retryable CME and the winner's bytes survive
    val lockDir = java.nio.file.Files.createTempDirectory("snap_locks").toString
    Snapshots.publishArbiter = new Snapshots.CoordinatedPublishArbiter(lockDir, conf)
    try {
      Snapshots.writeManifest(s3ish, root, "t", 2L, Manifest(files = Seq("winner")))
      val lost = intercept[java.util.ConcurrentModificationException] {
        Snapshots.writeManifest(s3ish, root, "t", 2L, Manifest(files = Seq("loser")))
      }
      assert(lost.getMessage.contains("committed concurrently"))
      assert(Snapshots.liveFiles(spark, root, "t", 2L) === Seq("winner"))
    } finally Snapshots.publishArbiter = Snapshots.DefaultPublishArbiter
  }

  test("vacuum's default grace shields young unreferenced files (writer-vs-vacuum race)") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    Snapshots.replace(Seq((2L, 2021)).toDF("id", "year"), root, "t")
    // v1's files are unreferenced by the kept version but SECONDS old —
    // indistinguishable from a concurrent commit's just-staged files, so
    // the default grace must keep them
    val kept = Snapshots.vacuum(spark, root, "t", keepVersions = 1)
    assert(kept.isEmpty, s"young files must survive the default grace: $kept")
    assert(Snapshots.readVersion(spark, root, "t", 2L).count() === 1L)
    // explicit zero grace reclaims them (single-writer maintenance)
    val reclaimed = Snapshots.vacuum(spark, root, "t", keepVersions = 1,
      graceMillis = 0L)
    assert(reclaimed.nonEmpty)
    assert(Snapshots.readVersion(spark, root, "t", 2L).count() === 1L)
  }

  test("vacuum reclaims crashed writers' hidden staging dirs past the " +
      "grace window; fresh ones (in-flight writers) survive") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    // simulate a crashed batch commit, delete, and stream epoch: staged
    // files that never reached a manifest
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def stageDir(name: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$root/t/$name")
      f.mkdirs(p)
      val out = f.create(new org.apache.hadoop.fs.Path(p, "part-orphan.parquet"))
      out.write(Array[Byte](1, 2, 3)); out.close()
      p
    }
    val dirs = Seq(stageDir(".stage-dead1"), stageDir(".delstage-dead2"),
      stageDir(".streamstage-deadq/7"))
    // readers never see them (hidden-segment filtering) …
    assert(Snapshots.readVersion(spark, root, "t", 1L).count() === 1L)
    // … the default grace keeps them (indistinguishable from in-flight) …
    assert(Snapshots.vacuum(spark, root, "t", keepVersions = 1).isEmpty)
    dirs.foreach(p => assert(f.exists(p), s"$p must survive default grace"))
    // … and zero grace reclaims them, reported under .staging/
    val reclaimed = Snapshots.vacuum(spark, root, "t", keepVersions = 1,
      graceMillis = 0L)
    assert(reclaimed.count(_.startsWith(".staging/")) === 3, reclaimed)
    dirs.foreach(p => assert(!f.exists(p), s"$p must be reclaimed"))
    assert(Snapshots.readVersion(spark, root, "t", 1L).count() === 1L)
  }

  test("history: one row per live version with operation, counts and added-file attribution") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("id", "v", "year"),
      root, "t", Seq("year"))
    Snapshots.append(Seq((3L, "c", 2021)).toDF("id", "v", "year"),
      root, "t", Seq("year"))
    Snapshots.deleteWhere(spark, root, "t", $"id" === 1L)
    Snapshots.compact(spark, root, "t", Seq("year"), numFiles = 2,
      clusterCols = Seq("id"))
    val h = Snapshots.history(spark, root, "t")
      .orderBy("version")
      .select("version", "operation", "n_files", "n_delete_vectors", "n_added_files")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(h.map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(h.map(_._2) === Seq("commit", "append", "delete", "compact"))
    assert(h.map(_._4) === Seq(0L, 0L, 1L, 0L), "only v3 carries a vector")
    val (nFilesV2, addedV2) = (h(1)._3, h(1)._5)
    assert(addedV2 === nFilesV2 - h.head._3, "append adds, carries the rest")
    assert(h(2)._5 === 0L, "a metadata-only delete adds no files")
    assert(h(3)._5 === h(3)._3, "compact rewrites everything it lists")
    // commit times are monotone and portable (manifest-carried)
    val ts = Snapshots.history(spark, root, "t").orderBy("version")
      .select("committed_at_millis").as[Long].collect()
    assert(ts.sorted.sameElements(ts) && ts.forall(_ > 0L))
  }
}
