package graft.sql

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan

class GraftCatalogSpec extends SparkTestBase {
  import spark.implicits._

  private def freshLake(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val bars = (0 until 400).map { i =>
      (9000L + i % 2, java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1)
        .plusDays(i / 2)), i.toLong, 2023 + (i / 2) / 365)
    }.toDF("security_id", "date", "close_cents", "year")
    graft.lake.Lake.overwritePartitions(bars, root, "daily_ticks",
      Seq("security_id", "year"))
    root
  }

  test("catalog identifiers resolve to lake tables; SQL reads match direct scans") {
    val root = freshLake()
    GraftCatalog.install(spark, "graftt", root)
    val viaSql = spark.sql("SELECT count(*) AS n FROM graftt.daily_ticks")
      .as[Long].head()
    val direct = spark.read.parquet(s"$root/daily_ticks").count()
    assert(viaSql === direct && direct === 400L)
    // SHOW TABLES walks the root listing
    val listed = spark.sql("SHOW TABLES IN graftt").select("tableName")
      .as[String].collect().toSet
    assert(listed === Set("daily_ticks"))
  }

  test("static partition filters prune the V2 scan to the matching directories") {
    val root = freshLake()
    GraftCatalog.install(spark, "graftt", root)
    val df = spark.sql(
      "SELECT close_cents FROM graftt.daily_ticks WHERE year = 2023 AND security_id = 9000")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val pScan = scans.head.asInstanceOf[ParquetScan]
    assert(pScan.partitionFilters.nonEmpty,
      "year/security_id predicates must reach the scan as partition filters")
    // the pruned file set (listing under the scan's own partition filters)
    // lives entirely under the one (sid, year) branch
    val files = pScan.fileIndex
      .listFiles(pScan.partitionFilters, pScan.dataFilters)
      .flatMap(_.files).map(_.getPath.toString)
    assert(files.nonEmpty && files.forall(f =>
      f.contains("security_id=9000") && f.contains("year=2023")), files.mkString("\n"))
    assert(files.size < pScan.fileIndex.inputFiles.length,
      "pruning must drop the other sid/year directories")
    assert(df.count() === spark.read.parquet(s"$root/daily_ticks")
      .filter($"year" === 2023 && $"security_id" === 9000).count())
  }

  test("root is re-pointable without a new session (catalog instances are cached)") {
    val root1 = freshLake()
    val root2 = java.nio.file.Files.createTempDirectory("graft_cat2").toString
    graft.lake.Lake.overwritePartitions(
      Seq((1L, 7L)).toDF("security_id", "close_cents"), root2, "daily_ticks", Seq.empty)
    GraftCatalog.install(spark, "graftt", root1)
    assert(spark.sql("SELECT count(*) AS n FROM graftt.daily_ticks").as[Long].head() === 400L)
    GraftCatalog.install(spark, "graftt", root2) // same name, new root
    assert(spark.sql("SELECT count(*) AS n FROM graftt.daily_ticks").as[Long].head() === 1L)
  }

  test("dynamic partition pruning fires on catalog joins (stock V2 file scans can't)") {
    // 40 sid partitions × 100 days; a 1-sid dimension filter must prune
    // the fact scan at RUNTIME. Stock Spark V2 file scans don't implement
    // SupportsRuntimeFiltering, so this exact plan on a forced-V2 path
    // read scans all 40 partitions — DppParquetScan restores the
    // capability the V1 path has always had.
    val root = java.nio.file.Files.createTempDirectory("graft_cat_dpp").toString
    val bars = (0 until 4000).map { i =>
      (9000L + i % 40, java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1)
        .plusDays(i / 40)), i.toLong, 2023)
    }.toDF("security_id", "date", "close_cents", "year")
    graft.lake.Lake.overwritePartitions(bars, root, "daily_ticks",
      Seq("security_id", "year"))
    graft.lake.Lake.overwritePartitions(
      Seq(("SYMR", 9003L), ("OTHR", 9004L)).toDF("symbol", "security_id"),
      root, "master", Seq.empty)
    GraftCatalog.install(spark, "graftt", root)
    val df = spark.sql("""
      SELECT t.close_cents FROM graftt.daily_ticks t
      JOIN graftt.master m ON t.security_id = m.security_id
      WHERE m.symbol = 'SYMR'""")
    // the optimizer inserted the DPP subquery against the V2 scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
    assert(df.count() === 100)

    // END-TO-END: after execution the fact scan must have READ only the
    // matching sid's 100 rows, not the 4000-row table — this exercises
    // the V2 filter(Predicate[]) path including the cast the
    // bigint-vs-int32 key mismatch wraps around the column
    df.collect()
    def execs(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        execs(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => execs(q.plan)
      case other => other +: other.children.flatMap(execs)
    }
    val factScanRows = execs(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[DppParquetScan] &&
            b.scan.readSchema().fieldNames.contains("close_cents") =>
        b.metrics("numOutputRows").value
    }
    assert(factScanRows.nonEmpty && factScanRows.head === 100L,
      s"runtime DPP must read only the matching sid's rows, read $factScanRows")

    // the runtime half: BatchScanExec pushes the subquery values via
    // filter(); the re-listed partitions must shrink to the one sid.
    // Values arrive typed as the JOIN key (bigint) while the partition
    // directory inferred int32 — the mismatched case the cast handles.
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.connector.read.Scan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b.scan)
      case other => other.children.flatMap(scans)
    }
    // a FRESH plan's scan (the executed one above is already pruned)
    val df2 = spark.sql(
      "SELECT close_cents FROM graftt.daily_ticks WHERE year = 2023")
    val scan = scans(df2.queryExecution.executedPlan)
      .collectFirst { case s: DppParquetScan => s }.get
    val all = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("security_id",
        Array(java.lang.Long.valueOf(9003L)))))
    val pruned = scan.planInputPartitions().length
    assert(pruned < all && pruned > 0,
      s"runtime filter must shrink the listing: $all -> $pruned")
  }

  test("Snapshots tables resolve through manifests: latest by default, VERSION AS OF for history") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_snap").toString
    import graft.lake.Snapshots
    Snapshots.commit(Seq((1L, "a", 2020), (2L, "b", 2020)).toDF("id", "v", "year"),
      root, "dim", Seq("year"))
    Snapshots.commit(Seq((9L, "z", 2020)).toDF("id", "v", "year"),
      root, "dim", Seq("year")) // dynamic overwrite of year=2020
    GraftCatalog.install(spark, "graftt", root)
    // plain read = LATEST version via its manifest — never the raw dir,
    // which still holds v1's superseded files
    assert(spark.sql("SELECT id FROM graftt.dim").as[Long].collect().toSet === Set(9L))
    // time travel
    assert(spark.sql("SELECT id FROM graftt.dim VERSION AS OF 1")
      .as[Long].collect().toSet === Set(1L, 2L))
    assert(spark.sql("SELECT id FROM graftt.dim VERSION AS OF 2")
      .as[Long].collect().toSet === Set(9L))
    // parity with the Scala API
    assert(spark.sql("SELECT * FROM graftt.dim VERSION AS OF 1").collect().toSet ===
      Snapshots.readVersion(spark, root, "dim", 1L).collect().toSet)
    // a plain Lake table has no manifest history
    graft.lake.Lake.overwritePartitions(Seq((1L, 7L)).toDF("id", "x"),
      root, "flat", Seq.empty)
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graftt.flat VERSION AS OF 1").collect()
    }
    assert(ex.getMessage.contains("Snapshots-versioned") ||
      Option(ex.getCause).exists(_.getMessage.contains("Snapshots-versioned")), ex.toString)

    // wall-clock time travel: an instant between the publishes sees v1
    // (manifest mtime is ms-granular on the local FS — pad both sides)
    Thread.sleep(30)
    val mid = java.time.Instant.now()
    Thread.sleep(30)
    Snapshots.commit(Seq((7L, "q", 2020)).toDF("id", "v", "year"),
      root, "dim", Seq("year")) // v3
    val midStr = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(mid)
    assert(spark.sql(s"SELECT id FROM graftt.dim TIMESTAMP AS OF '$midStr'")
      .as[Long].collect().toSet === Set(9L)) // v2's content, not v3's
    assert(spark.sql("SELECT id FROM graftt.dim").as[Long].collect().toSet === Set(7L))
    // an instant before ANY publish: no version to resolve
    val early = intercept[Exception] {
      spark.sql("SELECT id FROM graftt.dim TIMESTAMP AS OF '1999-01-01 00:00:00'")
        .collect()
    }
    assert(early.getMessage.toLowerCase.contains("table") ||
      early.getMessage.contains("dim"), early.toString)
  }

  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[DppParquetScan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scansOf(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
    case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
      b.scan match { case s: DppParquetScan => Seq(s); case _ => Seq.empty }
    case other => other.children.flatMap(scansOf)
  }

  private def openedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    scansOf(df.queryExecution.executedPlan).head.planInputPartitions()
      .collect { case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toPath.toString).toSeq }
      .flatten.toSet

  test("SQL range reads over a versioned table skip files on the stats sidecar") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_skip").toString
    import graft.lake.Snapshots
    // v1: 8 range-clustered files WITH id stats; v2: append 8 more without
    // statsCols (carry-forward + conservative); v3: compact to fresh stats
    Snapshots.commit((0L until 800L).map(i => (i, i % 7)).toDF("id", "grp")
      .repartitionByRange(8, $"id"), root, "t", Seq.empty, statsCols = Seq("id"))
    Snapshots.commit((10000L until 10800L).map(i => (i, i % 7)).toDF("id", "grp")
      .repartitionByRange(8, $"id"), root, "t", Seq.empty)
    Snapshots.compact(spark, root, "t", Seq.empty, numFiles = 8,
      clusterCols = Seq("id"), statsCols = Seq("id"))
    GraftCatalog.install(spark, "graftt", root)

    for (v <- Seq(1L, 2L, 3L)) {
      val df = spark.sql(
        s"SELECT id, grp FROM graftt.t VERSION AS OF $v WHERE id BETWEEN 100 AND 250")
      df.collect()
      val opened = openedFiles(df)
      // the SQL scan must open EXACTLY the candidate set the Scala API's
      // pruned read computes from the same sidecar
      val cand = Snapshots.candidateFiles(spark, root, "t", v, "id",
        lit(100L), lit(250L)).map(p => s"$root/t/data/$p").toSet
      assert(opened.map(_.stripPrefix("file:")) ===
        cand.map(_.stripPrefix("file:")),
        s"v$v: opened ${opened.size}, candidates ${cand.size}")
      assert(opened.size < Snapshots.liveFiles(spark, root, "t", v).size,
        s"v$v: the range predicate must actually skip files")
      // result identical to the full filtered read
      assert(df.collect().map(_.getLong(0)).toSet ===
        Snapshots.readVersion(spark, root, "t", v)
          .filter($"id".between(100L, 250L)).collect().map(_.getLong(0)).toSet)
    }

    // conservative fallback 1: a predicate on a NON-stats column opens all
    val noStats = spark.sql(
      "SELECT id FROM graftt.t VERSION AS OF 3 WHERE grp = 3")
    noStats.collect()
    assert(openedFiles(noStats).size ===
      Snapshots.liveFiles(spark, root, "t", 3L).size,
      "grp carries no stats — nothing may be skipped")
    assert(noStats.count() ===
      Snapshots.readVersion(spark, root, "t", 3L).filter($"grp" === 3).count())
  }

  test("a partition column whose name Hive escapes on disk keeps its layout " +
      "through SQL reads and INSERT INTO") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_esc").toString
    import graft.lake.Snapshots
    // `d:p` is spelled `d%3Ap=<v>` in file paths: the partition columns
    // come from the manifest's layout, not from splitting a file path
    Snapshots.commit(Seq((1L, 1), (2L, 2)).toDF("id", "d:p"), root, "t",
      Seq("d:p"))
    assert(Snapshots.liveFiles(spark, root, "t", 1L)
      .forall(_.startsWith("d%3Ap=")))
    GraftCatalog.install(spark, "graftesc", root)
    // integer partition columns resolve as BIGINT (DPP-friendly keys)
    assert(spark.table("graftesc.t").schema("d:p").dataType ===
      org.apache.spark.sql.types.LongType)
    spark.sql("INSERT INTO graftesc.t VALUES (3, 3)")
    assert(Snapshots.manifest(spark, root, "t", 2L).partitionCols === Seq("d:p"))
    assert(spark.table("graftesc.t").select("id").as[Long].collect().sorted
      .toSeq === Seq(1L, 2L, 3L))
  }

  test("versioned tables without a sidecar read every live file (conservative)") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_noskip").toString
    import graft.lake.Snapshots
    Snapshots.commit((0L until 400L).toDF("id").repartitionByRange(4, $"id"),
      root, "t", Seq.empty) // no statsCols → no sidecar at all
    GraftCatalog.install(spark, "graftt", root)
    val df = spark.sql("SELECT id FROM graftt.t WHERE id BETWEEN 10 AND 20")
    df.collect()
    assert(openedFiles(df).size === 4, "no sidecar → no skipping")
    assert(df.as[Long].collect().toSet === (10L to 20L).toSet)
  }

  test("repeated SQL over the same version plans from the table cache (no re-inference)") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_cache").toString
    import graft.lake.Snapshots
    Snapshots.commit((0L until 100L).toDF("id").repartitionByRange(4, $"id"),
      root, "t", Seq.empty, statsCols = Seq("id"))
    GraftCatalog.install(spark, "graftt", root)
    val q = "SELECT sum(id) AS s FROM graftt.t WHERE id < 50"
    val first = spark.sql(q).as[Long].head()
    val builds = GraftCatalog.versionedBuilds.get()
    val second = spark.sql(q).as[Long].head()
    assert(GraftCatalog.versionedBuilds.get() === builds,
      "the second identical query must hit the per-version table cache")
    assert(first === second && first === (0L until 50L).sum)
    // a NEW commit is visible immediately (latest lookup stays live)
    Snapshots.commit((100L until 110L).toDF("id"), root, "t", Seq.empty)
    assert(spark.sql("SELECT count(*) AS n FROM graftt.t").as[Long].head() === 110L)
  }

  test("SQL reads follow the version's committed schema across evolution") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_evo").toString
    import graft.lake.Snapshots
    Snapshots.commit(Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("id", "v", "year"),
      root, "t", Seq("year"))
    Snapshots.commit(Seq((3L, "c", 9L, 2022)).toDF("id", "v", "extra", "year"),
      root, "t", Seq("year"))
    GraftCatalog.install(spark, "graftt", root)
    // latest: merged schema; pre-`extra` rows read null
    val latest = spark.sql("SELECT id, extra FROM graftt.t")
    assert(latest.schema("extra").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(latest.as[(Long, Option[Long])].collect().toSet ===
      Set((1L, None), (2L, None), (3L, Some(9L))))
    // time travel: v1 exposes ONLY its own columns — `extra` must not
    // leak backwards into history
    assert(spark.sql("SELECT * FROM graftt.t VERSION AS OF 1").columns.toSeq ===
      Seq("id", "v", "year"))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT extra FROM graftt.t VERSION AS OF 1").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("extra"), ex.getMessage)
    // SQL INSERT against the evolved schema keeps the contract: the
    // column set is the merged one, and a type-matched append lands
    spark.sql("INSERT INTO graftt.t SELECT 4L AS id, 'd' AS v, " +
      "11L AS extra, 2023L AS year")
    assert(spark.sql("SELECT sum(extra) AS s FROM graftt.t").as[Long].head() === 20L)
  }

  test("concurrent commits cannot silently lose an update (manifest put-if-absent)") {
    // the race: two writers read latest = 1, both publish v2. The commit
    // protocol's atomic point is writeManifest's publishArbiter.putIfAbsent
    // (link(2) on the local FS) — exactly one publish succeeds, the loser
    // gets a retryable CME (a replacing publish would silently drop the
    // winner's files)
    val root = java.nio.file.Files.createTempDirectory("graft_cat_occ").toString
    import graft.lake.{Manifest, Snapshots}
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t", Seq("year"))
    val f = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    Snapshots.writeManifest(f, root, "t", 2L, Manifest(files = Seq("a.parquet"))) // winner
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.writeManifest(f, root, "t", 2L, Manifest(files = Seq("b.parquet"))) // loser
    }
    // a fresh read still sees the winner's list
    assert(Snapshots.latestVersion(spark, root, "t").contains(2L))
  }

  test("INSERT INTO a versioned table routes through the snapshot commit protocol") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_ins").toString
    import graft.lake.Snapshots
    Snapshots.commit((0L until 100L).map(i => (i, i % 4)).toDF("id", "pb")
      .repartitionByRange(4, $"id"), root, "t", Seq("pb"), statsCols = Seq("id"))
    GraftCatalog.install(spark, "graftt", root)

    spark.sql("INSERT INTO graftt.t SELECT id, id % 4 AS pb FROM range(1000, 1100)")

    // the INSERT became version 2 with a put-if-absent manifest; v1 is intact
    assert(Snapshots.latestVersion(spark, root, "t") === Some(2L))
    assert(spark.sql("SELECT count(*) AS n FROM graftt.t VERSION AS OF 1")
      .as[Long].head() === 100L)
    assert(spark.sql("SELECT count(*) AS n FROM graftt.t").as[Long].head() === 200L)
    assert(spark.sql("SELECT sum(id) AS s FROM graftt.t").as[Long].head() ===
      (0L until 100L).sum + (1000L until 1100L).sum)
    // partition clustering applied: the new files live under pb=<v> dirs
    val v2files = Snapshots.liveFiles(spark, root, "t", 2L)
    assert(v2files.forall(_.matches("pb=\\d+/.*\\.parquet")), v2files)
    // stats continuity: the previous sidecar tracked id, so the SQL append
    // derived fresh id stats and a range read still skips files on v2
    val cand = Snapshots.candidateFiles(spark, root, "t", 2L, "id",
      lit(1000L), lit(1040L))
    assert(cand.size < v2files.size,
      s"v2 must keep skipping after a SQL insert: $cand of ${v2files.size}")
    // the inserted rows themselves are found by a pruned read
    assert(Snapshots.readVersionPruned(spark, root, "t", 2L, "id",
      lit(1000L), lit(1040L)).count() === 41L)

    // INSERT OVERWRITE routes through the protocol since round 15 (its
    // own verbs are pinned in the dedicated test below); here: it must
    // still be a VERSION, never a directory wipe
    spark.sql("INSERT OVERWRITE graftt.t SELECT id, id % 4 AS pb FROM range(5)")
    assert(spark.sql("SELECT count(*) FROM graftt.t").as[Long].head() === 5L)
    assert(Snapshots.readVersion(spark, root, "t", 2L).count() > 5L,
      "the pre-overwrite version must stay readable")
    // a plain (non-versioned) table still refuses INSERT
    graft.lake.Lake.overwritePartitions(Seq((1L, 7L)).toDF("id", "x"),
      root, "flat", Seq.empty)
    val ins = intercept[Exception] {
      spark.sql("INSERT INTO graftt.flat VALUES (2, 8)")
    }
    assert(ins.getMessage.contains("read-only") ||
      Option(ins.getCause).exists(_.getMessage.contains("read-only")), ins.toString)
  }

  test("stats-sidecar continuity survives a SQL truncate: the reborn table keeps skipping") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_trunc").toString
    import graft.lake.Snapshots
    Snapshots.commit((0L until 100L).map(i => (i, i % 4)).toDF("id", "pb")
      .repartitionByRange(4, $"id"), root, "t", Seq("pb"), statsCols = Seq("id"))
    GraftCatalog.install(spark, "grafttc", root)
    // SQL truncate → zero-file v2 whose sidecar still records min_/max_ id
    spark.sql("DELETE FROM grafttc.t")
    assert(spark.sql("SELECT count(*) FROM grafttc.t").as[Long].head() === 0L)
    // the first INSERT after the truncate must re-derive id stats (the
    // write shape reads statsCols from the empty version's sidecar, not
    // from live files); pb tracks the id range so files carry DISJOINT
    // id boxes and the range probe can actually skip
    spark.sql("INSERT INTO grafttc.t SELECT id, id DIV 100 AS pb FROM range(0, 400)")
    val v3files = Snapshots.liveFiles(spark, root, "t", 3L)
    val cand = Snapshots.candidateFiles(spark, root, "t", 3L, "id",
      lit(0L), lit(10L))
    assert(cand.size < v3files.size,
      s"skipping must survive the truncate: $cand of ${v3files.size}")
  }

  test("CREATE TABLE provisions an empty versioned table; INSERT, MERGE, " +
      "SHOW TABLES, DROP and re-CREATE complete the lifecycle") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_ddl").toString
    import graft.lake.Snapshots
    GraftCatalog.install(spark, "graftddl", root)
    spark.sql("""CREATE TABLE graftddl.t (id BIGINT, v STRING, pb BIGINT)
                 PARTITIONED BY (pb)""")
    // v1 = a zero-file manifest carrying schema + identity layout
    assert(Snapshots.latestVersion(spark, root, "t") === Some(1L))
    assert(Snapshots.manifest(spark, root, "t", 1L).partitionCols === Seq("pb"))
    assert(spark.sql("SELECT * FROM graftddl.t").count() === 0L)
    assert(spark.table("graftddl.t").schema.fieldNames.toSeq ===
      Seq("id", "v", "pb"))
    // first INSERT derives its write shape from the empty manifest
    spark.sql("""INSERT INTO graftddl.t
                 SELECT id, concat('v', id) AS v, id % 4 AS pb FROM range(0, 40)""")
    assert(spark.sql("SELECT count(*) FROM graftddl.t").as[Long].head() === 40L)
    val v2files = Snapshots.liveFiles(spark, root, "t", 2L)
    assert(v2files.forall(_.startsWith("pb=")), v2files)
    // MERGE works against the created table
    Seq((1L, "UPD", 1L), (100L, "INS", 0L)).toDF("id", "v", "pb")
      .createOrReplaceTempView("ddl_src")
    spark.sql("""MERGE INTO graftddl.t AS tgt USING ddl_src AS s ON tgt.id = s.id
                 WHEN MATCHED THEN UPDATE SET v = s.v
                 WHEN NOT MATCHED THEN INSERT *""")
    val out = spark.sql("SELECT id, v FROM graftddl.t")
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "UPD" && out(100L) === "INS" && out.size === 41)
    // SHOW TABLES lists it; a duplicate CREATE refuses; IF NOT EXISTS no-ops
    assert(spark.sql("SHOW TABLES IN graftddl").collect()
      .map(_.getString(1)).contains("t"))
    intercept[Exception] { spark.sql("CREATE TABLE graftddl.t (x BIGINT)") }
    spark.sql("CREATE TABLE IF NOT EXISTS graftddl.t (x BIGINT)")
    assert(spark.table("graftddl.t").schema.fieldNames.length === 3)
    // non-identity partitioning refuses loudly
    val bucket = intercept[Exception] {
      spark.sql("""CREATE TABLE graftddl.b (id BIGINT)
                   PARTITIONED BY (bucket(4, id))""")
    }
    assert(bucket.getMessage.contains("identity"), bucket.getMessage)
    // DROP deletes manifests + data and evicts the version cache: a
    // re-created table at the same name serves the NEW schema, not a
    // cached v1 of the dropped one
    spark.sql("DROP TABLE graftddl.t")
    assert(!spark.sql("SHOW TABLES IN graftddl").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("CREATE TABLE graftddl.t (x BIGINT)")
    assert(spark.table("graftddl.t").schema.fieldNames.toSeq === Seq("x"))
    assert(spark.sql("SELECT * FROM graftddl.t").count() === 0L)
    // CREATE OR REPLACE composes drop + create (both implemented)
    spark.sql("CREATE OR REPLACE TABLE graftddl.t (y STRING)")
    assert(spark.table("graftddl.t").schema.fieldNames.toSeq === Seq("y"))
    // ... and the RTAS spelling
    spark.sql("CREATE OR REPLACE TABLE graftddl.t AS SELECT id FROM range(6)")
    assert(spark.sql("SELECT count(*) FROM graftddl.t").as[Long].head() === 6L)
    // TRUNCATE TABLE = the zero-file manifest verb (schema + layout
    // survive; prior versions readable; re-insert works)
    spark.sql("TRUNCATE TABLE graftddl.t")
    assert(spark.sql("SELECT count(*) FROM graftddl.t").as[Long].head() === 0L)
    spark.sql("INSERT INTO graftddl.t SELECT id FROM range(2)")
    assert(spark.sql("SELECT count(*) FROM graftddl.t").as[Long].head() === 2L)
  }

  test("CTAS lands as a protocol append onto the created table") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_ctas").toString
    import graft.lake.Snapshots
    GraftCatalog.install(spark, "graftcts", root)
    spark.sql("""CREATE TABLE graftcts.c PARTITIONED BY (pb)
                 AS SELECT id, CAST(id % 120 AS BIGINT) AS cents,
                           id % 4 AS pb FROM range(0, 200)""")
    // v1 = the empty provision, v2 = the CTAS data as a protocol append
    assert(Snapshots.latestVersion(spark, root, "c") === Some(2L))
    assert(spark.sql("SELECT count(*) FROM graftcts.c").as[Long].head() === 200L)
    assert(spark.sql("SELECT sum(cents) FROM graftcts.c").as[Long].head() ===
      (0L until 200L).map(_ % 120).sum)
    // partition clustering applied (the protocol write, not a raw dump)
    val files = Snapshots.liveFiles(spark, root, "c", 2L)
    assert(files.nonEmpty && files.forall(_.startsWith("pb=")), files)
    // the created table keeps evolving through the protocol
    spark.sql("INSERT INTO graftcts.c SELECT id, id AS cents, 9 AS pb FROM range(5)")
    assert(spark.sql("SELECT count(*) FROM graftcts.c").as[Long].head() === 205L)
  }

  test("versioned tables plan from the manifest: exact stats, zero listing, pre-AQE broadcast") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_stats").toString
    import graft.lake.Snapshots
    // pb tracks the id range (id/50), so the per-partition files carry
    // DISJOINT id ranges — a range filter can prove files irrelevant
    Snapshots.commit((0L until 200L).map(i => (i, i / 50)).toDF("id", "pb")
      .repartitionByRange(4, $"id"), root, "t", Seq("pb"), statsCols = Seq("id"))
    GraftCatalog.install(spark, "grafts", root)

    // exact planner statistics from the sidecar: row count precise, size =
    // the live files' true byte lengths (never a listing-based guess)
    val stats = spark.sql("SELECT * FROM grafts.t")
      .queryExecution.optimizedPlan.stats
    assert(stats.rowCount === Some(BigInt(200)), stats)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val diskBytes = Snapshots.liveFiles(spark, root, "t", 1L).map(p =>
      f.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/t/data/$p")).getLen).sum
    assert(stats.sizeInBytes === BigInt(diskBytes), s"$stats vs $diskBytes")
    // a pushed range filter shrinks the SCAN's estimate to the candidate
    // files (asserted on the scan relation — the residual Filter node
    // above it reports size-only pass-through stats)
    val prunedScan = spark.sql("SELECT * FROM grafts.t WHERE id BETWEEN 0 AND 10")
      .queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => s
      }.head.stats
    assert(prunedScan.sizeInBytes < stats.sizeInBytes &&
      prunedScan.rowCount.get < 200, s"$prunedScan vs $stats")

    // exact stats make the dimension side broadcast-eligible BEFORE AQE
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = spark.range(100000).toDF("id")
        .join(spark.sql("SELECT id, pb FROM grafts.t"), "id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // ZERO data-file listing at plan time: physically remove a live file —
    // a listing-built index would fail on construction; the manifest-built
    // one must still resolve, plan, and split (by sidecar lengths alone).
    // (Executing the scan would of course fail — that is I/O, not planning.)
    val victim = Snapshots.liveFiles(spark, root, "t", 1L).head
    f.rename(new org.apache.hadoop.fs.Path(s"$root/t/data/$victim"),
      new org.apache.hadoop.fs.Path(s"$root/t/data_parked"))
    try {
      // fresh session-cache scope: a NEW version resolution must build its
      // index without touching the filesystem
      val fresh = spark.newSession()
      GraftCatalog.install(fresh, "grafts2", root)
      val parts = fresh.sql("SELECT id FROM grafts2.t VERSION AS OF 1")
        .rdd.getNumPartitions
      assert(parts > 0)
    } finally f.rename(new org.apache.hadoop.fs.Path(s"$root/t/data_parked"),
      new org.apache.hadoop.fs.Path(s"$root/t/data/$victim"))
  }

  test("SQL DELETE is a merge-on-read snapshot commit; SQL reads apply the vectors") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_del").toString
    import graft.lake.Snapshots
    Snapshots.commit((0L until 100L).map(i => (i, i % 4)).toDF("id", "pb")
      .repartitionByRange(4, $"id"), root, "t", Seq("pb"), statsCols = Seq("id"))
    GraftCatalog.install(spark, "graftd", root)

    spark.sql("DELETE FROM graftd.t WHERE id >= 90 OR id IN (7, 13)")

    // a new version, same data files: the delete is a manifest vector
    assert(Snapshots.latestVersion(spark, root, "t") === Some(2L))
    assert(Snapshots.liveFiles(spark, root, "t", 2L).toSet ===
      Snapshots.liveFiles(spark, root, "t", 1L).toSet)
    val survivors = (0L until 100L).filterNot(i => i >= 90 || i == 7 || i == 13)
    // SQL read of the delete-bearing version applies the vector in-reader
    assert(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graftd.t")
      .as[(Long, Long)].head() === ((survivors.size.toLong, survivors.sum)))
    // ...exactly like the Scala read
    assert(Snapshots.readVersion(spark, root, "t", 2L).count() ===
      survivors.size.toLong)
    // the pre-delete version still reads the full set
    assert(spark.sql("SELECT count(*) AS n FROM graftd.t VERSION AS OF 1")
      .as[Long].head() === 100L)
    // a WHERE on the scan composes with the MOR filter (and sidecar skip)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftd.t WHERE id BETWEEN 80 AND 99")
      .as[Long].head() === 10L)

    // re-insert a deleted key THROUGH SQL: the addedAt sequence rule must
    // exempt the new file from the older vector
    spark.sql("INSERT INTO graftd.t SELECT 7 AS id, 3 AS pb")
    assert(spark.sql("SELECT count(*) AS n FROM graftd.t WHERE id = 7")
      .as[Long].head() === 1L)

    // MOR read ≡ post-compact read
    val before = spark.sql("SELECT sum(id) AS s, count(*) AS n FROM graftd.t")
      .as[(Long, Long)].head()
    Snapshots.compact(spark, root, "t", Seq("pb"), numFiles = 4,
      clusterCols = Seq("id"), statsCols = Seq("id"))
    assert(spark.sql("SELECT sum(id) AS s, count(*) AS n FROM graftd.t")
      .as[(Long, Long)].head() === before)

    // predicates the V2 filter language can't express (modulo, function
    // calls) route through the evaluated path (SnapshotDeleteCommand →
    // deleteWhere) when the extensions are installed — round 16
    val preMod = spark.sql("SELECT count(*) FROM graftd.t").as[Long].head()
    val modMatches = spark.sql("SELECT count(*) FROM graftd.t WHERE id % 5 = 0")
      .as[Long].head()
    spark.sql("DELETE FROM graftd.t WHERE id % 5 = 0")
    assert(spark.sql("SELECT count(*) FROM graftd.t").as[Long].head() ===
      preMod - modMatches)
    // uncorrelated subqueries in the DELETE predicate inline at run time
    val preSub = spark.sql("SELECT count(*) FROM graftd.t").as[Long].head()
    spark.sql("""DELETE FROM graftd.t
                 WHERE id IN (SELECT id FROM graftd.t WHERE id >= 80)""")
    assert(spark.sql("SELECT count(*) FROM graftd.t WHERE id >= 80")
      .as[Long].head() === 0L)
    assert(spark.sql("SELECT count(*) FROM graftd.t").as[Long].head() < preSub)
    // a no-match evaluated DELETE publishes nothing
    val pre = Snapshots.latestVersion(spark, root, "t")
    spark.sql("DELETE FROM graftd.t WHERE id % 5 = 2 AND id < 0")
    assert(Snapshots.latestVersion(spark, root, "t") === pre)
    // correlated subqueries refuse with the MERGE spelling
    val corr = intercept[Exception] {
      spark.sql("""DELETE FROM graftd.t AS o
                   WHERE id < (SELECT max(i.id) FROM graftd.t AS i
                               WHERE i.pb = o.pb) - 1000""")
    }
    assert(corr.getMessage.contains("CORRELATED"), corr.getMessage)
    // UPDATE routes through SnapshotUpdateRule since round 15 (its own
    // surface is pinned in SnapshotUpdateSpec; here: catalog wiring only)
    spark.sql("UPDATE graftd.t SET pb = 0 WHERE id = 1")
    assert(spark.sql("SELECT pb FROM graftd.t WHERE id = 1")
      .as[Long].head() === 0L)
    // unconditioned DELETE truncates via the protocol; schema survives
    spark.sql("DELETE FROM graftd.t")
    val empty = Snapshots.readVersion(spark, root, "t",
      Snapshots.latestVersion(spark, root, "t").get)
    assert(empty.count() === 0L && empty.columns.toSeq === Seq("id", "pb"))
  }

  test("scans of different versions never unify under plan reuse: a UNION " +
      "over two vector-only-delete versions keeps distinct results") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_reuse").toString
    import graft.lake.Snapshots
    Snapshots.commit((0L until 100L).map(i => (i, i % 4)).toDF("id", "pb"),
      root, "t", Seq("pb"), statsCols = Seq("id"))
    GraftCatalog.install(spark, "graftru", root)
    // v2 and v3 differ ONLY in merge-on-read vectors — identical file
    // lists, schema, and scan options. ParquetScan's own equality calls
    // such scans equal; without DppParquetScan's version-aware equals,
    // AQE exchange reuse served v2's rows for v3 (caught by q232).
    spark.sql("DELETE FROM graftru.t WHERE id % 2 = 0") // v2: 50 rows live
    spark.sql("DELETE FROM graftru.t WHERE id % 3 = 0") // v3: 33 rows live
    val legs = spark.sql("""
      SELECT CAST(2 AS BIGINT) AS leg, count(*) AS n
      FROM graftru.t VERSION AS OF 2
      UNION ALL
      SELECT CAST(3 AS BIGINT), count(*) FROM graftru.t""")
      .as[(Long, Long)].collect().toMap
    assert(legs === Map(2L -> 50L, 3L -> 33L), legs)
  }

  test("INSERT OVERWRITE maps onto the protocol: dynamic, truncate, static spec") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_iow").toString
    import graft.lake.Snapshots
    Snapshots.commit((0L until 40L).map(i => (i, i % 4)).toDF("id", "p")
      .repartitionByRange(2, $"id"), root, "t", Seq("p"))
    GraftCatalog.install(spark, "graftw", root)

    // static mode (default) + full overwrite: the frame IS the new version
    spark.sql("INSERT OVERWRITE graftw.t SELECT id, id % 4 AS p FROM range(100, 104)")
    assert(spark.sql("SELECT count(*) FROM graftw.t").as[Long].head() === 4L)
    // prior version untouched (snapshot protocol, not a directory wipe)
    assert(Snapshots.readVersion(spark, root, "t", 1L).count() === 40L)

    // static PARTITION (p=1) spec: only that partition is replaced
    spark.sql("INSERT OVERWRITE graftw.t PARTITION (p = 1) SELECT 500 AS id")
    val afterStatic = spark.sql("SELECT id, p FROM graftw.t")
      .as[(Long, Long)].collect().toSet
    assert(afterStatic === Set((100L, 0L), (500L, 1L), (102L, 2L), (103L, 3L)),
      afterStatic.toString)

    // dynamic mode: partitions PRESENT in the frame are replaced, the
    // rest carry
    withDynamicOverwrite {
      spark.sql("INSERT OVERWRITE graftw.t SELECT id, 2 AS p FROM range(900, 902)")
    }
    val afterDyn = spark.sql("SELECT id, p FROM graftw.t")
      .as[(Long, Long)].collect().toSet
    assert(afterDyn === Set((100L, 0L), (500L, 1L), (900L, 2L), (901L, 2L),
      (103L, 3L)), afterDyn.toString)
    // every overwrite is a VERSION: full history intact
    assert(Snapshots.latestVersion(spark, root, "t") === Some(4L))
  }

  private def withDynamicOverwrite(body: => Unit): Unit = {
    val k = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("t.history is a SQL metadata table (LocalScan over the manifests)") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_hist").toString
    import graft.lake.Snapshots
    Snapshots.commit(Seq((1L, 0)).toDF("id", "p"), root, "t", Seq("p"))
    Snapshots.commit(Seq((2L, 1)).toDF("id", "p"), root, "t", Seq("p"))
    Snapshots.deleteWhere(spark, root, "t", $"id" === 1L)
    GraftCatalog.install(spark, "grafth", root)
    val h = spark.sql("""SELECT version, operation, n_files,
                         n_delete_vectors, n_added_files
                         FROM grafth.t.history ORDER BY version""")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(h === Seq((1L, "commit", 1L, 0L, 1L), (2L, "commit", 2L, 0L, 1L),
      (3L, "delete", 2L, 1L, 0L)))
    // driver-local plan: no exchange, no file scan
    val plan = spark.sql("SELECT * FROM grafth.t.history")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    // a non-versioned name keeps failing cleanly
    intercept[Exception] {
      spark.sql("SELECT * FROM grafth.nosuch.history").collect()
    }
  }

  test("per-session table cache is LRU-bounded: hot versions stay warm past 256 loads") {
    val cache = GraftCatalog.tableCacheFor(spark.newSession())
    def fake(i: Int) = new org.apache.spark.sql.connector.catalog.Table {
      override def name(): String = s"t$i"
      override def schema(): org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()
      override def capabilities() = java.util.Collections.emptySet()
    }
    (0 until 300).foreach { i =>
      cache.put(("root", "t", i.toLong), fake(i))
      // keep version 0 HOT: under access-order LRU it must survive all
      // 300 inserts; under clear-at-capacity (the old scheme) it dies
      cache.get(("root", "t", 0L))
    }
    assert(cache.size() <= 256)
    assert(cache.get(("root", "t", 0L)) != null, "hot entry evicted")
    assert(cache.get(("root", "t", 299L)) != null, "most recent evicted")
    assert(cache.get(("root", "t", 5L)) == null, "cold entry must be evicted")
  }

  test("RENAME TABLE moves the manifest + table dirs: full history and " +
      "vectors serve under the new name, old name is gone, refusals loud") {
    val root = freshLake()
    import spark.implicits._
    GraftCatalog.install(spark, "graftrn", root)
    graft.lake.Snapshots.commit(
      (0L until 20L).map(i => (i, i % 4)).toDF("id", "p"), root, "rn_t", Seq("p"))
    graft.lake.Snapshots.append(
      Seq((100L, 0L)).toDF("id", "p"), root, "rn_t", Seq("p"))
    spark.sql("DELETE FROM graftrn.rn_t WHERE id = 7") // v3: MOR vector
    val before = spark.sql("SELECT sum(id) FROM graftrn.rn_t").as[Long].head()

    spark.sql("ALTER TABLE graftrn.rn_t RENAME TO rn_t2")
    // the old name is cleanly absent
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graftrn.rn_t").collect()
    }
    // the new name serves the latest content (vector applied) …
    assert(spark.sql("SELECT sum(id) FROM graftrn.rn_t2").as[Long].head()
      === before)
    // … the full history under time travel …
    assert(spark.sql("SELECT count(*) FROM graftrn.rn_t2 VERSION AS OF 1")
      .as[Long].head() === 20L)
    assert(spark.sql("SELECT count(*) FROM graftrn.rn_t2 VERSION AS OF 3")
      .as[Long].head() === 20L) // 21 rows minus the vector-deleted one
    // … and the history metadata table
    assert(spark.sql("SELECT count(*) FROM graftrn.rn_t2.history")
      .as[Long].head() === 3L)
    // writes keep working post-rename
    spark.sql("INSERT INTO graftrn.rn_t2 VALUES (200, 1)")
    assert(spark.sql("SELECT count(*) FROM graftrn.rn_t2").as[Long].head()
      === 21L)

    // refusals: destination exists; source not versioned
    graft.lake.Snapshots.commit(Seq((1L, 0L)).toDF("id", "p"),
      root, "rn_other", Seq("p"))
    intercept[Exception] {
      spark.sql("ALTER TABLE graftrn.rn_t2 RENAME TO rn_other")
    }
    assert(spark.sql("SELECT count(*) FROM graftrn.rn_t2").as[Long].head()
      === 21L, "a refused rename must leave the source untouched")
  }

  test("missing tables and DDL fail loudly; plain (non-versioned) tables " +
      "stay read-only") {
    val root = freshLake()
    GraftCatalog.install(spark, "graftt", root)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graftt.no_such_table").collect()
    }
    // a plain Lake table was never created through the catalog: its
    // lifecycle (writes AND drop) belongs to graft.lake.Lake
    val ex = intercept[Exception] {
      spark.sql("DROP TABLE graftt.daily_ticks")
    }
    assert(ex.getMessage.contains("read-only") ||
      Option(ex.getCause).exists(_.getMessage.contains("read-only")), ex.toString)
    // DML too: a catalog INSERT would append files Lake never clustered
    // and Snapshots manifests don't know about
    val ins = intercept[Exception] {
      spark.sql("INSERT INTO graftt.daily_ticks VALUES (1, DATE'2023-01-01', 1, 2023)")
    }
    assert(ins.getMessage.contains("read-only") ||
      Option(ins.getCause).exists(_.getMessage.contains("read-only")), ins.toString)
  }
}
