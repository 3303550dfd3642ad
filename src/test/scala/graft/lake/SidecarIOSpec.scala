package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Driver-side sidecar I/O ([[Sidecar]]): the codec must produce sidecars
  * indistinguishable from Spark's to every consumer (spark.read, SQL
  * skipping, stats carry), anything outside its narrow type set must fall
  * back to Spark, not fail, and no reader may start a Spark job for a
  * sidecar the codec decodes.
  */
class SidecarIOSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("sidecar_io").toString

  test("driver-written sidecar: Spark-readable, stats carry across commits") {
    val root = freshRoot()
    val df1 = (0L until 40L).map(i => (i, s"s$i", (i % 4).toInt))
      .toDF("id", "name", "p").repartitionByRange(4, $"id")
    Snapshots.commit(df1, root, "t", Seq("p"), statsCols = Seq("id", "name"))
    val sc1 = spark.read.parquet(s"$root/_snapshots/t/stats_v1")
    assert(sc1.columns.sorted.toSeq ===
      Seq("bytes", "file", "max_id", "max_name", "min_id", "min_name", "rows"))
    assert(sc1.count() === Snapshots.liveFiles(spark, root, "t", 1L).size)
    // every added file carries exact bytes + rows and real min/max
    assert(sc1.filter($"bytes".isNull || $"rows".isNull ||
      $"min_id".isNull || $"max_name".isNull).count() === 0)
    assert(sc1.agg(sum($"rows")).as[Long].head() === 40L)
    assert(sc1.agg(min($"min_id"), max($"max_id"))
      .as[(Long, Long)].head() === ((0L, 39L)))

    // second commit replaces ONE partition: kept files' stats must carry
    // forward through the driver-side merge, the replaced partition's
    // files get fresh stats
    Snapshots.commit(Seq((100L, "zz", 1)).toDF("id", "name", "p"),
      root, "t", Seq("p"), statsCols = Seq("id", "name"))
    val sc2 = spark.read.parquet(s"$root/_snapshots/t/stats_v2")
    assert(sc2.count() === Snapshots.liveFiles(spark, root, "t", 2L).size)
    assert(sc2.filter($"rows".isNull).count() === 0, "carried stats survive")
    assert(sc2.agg(max($"max_id")).as[Long].head() === 100L)
    // pruning consumes the driver-written sidecar: a window over one
    // carried file's range opens a strict subset
    val cands = Snapshots.candidateFiles(spark, root, "t", 2L, "id",
      lit(0L), lit(5L))
    assert(cands.nonEmpty &&
      cands.size < Snapshots.liveFiles(spark, root, "t", 2L).size)
  }

  test("stats column outside the narrow set falls back to the Spark path") {
    val root = freshRoot()
    // DecimalType is not in SidecarIO's supported set — the commit must
    // still produce a correct sidecar (via Spark), never fail or skip
    val df = (0L until 10L).map(i => (i, BigDecimal(i) / 4, (i % 2).toInt))
      .toDF("id", "dec", "p")
    Snapshots.commit(df, root, "t", Seq("p"), statsCols = Seq("dec"))
    val sc = spark.read.parquet(s"$root/_snapshots/t/stats_v1")
    assert(sc.columns.contains("min_dec") && sc.columns.contains("max_dec"))
    assert(sc.count() === Snapshots.liveFiles(spark, root, "t", 1L).size)
    assert(sc.filter($"min_dec".isNull).count() === 0)
    // and a follow-up commit with a SUPPORTED stats set still merges the
    // legacy decimal sidecar correctly (driver path refuses, Spark path
    // unions) — the min_dec column survives as null-or-carried
    Snapshots.commit(Seq((50L, BigDecimal(9), 0)).toDF("id", "dec", "p"),
      root, "t", Seq("p"), statsCols = Seq("dec"))
    val sc2 = spark.read.parquet(s"$root/_snapshots/t/stats_v2")
    val live2 = Snapshots.liveFiles(spark, root, "t", 2L)
    assert(sc2.count() === live2.size)
    // pruning reads the decimal sidecar through the Spark fallback: only
    // the rewritten p=0 file's [9, 9] box can hold 9
    val cands = Snapshots.candidateFiles(spark, root, "t", 2L, "dec",
      lit(BigDecimal(9)), lit(BigDecimal(9)))
    assert(cands.nonEmpty && cands.forall(_.startsWith("p=0/")) &&
      cands.size < live2.size, s"$cands of $live2")
    assert(Snapshots.readVersionPruned(spark, root, "t", 2L, "dec",
      lit(BigDecimal(9)), lit(BigDecimal(9))).count() === 1L)
  }

  test("a stats column widened int → long carries its bounds through the " +
      "driver merge and still prunes") {
    val root = freshRoot()
    // one file per partition p = 0..3, v boxes [0,9] [10,19] [20,29] [30,39]
    Snapshots.commit((0 until 40).map(i => (i, i / 10)).toDF("v", "p"),
      root, "t", Seq("p"), statsCols = Seq("v"))
    // a long-typed v widens the committed schema; the int bounds carry
    Snapshots.commit(Seq((100L, 4)).toDF("v", "p"), root, "t", Seq("p"),
      statsCols = Seq("v"))
    assert(Snapshots.versionSchema(spark, root, "t", 2L).get("v").dataType ===
      LongType)
    val sc = Sidecar.load(spark, root, "t", 2L).get
    assert(sc.schema("min_v").dataType === LongType)
    val live = Snapshots.liveFiles(spark, root, "t", 2L)
    assert(live.size === 5 && sc.ranges.keySet === live.toSet &&
      live.forall(f => sc.ranges(f).contains("v")), sc.ranges)
    // the driver codec wrote it (Spark's writer names parts by job uuid)
    val dir = Sidecar.dir(root, "t", 2L)
    assert(dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath.getName).filterNot(_.startsWith("."))
      .toSeq === Seq("part-00000-sidecar.parquet"))
    val cands = Snapshots.candidateFiles(spark, root, "t", 2L, "v",
      lit(12L), lit(15L))
    assert(cands.size === 1 && cands.head.startsWith("p=1/"), cands)
    assert(Snapshots.readVersionPruned(spark, root, "t", 2L, "v", lit(12L),
      lit(15L)).select("v").as[Long].collect().toSet === (12L to 15L).toSet)
  }

  test("fresh-version planning, candidateFiles, OPTIMIZE sizing and " +
      "<t>.files start no Spark job for the sidecar") {
    val root = freshRoot()
    // two identical tables: OPTIMIZE on one, its compaction on the other
    for (t <- Seq("t", "twin"); i <- 0 until 4)
      Snapshots.append((0L until 400L).filter(_ % 4 == i).map(k => (k, k / 100))
        .toDF("id", "p"), root, t, Seq("p"), statsCols = Seq("id"))
    graft.sql.GraftCatalog.install(spark, "graftjobs", root)
    val v = Snapshots.latestVersion(spark, root, "t").get
    val live = Snapshots.liveFiles(spark, root, "t", v)

    // no cached table holds v yet: planning loads its manifest and sidecar
    val (_, plan) = jobsOf("plan")(spark.sql(
      s"SELECT id FROM graftjobs.t VERSION AS OF $v WHERE id BETWEEN 10 AND 20")
      .queryExecution.executedPlan)
    assert(plan === 0, "planning a fresh version")
    val (cands, cand) = jobsOf("candidates")(
      Snapshots.candidateFiles(spark, root, "t", v, "id", lit(10L), lit(20L)))
    assert(cand === 0, "candidateFiles")
    assert(cands.nonEmpty && cands.size < live.size)
    val (files, filesJobs) = jobsOf("files")(
      spark.sql("SELECT * FROM graftjobs.t.files").collect())
    assert(filesJobs === 0, "<t>.files")
    assert(files.length === live.size && files.forall(r => !r.isNullAt(3)))
    // OPTIMIZE sizes from the sidecar's bytes and clusters on its stats
    // columns: it runs exactly the jobs of the compaction it chooses
    val (_, optimize) = jobsOf("optimize")(
      spark.sql("OPTIMIZE graftjobs.t").collect())
    val (_, compact) = jobsOf("compact")(Snapshots.compact(spark, root,
      "twin", Seq("p"), numFiles = 1, clusterCols = Seq("id"),
      statsCols = Seq("id"), baseVersion = Some(v)))
    assert(optimize === compact, s"OPTIMIZE $optimize jobs, compact $compact")
    assert(Snapshots.liveFiles(spark, root, "t", v + 1).size ===
      Snapshots.liveFiles(spark, root, "twin", v + 1).size)
  }

  test("date stats ride the driver path; unionByName aligns evolving columns") {
    val root = freshRoot()
    val df = Seq((1L, java.sql.Date.valueOf("2023-01-03"), 0),
        (2L, java.sql.Date.valueOf("2023-06-30"), 1))
      .toDF("id", "d", "p")
    Snapshots.commit(df, root, "t", Seq("p"), statsCols = Seq("d"))
    // second commit tracks a DIFFERENT stats column: allowMissing union
    Snapshots.commit(Seq((3L, java.sql.Date.valueOf("2024-02-02"), 1))
      .toDF("id", "d", "p"), root, "t", Seq("p"), statsCols = Seq("id"))
    val sc = spark.read.parquet(s"$root/_snapshots/t/stats_v2")
    assert(sc.columns.toSet.intersect(Set("min_d", "min_id")).size === 2)
    val minD = sc.filter($"min_d".isNotNull).agg(min($"min_d"))
      .as[java.sql.Date].head()
    assert(minD === java.sql.Date.valueOf("2023-01-03"))
    assert(sc.filter($"min_id" === 3L).count() === 1L)
  }
}
