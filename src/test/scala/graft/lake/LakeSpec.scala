package graft.lake

import graft.SparkTestBase
import java.sql.Date
import java.nio.file.Files
import org.apache.spark.sql.functions._

class LakeSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_lake").toUri.toString.stripSuffix("/")

  private def bars(rows: (Long, String, Double)*) =
    rows.map { case (sid, d, c) => (sid, Date.valueOf(d), c) }
      .toDF("security_id", "date", "close")
      .withColumn("year", year($"date"))

  test("dynamic partition overwrite replaces only touched partitions (I3)") {
    val root = tmpRoot()
    Lake.overwritePartitions(
      bars((1L, "2023-01-02", 10.0), (1L, "2024-01-02", 11.0), (2L, "2024-01-02", 20.0)),
      root, "daily_ticks", Seq("security_id", "year"))
    // overwrite ONLY (sid=1, 2024) with a corrected bar
    Lake.overwritePartitions(
      bars((1L, "2024-01-03", 99.0)),
      root, "daily_ticks", Seq("security_id", "year"))
    val got = Lake.read(spark, root, "daily_ticks")
      .select($"security_id", $"close").as[(Long, Double)].collect().toSet
    assert(got === Set((1L, 10.0), (1L, 99.0), (2L, 20.0)))
  }

  test("partition pruning reaches the scan for security_id/year predicates") {
    val root = tmpRoot()
    Lake.overwritePartitions(
      bars((1L, "2023-01-02", 10.0), (2L, "2024-01-02", 20.0)),
      root, "daily_ticks", Seq("security_id", "year"))
    val plan = Lake.read(spark, root, "daily_ticks")
      .filter($"security_id" === 1 && $"year" === 2023)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("security_id#") || plan.contains("security_id =")))
  }

  test("compaction folds a partition's files into one (I5)") {
    val root = tmpRoot()
    // write the same partition twice via append → ≥2 files
    val b = bars((1L, "2023-01-02", 10.0))
    Lake.overwritePartitions(b, root, "daily_ticks", Seq("security_id", "year"))
    Lake.appendPartitions(bars((1L, "2023-01-03", 10.5)), root, "daily_ticks",
      Seq("security_id", "year"))
    Lake.compactYears(spark, root, "daily_ticks", Seq(2023))
    val dir = new java.io.File(new java.net.URI(s"$root/daily_ticks/security_id=1/year=2023"))
    val parquets = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquets === 1)
    assert(Lake.read(spark, root, "daily_ticks").count() === 2)
  }

  test("compaction maxRecordsPerFile bounds fat-partition files exactly") {
    // regression: the old filesPerPartition repartition(n, cols) was
    // adjacent to overwritePartitions' own repartition(cols) and Catalyst
    // keeps only the outermost — the file-count knob silently did nothing
    val root = tmpRoot()
    val fat = bars((1 to 40).map(i => (1L, f"2023-01-${i % 28 + 1}%02d", i.toDouble)): _*)
    Lake.overwritePartitions(fat, root, "daily_ticks", Seq("security_id", "year"))
    Lake.compactYears(spark, root, "daily_ticks", Seq(2023), maxRecordsPerFile = 15L)
    val dir = new java.io.File(new java.net.URI(s"$root/daily_ticks/security_id=1/year=2023"))
    val parquets = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquets === 3, s"40 rows / 15-record cap: expected 3 files, got $parquets") // ceil(40/15)
    assert(Lake.read(spark, root, "daily_ticks").count() === 40)
  }

  test("manifest round-trip (S13)") {
    val root = tmpRoot()
    // quotes, backslashes and control characters survive the round trip
    val odd = "say \"hi\", C:\\lake\\\n\ttab"
    Lake.writeManifest(spark, root, "daily_ticks", 42L, "3",
      Map("crsp_end_date" -> "2024-12-31", "note" -> odd, "k\"ey" -> "v"))
    val m = Lake.readManifest(spark, root, "daily_ticks")
    assert(m("row_count") === "42")
    assert(m("crsp_end_date") === "2024-12-31")
    assert(m("note") === odd)
    assert(m("k\"ey") === "v")
    assert(Lake.readManifest(spark, root, "nope") === Map.empty)
  }

  test("partition listing and existence probes (S14)") {
    val root = tmpRoot()
    Lake.overwritePartitions(
      bars((1L, "2023-01-02", 10.0), (2L, "2024-01-02", 20.0)),
      root, "daily_ticks", Seq("security_id", "year"))
    val parts = Lake.listPartitions(spark, root, "daily_ticks")
    assert(parts === Seq("security_id=1/year=2023", "security_id=2/year=2024"))
    assert(Lake.partitionExists(spark, root, "daily_ticks", "security_id=1/year=2023"))
    assert(!Lake.partitionExists(spark, root, "daily_ticks", "security_id=1/year=1999"))
  }
}
