package graft.ticks

import graft.SparkTestBase
import graft.jobs.Jobs
import graft.lake.Lake
import graft.master.SecurityMaster
import java.sql.Date
import java.nio.file.Files
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The local filesystem, recording the path of every directory listing. */
class ListCountingFs extends FilterFileSystem(new graft.lake.NoForkLocalFileSystem) {
  override def listStatus(p: Path): Array[FileStatus] = {
    ListCountingFs.listed.add(p.toUri.getPath); super.listStatus(p)
  }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    ListCountingFs.listed.add(p.toUri.getPath); super.listStatusIterator(p)
  }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    ListCountingFs.listed.add(p.toUri.getPath); super.listLocatedStatus(p)
  }
  override def listFiles(p: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    ListCountingFs.listed.add(p.toUri.getPath); super.listFiles(p, recursive)
  }
}

object ListCountingFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The §7.3 end-to-end slice: adjusted daily closes for a symbol over a
  * rename boundary — master build → lake write → symbol-resolved,
  * partition-pruned, calendar-aligned read.
  */
class TicksClientSpec extends SparkTestBase {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private lazy val root =
    Files.createTempDirectory("graft_e2e").toUri.toString.stripSuffix("/")

  // FB→META-style rename at 2023-07-01 under one business (same CIK),
  // plus an unrelated security.
  private lazy val master = SecurityMaster.assignSecurityIds(Seq(
    (1, "FB", "Meta", "0001", "c1", d("2022-01-01"), d("2023-06-30")),
    (1, "META", "Meta", "0001", "c1", d("2023-07-01"), d("2024-12-31")),
    (2, "ZZZ", "Other", "0002", "c2", d("2022-01-01"), d("2024-12-31")))
    .toDF("permno", "symbol", "company", "cik", "cusip", "start_date", "end_date")).cache()

  private lazy val client = {
    val metaSid = master.filter($"symbol" === "META")
      .select("security_id").as[Long].head()
    val otherSid = master.filter($"symbol" === "ZZZ")
      .select("security_id").as[Long].head()
    // Two years of (sparse) bars for the renamed security spanning the
    // boundary, and bars for the unrelated one.
    val bars = Seq(
      (metaSid, "2023-06-29", 10.0), (metaSid, "2023-06-30", 11.0),
      (metaSid, "2023-07-03", 12.0), (metaSid, "2024-01-05", 13.0),
      (otherSid, "2023-06-30", 99.0))
      .map { case (s, dt, c) => (s, d(dt), c) }
      .toDF("security_id", "date", "close")
    Jobs.backfillDailyTicks(spark, bars, root)
    new TicksClient(spark, root, master)
  }

  test("one security_id spans the rename (business continuity)") {
    assert(master.filter($"permno" === 1)
      .select("security_id").distinct().count() === 1)
  }

  test("reading FB across the boundary returns bars from both symbol eras") {
    val got = client.getDailyTicks("FB", "2023-06-01", "2024-02-01")
    // FB interval ends 2023-06-30 → only the bars inside FB's validity window
    assert(got.select("date").as[Date].collect().map(_.toString).toSeq ===
      Seq("2023-06-29", "2023-06-30"))
  }

  test("history read = unbounded range; optional bounds filter it") {
    val all = client.getDailyTicksHistory("META")
    assert(all.select("date").as[Date].collect().map(_.toString).toSeq ===
      Seq("2023-07-03", "2024-01-05"))
    val bounded = client.getDailyTicksHistory("META", end = Some("2023-12-31"))
    assert(bounded.select("date").as[Date].collect().map(_.toString).toSeq ===
      Seq("2023-07-03"))
  }

  test("symbolsForYear lists symbols active in the year, in consumer format") {
    import graft.universe.Universe
    val m = Seq(
      ("BRK.B", d("2020-01-01"), d("2023-06-30")),
      ("FB", d("2022-01-01"), d("2023-06-30")),
      ("META", d("2023-07-01"), d("2024-12-31")),
      ("OLD", d("2010-01-01"), d("2015-12-31")))
      .toDF("symbol", "start_date", "end_date")
    val alpaca = Universe.symbolsForYear(m, 2023).as[String].collect().toSet
    assert(alpaca === Set("BRK.B", "FB", "META")) // OLD inactive in 2023
    val sec = Universe.symbolsForYear(m, 2023, "sec").as[String].collect().toSet
    assert(sec === Set("BRK-B", "FB", "META"))
  }

  test("reading META picks up after the rename; ZZZ bars never leak in") {
    val got = client.getDailyTicks("META", "2023-06-01", "2024-02-01")
    assert(got.select("close").as[Double].collect().toSeq === Seq(12.0, 13.0))
  }

  private def sidOf(symbol: String): Long =
    master.filter($"symbol" === symbol).select("security_id").as[Long].head()

  test("a symbol reused by two securities reads each era from its own security") {
    val (metaSid, otherSid) = (sidOf("META"), sidOf("ZZZ"))
    val got = new TicksClient(spark, root, reusedMaster)
      .getDailyTicks("REUSED", "2023-06-01", "2024-02-01")
      .select($"security_id".cast("long"), $"date", $"close")
      .as[(Long, Date, Double)].collect().toSeq
      .map { case (sid, dt, c) => (sid, dt.toString, c) }
    assert(got === Seq(
      (otherSid, "2023-06-30", 99.0),
      (metaSid, "2023-07-03", 12.0), (metaSid, "2024-01-05", 13.0)))
  }

  test("columns are security_id, the stored columns, then symbol") {
    assert(client.getDailyTicks("META", "2023-06-01", "2024-02-01").columns.toSeq ===
      Seq("security_id", "date", "close", "year", "symbol"))
  }

  test("an unknown symbol or a range outside every interval reads no rows") {
    val matching = client.getDailyTicks("META", "2023-06-01", "2024-02-01")
    for (empty <- Seq(
        client.getDailyTicks("NOPE", "2023-06-01", "2024-02-01"),
        client.getDailyTicks("META", "2020-01-01", "2020-12-31"))) {
      assert(empty.schema === matching.schema)
      assert(empty.count() === 0)
    }
  }

  test("a daily read scans literal partitions, with no join in the plan") {
    val plan = client.getDailyTicks("META", "2023-06-01", "2024-02-01")
      .queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*\(security_id#\d+ = ${sidOf("META")}\)".r
      .findFirstIn(plan).nonEmpty, plan)
    assert(raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(date,2023-07-01\), LessThanOrEqual\(date,2024-02-01\)".r
      .findFirstIn(plan).nonEmpty, plan)
    assert(!plan.contains("dynamicpruningexpression"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  /** The whole-table listing read's output schema (names, types, order)
    * for a daily read of `symbol`. */
  private def listingSchema(symbol: String) = {
    val ticks = Lake.read(spark, root, "daily_ticks")
    ticks.select(col("security_id") +:
        ticks.columns.filterNot(_ == "security_id").toSeq.map(col): _*)
      .withColumn("symbol", lit(symbol)).schema
      .map(f => (f.name, f.dataType))
  }

  private def reusedMaster = Seq(
      ("REUSED", sidOf("ZZZ"), d("2022-01-01"), d("2023-06-30")),
      ("REUSED", sidOf("META"), d("2023-07-01"), d("2024-12-31")))
    .toDF("symbol", "security_id", "start_date", "end_date")

  test("the output schema equals the listing read's across a rename, " +
      "for a reused symbol and for an unknown symbol") {
    def schemaOf(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(schemaOf(client.getDailyTicks("FB", "2023-06-01", "2024-02-01")) ===
      listingSchema("FB"))
    assert(schemaOf(new TicksClient(spark, root, reusedMaster)
      .getDailyTicks("REUSED", "2023-06-01", "2024-02-01")) === listingSchema("REUSED"))
    assert(schemaOf(client.getDailyTicks("NOPE", "2023-06-01", "2024-02-01")) ===
      listingSchema("NOPE"))
    val year = Lake.read(spark, root, "daily_ticks").schema
    assert(client.getYear(sidOf("META"), 2024).schema === year)
    assert(client.getYear(sidOf("META"), 1990).schema === year)
  }

  test("a built read starts no Spark job but the resolver's master collect") {
    val sid = sidOf("META")
    TicksClient.writeMinuteTicks(Seq((sid, "2023-07-03 10:00:00", 5L))
      .toDF("security_id", "ts_s", "volume")
      .select($"security_id", $"ts_s".cast("timestamp_ntz").as("ts"), $"volume"),
      root)
    val builds = Seq(
      "daily" -> (() => client.getDailyTicks("META", "2023-06-01", "2024-02-01")),
      "year" -> (() => client.getYear(sid, 2023)),
      "minute" -> (() => client.getMinuteTicks("META", "2023-07-03")))
    val firsts = builds.map(_._2()) // the first reads fill the schema cache
    val jobs = builds.map { case (tag, build) => tag -> jobsOf(tag)(build())._2 }
    assert(jobs === Seq("daily" -> 1, "year" -> 0, "minute" -> 1))
    assert(firsts.map(_.count()) === Seq(2L, 3L, 1L))
  }

  test("a symbol read lists only its own security_id directories") {
    val sid = sidOf("META")
    client.getDailyTicks("META", "2023-06-01", "2024-02-01").collect() // warm
    val hc = spark.sparkContext.hadoopConfiguration
    val before = (hc.get("fs.file.impl"), Option(hc.get("fs.file.impl.disable.cache")))
    ListCountingFs.listed.clear()
    hc.set("fs.file.impl", classOf[ListCountingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    val rows = try {
      client.getDailyTicks("META", "2023-06-01", "2024-02-01").collect()
    } finally {
      hc.set("fs.file.impl", before._1)
      before._2.fold(hc.unset("fs.file.impl.disable.cache"))(
        hc.set("fs.file.impl.disable.cache", _))
    }
    assert(rows.length === 2)
    val listed = ListCountingFs.listed.toArray.toSeq.map(_.toString)
    val table = new Path(s"$root/daily_ticks").toUri.getPath
    val own = s"$table/security_id=$sid"
    assert(listed.nonEmpty)
    assert(listed.forall(p => p == own || p.startsWith(s"$own/")), listed)
  }

  test("a new security_id from overwritePartitions and a column from a raw " +
      "write are seen by the next read") {
    val r = Files.createTempDirectory("graft_refresh").toUri.toString.stripSuffix("/")
    val m = Seq(("A", 1L, d("2020-01-01"), d("9999-12-31")),
        ("B", 2L, d("2020-01-01"), d("9999-12-31")))
      .toDF("symbol", "security_id", "start_date", "end_date")
    def bars(sid: Long) = Seq((sid, d("2023-03-01"), 1.0 * sid))
      .toDF("security_id", "date", "close").withColumn("year", year($"date"))
    Lake.overwritePartitions(bars(1L), r, "daily_ticks", Seq("security_id", "year"))
    val c = new TicksClient(spark, r, m)
    assert(c.getDailyTicks("A", "2023-01-01", "2023-12-31").count() === 1)
    assert(c.getDailyTicks("B", "2023-01-01", "2023-12-31").count() === 0)
    Lake.overwritePartitions(bars(2L), r, "daily_ticks", Seq("security_id", "year"))
    assert(c.getDailyTicks("B", "2023-01-01", "2023-12-31").count() === 1)
    // a writer outside Lake rewrites the table with one more column
    bars(1L).union(bars(2L)).withColumn("volume", lit(7L))
      .write.mode("overwrite").partitionBy("security_id", "year")
      .parquet(s"$r/daily_ticks")
    val got = c.getDailyTicks("A", "2023-01-01", "2023-12-31")
    assert(got.columns.contains("volume"), got.columns.toSeq)
    assert(got.select("volume").as[Long].collect().toSeq === Seq(7L))
  }

  test("partition pruning: year read plans PartitionFilters") {
    val metaSid = master.filter($"symbol" === "META")
      .select("security_id").as[Long].head()
    val plan = client.getYear(metaSid, 2024).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(client.getYear(metaSid, 2024).count() === 1)
  }

  test("calendar alignment surfaces the non-traded gap as null rows") {
    val metaSid = master.filter($"symbol" === "META")
      .select("security_id").as[Long].head()
    // drop the 2023-06-30 bar → a weekday hole between Thu 29th and Mon 3rd
    val bars = client.getYear(metaSid, 2023)
      .filter($"close" =!= 11.0)
      .select($"security_id", $"date", $"close")
    val spine = Calendar.weekdaySpine(spark, "2023-06-01", "2023-07-31")
    val aligned = Calendar.align(bars, spine)
    // bounds clip to the security's own [first, last] = [06-29, 07-03]
    assert(aligned.count() === 3)
    assert(aligned.filter($"close".isNull).count() === 1)
    assert(aligned.filter($"close".isNull).select($"date").as[Date]
      .head().toString === "2023-06-30")
  }

  test("consolidation keeps data identical and is idempotent-guarded (I5)") {
    val before = Lake.read(spark, root, "daily_ticks")
      .select($"security_id", $"date", $"close").collect().toSet
    assert(Jobs.consolidateYear(spark, root, 2023))
    assert(!Jobs.consolidateYear(spark, root, 2023)) // guard refuses re-run
    assert(Jobs.consolidateYear(spark, root, 2023, force = true))
    val after = Lake.read(spark, root, "daily_ticks")
      .select($"security_id", $"date", $"close").collect().toSet
    assert(before === after)
    // manifest metadata recorded by earlier jobs survives consolidation
    val manifest = Lake.readManifest(spark, root, "daily_ticks")
    assert(manifest.get("export_kind") === Some("backfill"))
    assert(manifest("consolidated_years").contains("2023"))
  }

  test("late-filing dedup append only adds unseen accessions (I4)") {
    val f1 = Seq(("a1", "10-K", 1.0), ("a2", "10-Q", 2.0)).toDF("accn", "form", "value")
    assert(Jobs.appendNewFilings(spark, f1, root, "fundamental", "accn") === 2)
    val f2 = Seq(("a2", "10-Q", 2.0), ("a3", "10-K", 3.0)).toDF("accn", "form", "value")
    assert(Jobs.appendNewFilings(spark, f2, root, "fundamental", "accn") === 1)
    assert(Lake.read(spark, root, "fundamental").count() === 3)
  }
}
