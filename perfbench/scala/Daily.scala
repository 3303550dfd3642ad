package graft.perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.Snapshots
import graft.universe.Universe

/** The daily writer: trading-day epochs over a bar table committed through
  * `Snapshots`, partitioned by (year, month). Each epoch refreshes the
  * month to date, merges seeded late corrections and busted bars, reads
  * its own write back, and at month end commits a top-K liquidity
  * universe, compacts and vacuums. The model is an in-memory map of the
  * table, updated by the same inputs. */
final class Daily(spark: SparkSession, seed: Long, val securities: Int,
    symbolAt: (Long, Int) => Option[String]) {
  import Gen._

  private val Securities = securities
  private val HistoryMonths = 3
  private val TopK = 10
  private val KeepVersions = 8

  private val rnd0 = new SplittableRandom(seed * 31337L + 3L)
  /** The first of the two warm-up epochs is the seventh trading day before
    * the end of a seeded month, so the fifth measured epoch is a month end
    * (and spanned in a traced run, which spans every other op). Compaction
    * makes the days after it cheaper; with four days before it, the median
    * day of a 5-9 day run is one of those four. */
  private val startMonth = LocalDate.of(2022, 1 + rnd0.nextInt(12), 1)
  private val cal = weekdays(startMonth.minusMonths(HistoryMonths), startMonth.plusMonths(24))
  private val monthEnd: Set[Int] = cal.indices.filter(i =>
    i + 1 == cal.length || month(cal(i + 1)) != month(cal(i))).map(cal(_)).toSet
  private val firstEpoch = cal.indices.filter(i => monthEnd(cal(i)) &&
    !LocalDate.ofEpochDay(cal(i).toLong).isBefore(startMonth)).head - 6
  private def sid(i: Int): Long = 1001L + i
  /** The vendor's bars, revised slightly on each month-to-date refetch. */
  private val vendor = (0 until Securities).map(i => new Bars(0, cal.length, rnd0.split()))

  private def month(day: Int): (Int, Int) = {
    val d = LocalDate.ofEpochDay(day.toLong); (d.getYear, d.getMonthValue)
  }

  // ---------------------------------------------------------------- model

  final case class Bar(o: Double, h: Double, l: Double, c: Double, v: Long) {
    def digest(s: Long, day: Int): Digest = barDigest(s, day, o, h, l, c, v)
  }
  private val table = mutable.HashMap.empty[(Long, Int), Bar]
  private var tableDigest = Digest.empty
  private def put(k: (Long, Int), b: Bar): Unit = {
    table.get(k).foreach(old => tableDigest = tableDigest - old.digest(k._1, k._2))
    table(k) = b; tableDigest = tableDigest + b.digest(k._1, k._2)
  }
  private def remove(k: (Long, Int)): Unit =
    table.remove(k).foreach(old => tableDigest = tableDigest - old.digest(k._1, k._2))
  /** Model digest of each committed version. */
  private val versionDigest = mutable.HashMap.empty[Long, Digest]

  // --------------------------------------------------------------- inputs

  private def vendorBar(i: Int, k: Int, revision: Int): Bar = {
    val b = vendor(i)
    // a refetch may revise a recent close by a basis point
    val r = new SplittableRandom(seed ^ (i.toLong << 40) ^ (k.toLong << 12) ^ revision)
    val c = if (revision > 0 && r.nextDouble() < 0.05) round4(b.close(k) * 1.0001) else b.close(k)
    Bar(b.open(k), b.high(k), b.low(k), c, b.volume(k))
  }

  private val barWithMonth = StructType(barSchema.fields ++ Seq(
    StructField("year", IntegerType, nullable = false),
    StructField("month", IntegerType, nullable = false)))

  private def rowsOf(bars: Seq[((Long, Int), Bar)]): Seq[Row] = bars.map { case ((s, d), b) =>
    val (y, m) = month(d)
    Row(s, date(d), b.o, b.h, b.l, b.c, b.v, y, m)
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    Session.frame(spark, rows, schema, spark.sparkContext.defaultParallelism)

  /** Month to date as of calendar index `k` (the epoch's own refetch). */
  private def monthToDate(k: Int): Seq[((Long, Int), Bar)] = {
    val m = month(cal(k))
    val from = cal.indexWhere(d => month(d) == m)
    for (i <- 0 until Securities; j <- from to k)
      yield (sid(i), cal(j)) -> vendorBar(i, j, k)
  }

  private val corrSchema = StructType(Seq(
    StructField("security_id", LongType), StructField("date", DateType),
    StructField("close", DoubleType), StructField("volume", LongType),
    StructField("op", StringType)))

  /** Late corrections (U) and busted bars (D) in the two months before the
    * epoch's month; a correction may target a bar already busted. */
  private def corrections(k: Int): Seq[(Long, Int, Double, Long, String)] = {
    val r = new SplittableRandom(seed * 7L + k)
    val m = month(cal(k))
    val from = cal.indexWhere(d => month(d) == m)
    val lo = math.max(0, from - 42)
    // distinct keys: a MERGE source may match each target row only once
    val keys = mutable.LinkedHashSet.empty[(Long, Int)]
    while (keys.size < 5) keys += ((sid(r.nextInt(Securities)), cal(lo + r.nextInt(from - lo))))
    keys.toSeq.zipWithIndex.map { case ((s, day), j) =>
      (s, day, round4(10.0 + r.nextDouble() * 90.0), 1000L + r.nextInt(1000000),
        if (j == 4) "D" else "U")
    }
  }

  // ---------------------------------------------------------------- state

  val Table = "daily_bars"
  private var root: String = _
  private var epoch = firstEpoch
  private var ingestedBytes = 0L
  private var writtenBytes = 0L
  private var scannedBytes = 0L
  private val freshMs = mutable.ArrayBuffer.empty[Double]
  private var files = Map.empty[String, Long]

  private def latest(): Long = Snapshots.latestVersion(spark, root, Table).get

  /** Files under the lake root now, and the ones new since the last scan. */
  private def du(): Map[String, Long] =
    Seq(Table, s"_snapshots/$Table", "universe", "_snapshots/universe").flatMap { d =>
      Session.du(s"$root/$d").map { case (p, n) => s"$d/$p" -> n }
    }.toMap

  private def scan(): (Map[String, Long], Map[String, Long]) = {
    val now = du()
    val added = now.filter { case (p, n) => !files.get(p).contains(n) }
    scannedBytes += added.values.sum
    val before = files
    files = now
    (added, before -- now.keys)
  }

  def build(lakeRoot: String, t: Tracer): Unit = {
    root = lakeRoot
    val history = for (i <- 0 until Securities; k <- 0 until firstEpoch)
      yield (sid(i), cal(k)) -> vendorBar(i, k, 0)
    t.span("lake.commit") {
      Snapshots.commit(frame(rowsOf(history), barWithMonth), root, Table,
        Seq("year", "month"), statsCols = Seq("security_id", "date"))
    }
    history.foreach { case (k, b) => put(k, b) }
    versionDigest(latest()) = tableDigest
    files = du()
  }

  /** One epoch's inputs and the model's answers, computed before it runs. */
  final class Epoch(val i: Int, val k: Int) {
    val day: Int = cal(k)
    val mtd: Seq[((Long, Int), Bar)] = monthToDate(k)
    val corr: Seq[(Long, Int, Double, Long, String)] = corrections(k)
    mtd.foreach { case (key, b) => put(key, b) }
    val afterCommit: Digest = tableDigest
    corr.foreach { case (s, d, c, v, op) =>
      if (op == "D") remove((s, d))
      else table.get((s, d)).foreach(b => put((s, d), b.copy(c = c, v = v)))
    }
    val afterMerge: Digest = tableDigest
    val todayWant: Digest = (0 until Securities).foldLeft(Digest.empty) { (acc, j) =>
      table.get((sid(j), day)).map(b => acc + b.digest(sid(j), day)).getOrElse(acc)
    }
    val topWant: Option[Seq[(String, Double)]] =
      if (monthEnd(day)) Some(topK(month(day))) else None
    var commitV, mergeV, freshNs, scanned0 = 0L
  }

  /** The next epoch (`i` < 0: a warm-up epoch). */
  def prepare(i: Int): Epoch = { val e = new Epoch(i, epoch); epoch += 1; e }

  def run(e: Epoch, t: Tracer, spanned: Boolean): Unit = {
    val day = e.day
    val kind = if (e.i < 0) "warmup" else if (e.topWant.isDefined) "month_end" else "epoch"
    e.scanned0 = scannedBytes
    t.op(kind, spanned) {
      val mtdDf = frame(rowsOf(e.mtd), barWithMonth)
      frame(e.corr.map { case (s, d, c, v, op) => Row(s, date(d), c, v, op) }, corrSchema)
        .createOrReplaceTempView("bench_corrections")
      t.span("lake.commit") {
        e.commitV = Snapshots.commit(mtdDf, root, Table, Seq("year", "month"),
          statsCols = Seq("security_id", "date"))
      }
      if (t.spansOn) fsCounts(t, "lake.commit")
      t.span("sql.merge") {
        spark.sql(
          s"""MERGE INTO graft.$Table AS t USING bench_corrections AS s
            |ON t.security_id = s.security_id AND t.date = s.date
            |WHEN MATCHED AND s.op = 'D' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET close = s.close, volume = s.volume""".stripMargin)
          .collect()
      }
      if (t.spansOn) fsCounts(t, "sql.merge")
      val f0 = System.nanoTime()
      val v = t.span("lake.latest_version") { latest() }
      e.mergeV = v
      val read = t.span("sql.select.plan") {
        val d = spark.sql(
          s"""SELECT security_id, date, open, high, low, close, volume
             |FROM graft.$Table VERSION AS OF $v WHERE date = DATE'${iso(day)}'""".stripMargin)
        d.queryExecution.executedPlan; d
      }
      val today = t.span("sql.select.exec") { read.collect() }
      e.freshNs = System.nanoTime() - f0
      val top = e.topWant.map { _ =>
        val m = month(day)
        val got = t.span("universe.top_k") {
          val bars = spark.sql(s"SELECT * FROM graft.$Table VERSION AS OF $v " +
            s"WHERE year = ${m._1} AND month = ${m._2}")
          // the symbol each bar traded under, from the research master
          val master = spark.table("graft.master")
          val named = bars.join(master, bars("security_id") === master("security_id") &&
              bars("date").between(master("start_date"), master("end_date")))
            .select(master("symbol"), bars("close"), bars("volume"))
          val top = Universe.topByDollarVolume(named, k = TopK, minAdv = 0.0)
          val rows = top.collect()
          Snapshots.commit(top.withColumn("year", lit(m._1)).withColumn("month", lit(m._2)),
            root, "universe", Seq("year", "month"))
          rows.map(r => (r.getString(0), r.getDouble(1))).toSeq
        }
        t.span("lake.compact") {
          Snapshots.compact(spark, root, Table, Seq("year", "month"), numFiles = 4,
            clusterCols = Seq("security_id"), statsCols = Seq("security_id", "date"))
        }
        if (t.spansOn) fsCounts(t, "lake.compact")
        t.span("lake.vacuum") {
          Snapshots.vacuum(spark, root, Table, keepVersions = KeepVersions, graceMillis = 0L)
        }
        if (t.spansOn) fsCounts(t, "lake.vacuum")
        got
      }
      (today, top)
    } { case (today, top) =>
      if (t.traced) {
        val mf = new java.io.File(s"$root/_snapshots/$Table/v${latest()}.json")
        t.count("lake.manifest_bytes", mf.length.toDouble)
      }
      check(s"read-your-write ${iso(day)}", rowsDigest(today), e.todayWant).orElse(
        top.zip(e.topWant).flatMap { case (got, want) =>
          val same = got.size == want.size && got.zip(want).forall { case ((s1, a1), (s2, a2)) =>
            s1 == s2 && math.abs(a1 - a2) <= 1e-9 * math.abs(a2) }
          if (same) None else Some(s"top-$TopK ${month(day)}: got $got, model $want")
        })
    }
  }

  /** Book-keeping after an epoch ran: versions, files, byte counts. */
  def after(e: Epoch): Unit = {
    // versions the epoch published, whether or not the op succeeded
    if (e.commitV > 0) versionDigest(e.commitV) = e.afterCommit
    if (e.mergeV > 0) versionDigest(e.mergeV) = e.afterMerge
    if (e.topWant.isDefined) versionDigest(latest()) = e.afterMerge
    scan()
    if (e.i >= 0) {
      if (e.freshNs > 0) freshMs += e.freshNs / 1e6
      writtenBytes += scannedBytes - e.scanned0
      ingestedBytes += (e.mtd.size + e.corr.size) * BarBytes
    }
  }

  /** Files and bytes the just-finished span wrote (or vacuum reclaimed). */
  private def fsCounts(t: Tracer, what: String): Unit = t.span("bench.fs_scan") {
    val (added, removed) = scan()
    what match {
      case "lake.commit" =>
        t.count("lake.commit.files_written", added.size.toDouble)
        t.count("lake.commit.bytes_written", added.values.sum.toDouble)
      case "sql.merge" => t.count("sql.merge.files_rewritten",
        added.keys.count(p => p.startsWith(s"$Table/data/")).toDouble)
      case "lake.compact" => t.count("lake.compact.bytes_rewritten",
        added.filter(_._1.startsWith(s"$Table/data/")).values.sum.toDouble)
      case "lake.vacuum" => t.count("lake.vacuum.bytes_reclaimed", removed.values.sum.toDouble)
    }
  }

  /** Top-K symbols by mean close x volume over the month, from the model;
    * a bar counts under the symbol its security had that day, if any. */
  private def topK(m: (Int, Int)): Seq[(String, Double)] =
    table.toSeq.filter { case ((_, d), _) => month(d) == m }
      .flatMap { case ((s, d), b) => symbolAt(s, d).map(_ -> b.c * b.v) }
      .groupMap(_._1)(_._2).toSeq
      .map { case (sym, dv) => sym -> dv.sum / dv.size }
      .sortBy { case (s, adv) => (-adv, s) }.take(TopK)

  def finish(t: Tracer): Unit = {
    val v = latest()
    // and the middle one of the modelled versions vacuum kept
    val kept = versionDigest.keys.toSeq.sorted
      .filter(x => new java.io.File(s"$root/_snapshots/$Table/v$x.json").exists)
    (v +: kept.lift(kept.size / 2).toSeq).distinct.foreach { x =>
      t.op("check") {
        spark.sql(s"SELECT security_id, date, open, high, low, close, volume " +
          s"FROM graft.$Table VERSION AS OF $x").collect()
      } { rows => check(s"$Table version $x", rowsDigest(rows), versionDigest(x)) }
    }
  }

  def report(t: Tracer): Seq[(String, Double, String)] = {
    // every epoch; month ends (universe, compaction, vacuum) also on their own
    val monthEnds = t.latencies.getOrElse("month_end", Nil).toSeq
    val e = t.latencies.getOrElse("epoch", Nil).toSeq ++ monthEnds
    val fresh = freshMs.toSeq
    val live = Snapshots.liveFiles(spark, root, Table, latest())
      .map(f => files.getOrElse(s"$Table/data/$f", 0L)).sum
    Stats.report("epoch", e) ++ Seq(
      ("month_end_ms", if (monthEnds.isEmpty) Double.NaN else Stats.median(monthEnds), "ms"),
      ("fresh_read_p50_ms", if (fresh.isEmpty) Double.NaN else Stats.median(fresh), "ms"),
      ("write_amp", writtenBytes.toDouble / math.max(1L, ingestedBytes), "ratio"),
      ("space_amp", files.values.sum.toDouble / math.max(1L, live), "ratio"))
  }

  def sizes: Seq[(String, Double)] = Seq("securities" -> Securities.toDouble,
    "history_months" -> HistoryMonths.toDouble,
    "history_rows" -> (Securities * firstEpoch).toDouble,
    "top_k" -> TopK.toDouble, "keep_versions" -> KeepVersions.toDouble)
}
