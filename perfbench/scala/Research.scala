package graft.perfbench

import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.Jobs
import graft.lake.{Lake, Snapshots}
import graft.master.SecurityMaster
import graft.ticks.TicksClient

/** Shared generator pieces: weekday calendars, OHLCV walks, 4-dp money. */
object Gen {
  def round4(x: Double): Double = math.round(x * 1e4) / 1e4

  def weekdays(from: LocalDate, to: LocalDate): Array[Int] =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .map(_.toEpochDay.toInt).toArray

  def date(epochDay: Int): java.sql.Date =
    java.sql.Date.valueOf(LocalDate.ofEpochDay(epochDay.toLong))

  def iso(epochDay: Int): String = LocalDate.ofEpochDay(epochDay.toLong).toString

  /** A distinct 4-letter symbol per index (a bijection on [0, 26^4)). */
  def symbol(i: Int, salt: Int): String = {
    var x = ((i.toLong * 7919L + salt) % 456976L).toInt
    val sb = new StringBuilder
    (0 until 4).foreach { _ => sb += ('A' + x % 26).toChar; x /= 26 }
    sb.toString
  }

  /** Bars of one security over `n` consecutive calendar days. */
  final class Bars(val first: Int, n: Int, rnd: SplittableRandom) {
    val open, high, low, close = new Array[Double](n)
    val volume = new Array[Long](n)
    private var p = 10.0 + rnd.nextDouble() * 90.0
    (0 until n).foreach { k =>
      p = math.max(1.0, p * (1.0 + (rnd.nextDouble() - 0.5) * 0.04))
      val o = round4(p * (1.0 + (rnd.nextDouble() - 0.5) * 0.01))
      val c = round4(p)
      open(k) = o; close(k) = c
      high(k) = round4(math.max(o, c) * (1.0 + rnd.nextDouble() * 0.01))
      low(k) = round4(math.min(o, c) * (1.0 - rnd.nextDouble() * 0.01))
      volume(k) = 1000L + rnd.nextInt(1000000)
    }
    def size: Int = n
  }

  val barSchema: StructType = StructType(Seq(
    StructField("security_id", LongType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType)))

  /** Bytes of one bar row as ingested: 8 (id) + 4 (date) + 4x8 + 8. */
  val BarBytes = 52L

  val masterInputSchema: StructType = StructType(Seq(
    StructField("permno", LongType), StructField("symbol", StringType),
    StructField("company", StringType), StructField("cik", StringType),
    StructField("cusip", StringType), StructField("start_date", DateType),
    StructField("end_date", DateType)))

  val OpenEnd: Int = LocalDate.of(9999, 12, 31).toEpochDay.toInt

  def barDigest(sid: Long, day: Int, o: Double, h: Double, l: Double,
      c: Double, v: Long): Digest =
    Digest.row(sid, day.toLong, Digest.dbl(o), Digest.dbl(h), Digest.dbl(l),
      Digest.dbl(c), v)

  /** Digest of engine rows carrying the seven bar columns by name. */
  def rowsDigest(rows: Array[Row]): Digest = rows.foldLeft(Digest.empty) { (d, r) =>
    d + barDigest(r.getAs[Number]("security_id").longValue,
      r.getAs[java.sql.Date]("date").toLocalDate.toEpochDay.toInt,
      r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
      r.getAs[Double]("close"), r.getAs[Number]("volume").longValue)
  }

  def check(what: String, got: Digest, want: Digest): Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.rows} rows/${got.sum}, model ${want.rows} rows/${want.sum}")

  /** Data files a finished query read from `table`, over its scans. */
  def filesRead(df: DataFrame, table: String): Long = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    plan.collectWithSubqueries { case b: BatchScanExec => b }
      .filter(b => Option(b.table).map(_.name()).exists(n => n == table || n.startsWith(table + "@")))
      .map(_.partitions.flatten.map {
        case f: FilePartition => f.files.length.toLong
        case _ => 1L
      }.sum).sum
  }
}

/** The research client: reads bars by symbol and range through
  * `TicksClient` (api) and through the SQL catalog (sql) over a
  * backfilled lake whose master carries renames, delistings and symbol
  * reuse. Inputs and the request list come from the seed alone. */
final class Research(spark: SparkSession, seed: Long, val securities: Int,
    val years: Int) {
  import Gen._

  private val cal = weekdays(LocalDate.of(2019, 1, 1), LocalDate.of(2018 + years, 12, 31))
  private val n = cal.length

  /** One symbol period of a security, as calendar-day bounds. */
  final case class Period(sym: String, fromDay: Int, toDay: Int)
  final case class Sec(idx: Int, sid: Long, first: Int, last: Int,
      periods: Vector[Period], renameAt: Option[Int], bars: Bars,
      revisedClose: Option[Array[Double]])

  val secs: Vector[Sec] = {
    val rnd = new SplittableRandom(seed * 1000003L + 17L)
    val salt = rnd.nextInt(456976)
    val b = Vector.newBuilder[Sec]
    val delistedSyms = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var nextSym = 0
    def fresh(): String = { nextSym += 1; symbol(nextSym, salt) }
    // fixed shares of roles, assigned to a seeded permutation of the
    // securities, so every seed gives a lake of the same shape
    val perm = (0 until securities).toArray
    (perm.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val x = perm(i); perm(i) = perm(j); perm(j) = x
    }
    (0 until securities).foreach { i =>
      val role = perm(i)
      val isNew = role < securities * 12 / 100
      val first = if (isNew) (n * (0.2 + 0.5 * rnd.nextDouble())).toInt else 0
      val delist = !isNew && role < securities * 27 / 100
      val last = if (delist) first + ((n - first) * (0.3 + 0.5 * rnd.nextDouble())).toInt else n - 1
      val reuse = if (isNew && rnd.nextDouble() < 0.6)
        delistedSyms.find(_._2 < first - 5).map { s => delistedSyms -= s; s._1 } else None
      val sym0 = reuse.getOrElse(fresh())
      val renameAt = if (last - first > 120 && role % 4 == 1)
        Some(first + 40 + rnd.nextInt(last - first - 80)) else None
      val endDay = if (delist) cal(last) else OpenEnd
      val periods = renameAt match {
        case Some(r) => Vector(Period(sym0, cal(first), cal(r - 1)), Period(fresh(), cal(r), endDay))
        case None => Vector(Period(sym0, cal(first), endDay))
      }
      if (delist) delistedSyms += ((periods.last.sym, last))
      val bars = new Bars(first, last - first + 1, rnd.split())
      b += Sec(i, 1001L + i, first, last, periods, renameAt, bars, None)
    }
    // the correction (version 2): the last year's closes revised for ~10%
    // of the securities trading then
    val lastYearFrom = cal.indexWhere(d => LocalDate.ofEpochDay(d.toLong).getYear == 2018 + years)
    b.result().map { s =>
      if (s.last >= lastYearFrom && rnd.nextDouble() < 0.10) {
        val rc = s.bars.close.clone()
        (math.max(lastYearFrom, s.first) to s.last).foreach { k =>
          rc(k - s.first) = round4(rc(k - s.first) * 1.001)
        }
        s.copy(revisedClose = Some(rc))
      } else s
    }
  }
  private val lastYear = 2018 + years
  val partitionDirs: Int = secs.map { s =>
    LocalDate.ofEpochDay(cal(s.last).toLong).getYear -
      LocalDate.ofEpochDay(cal(s.first).toLong).getYear + 1 }.sum
  val barRows: Long = secs.map(_.bars.size.toLong).sum

  private def yearOf(day: Int) = LocalDate.ofEpochDay(day.toLong).getYear

  private def barRowsOf(s: Sec, v2: Boolean, onlyLastYear: Boolean): Iterator[Row] =
    (0 until s.bars.size).iterator
      .filter(k => !onlyLastYear || yearOf(cal(s.first + k)) == lastYear)
      .map { k =>
        val c = if (v2) s.revisedClose.getOrElse(s.bars.close)(k) else s.bars.close(k)
        Row(s.sid, date(cal(s.first + k)), s.bars.open(k), s.bars.high(k),
          s.bars.low(k), c, s.bars.volume(k))
      }

  private def barsFrame(rows: Iterator[Row]): DataFrame =
    Session.frame(spark, rows.toSeq, barSchema, spark.sparkContext.defaultParallelism)

  private def masterInput: DataFrame = Session.frame(spark, secs.flatMap { s =>
    s.periods.map { p =>
      Row(10000L + s.idx, p.sym, s"CO${s.idx} INC", f"${100000 + s.idx}%010d",
        f"C${s.idx}%08d", date(p.fromDay), date(p.toDay))
    }
  }, masterInputSchema, 1)

  /** Build one lake: master, backfill, versioned copy and correction. */
  def build(root: String, t: Tracer): Unit = {
    t.span("master.build") {
      val m = SecurityMaster.assignSecurityIds(masterInput)
      Snapshots.replace(m, root, "master")
    }
    t.span("jobs.backfill") {
      Jobs.backfillDailyTicks(spark, barsFrame(secs.iterator.flatMap(barRowsOf(_, v2 = false, onlyLastYear = false))), root)
    }
    t.span("lake.commit") {
      Snapshots.commit(barsFrame(secs.iterator.flatMap(barRowsOf(_, v2 = false, onlyLastYear = false)))
        .withColumn("year", year(col("date"))), root, "bars",
        Seq("security_id", "year"), statsCols = Seq("date"))
    }
    val revised = secs.filter(_.revisedClose.isDefined)
    t.span("jobs.update") {
      val corr = barsFrame(revised.iterator.flatMap(barRowsOf(_, v2 = true, onlyLastYear = true)))
      Jobs.updateDailyTicks(spark, corr, root)
      Snapshots.commit(corr.withColumn("year", year(col("date"))), root, "bars",
        Seq("security_id", "year"), statsCols = Seq("date"))
    }
  }

  /** Check the built master against the generator's ids. */
  def masterCheck(root: String): Option[String] = {
    val got = Snapshots.readVersion(spark, root, "master",
        Snapshots.latestVersion(spark, root, "master").get)
      .select("security_id", "symbol", "start_date", "end_date").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toLocalDate.toEpochDay.toInt, r.getDate(3).toLocalDate.toEpochDay.toInt))
      .toSet
    val want = secs.flatMap(s => s.periods.map(p => (s.sid, p.sym, p.fromDay, p.toDay))).toSet
    if (got == want) None
    else Some(s"master: ${(got -- want).size} unexpected, ${(want -- got).size} missing rows")
  }

  // ------------------------------------------------------------- requests

  sealed trait Req { def kind: String }
  final case class ApiRange(sym: String, from: Int, to: Int) extends Req { val kind = "api" }
  final case class ApiYear(sid: Long, year: Int) extends Req { val kind = "api" }
  final case class SqlJoin(sym: String, from: Int, to: Int) extends Req { val kind = "sql" }
  final case class SqlAsOf(sid: Long, from: Int, to: Int) extends Req { val kind = "sql" }

  /** The seeded request list: half api, half sql; Zipf-skewed symbols;
    * ranges from one month to full history; 20% of symbol ranges cross
    * a rename. */
  def requests(count: Int): Vector[Req] = {
    val rnd = new SplittableRandom(seed * 7919L + 5L)
    val order = secs.indices.toArray
    (order.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val x = order(i); order(i) = order(j); order(j) = x
    }
    val w = order.indices.map(r => 1.0 / math.pow(r + 1.0, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail.toArray
    def zipf(): Sec = {
      val u = rnd.nextDouble() * cum.last
      val r = java.util.Arrays.binarySearch(cum, u)
      secs(order(if (r >= 0) r else -r - 1))
    }
    val renamed = secs.filter(_.renameAt.isDefined)
    def range(s: Sec): (Int, Int) = {
      val len = math.exp(math.log(21) + rnd.nextDouble() * (math.log(n) - math.log(21))).toInt
      val a = math.max(0, s.first - 10 + rnd.nextInt(math.max(1, s.last - s.first + 10)))
      (cal(a), cal(math.min(n - 1, a + len)))
    }
    def symRange(): (String, Int, Int) =
      if (renamed.nonEmpty && rnd.nextDouble() < 0.2) {
        val s = renamed(rnd.nextInt(renamed.size))
        val r = s.renameAt.get
        val (a, b) = (math.max(0, r - 10 - rnd.nextInt(240)), math.min(n - 1, r + 10 + rnd.nextInt(240)))
        (s.periods(rnd.nextInt(2)).sym, cal(a), cal(b))
      } else {
        val s = zipf()
        val (a, b) = range(s)
        (s.periods(rnd.nextInt(s.periods.size)).sym, a, b)
      }
    Vector.fill(count) {
      val u = rnd.nextDouble()
      if (u < 0.35) { val (sy, a, b) = symRange(); ApiRange(sy, a, b) }
      else if (u < 0.5) {
        val s = zipf()
        ApiYear(s.sid, yearOf(cal(s.first + rnd.nextInt(s.last - s.first + 1))))
      } else if (u < 0.8) { val (sy, a, b) = symRange(); SqlJoin(sy, a, b) }
      else { val s = zipf(); val (a, b) = range(s); SqlAsOf(s.sid, a, b) }
    }
  }

  // ---------------------------------------------------------------- model

  /** The symbol security `sid` traded under on `day`, if it was listed. */
  def symbolAt(sid: Long, day: Int): Option[String] =
    secs.lift((sid - 1001L).toInt).flatMap(_.periods.find(p => day >= p.fromDay && day <= p.toDay))
      .map(_.sym)

  private val bySymbol: Map[String, Seq[(Sec, Period)]] =
    secs.flatMap(s => s.periods.map(p => p.sym -> (s, p))).groupMap(_._1)(_._2)

  private def secRows(s: Sec, from: Int, to: Int, v2: Boolean): Digest = {
    var d = Digest.empty
    val close = if (v2) s.revisedClose.getOrElse(s.bars.close) else s.bars.close
    (0 until s.bars.size).foreach { k =>
      val day = cal(s.first + k)
      if (day >= from && day <= to)
        d = d + barDigest(s.sid, day, s.bars.open(k), s.bars.high(k), s.bars.low(k),
          close(k), s.bars.volume(k))
    }
    d
  }

  def expected(r: Req): Digest = r match {
    case ApiRange(sym, a, b) => symbolRange(sym, a, b)
    case SqlJoin(sym, a, b) => symbolRange(sym, a, b)
    case ApiYear(sid, y) =>
      secRows(secs((sid - 1001L).toInt), LocalDate.of(y, 1, 1).toEpochDay.toInt,
        LocalDate.of(y, 12, 31).toEpochDay.toInt, v2 = true)
    case SqlAsOf(sid, a, b) => secRows(secs((sid - 1001L).toInt), a, b, v2 = false)
  }

  private def symbolRange(sym: String, a: Int, b: Int): Digest =
    bySymbol.getOrElse(sym, Nil).foldLeft(Digest.empty) { case (d, (s, p)) =>
      d + secRows(s, math.max(a, p.fromDay), math.min(b, p.toDay), v2 = true)
    }

  // ------------------------------------------------------------ execution

  /** A direct `Lake.read`: the listing and schema inference `TicksClient`
    * does inside each call, timed as its own op (traced runs only). */
  def probe(root: String, t: Tracer): Unit =
    t.op("lake_probe") { t.span("lake.read") { Lake.read(spark, root, "daily_ticks") } } { _ => None }

  def run(root: String, t: Tracer, client: TicksClient, r: Req, want: Digest,
      kind: String, spanned: Boolean): Unit =
    r match {
      case ApiRange(sym, a, b) =>
        t.op(kind, spanned) {
          val df = t.span("ticks.get_daily.build") { client.getDailyTicks(sym, iso(a), iso(b)) }
          t.span("ticks.get_daily.exec") { df.collect() }
        } { rows =>
          t.count("ticks.get_daily.rows", rows.length)
          check(s"getDailyTicks($sym, ${iso(a)}, ${iso(b)})", rowsDigest(rows), want)
        }
      case ApiYear(sid, y) =>
        t.op(kind, spanned) { client.getYear(sid, y).collect() } { rows => check(s"getYear($sid, $y)", rowsDigest(rows), want) }
      case SqlJoin(sym, a, b) =>
        sql(t, kind, spanned, root, want, s"symbol join $sym ${iso(a)}..${iso(b)}", None,
          s"""SELECT t.security_id, t.date, t.open, t.high, t.low, t.close, t.volume
             |FROM graft.bars t JOIN graft.master m ON t.security_id = m.security_id
             |WHERE m.symbol = '$sym' AND t.date BETWEEN m.start_date AND m.end_date
             |  AND t.date BETWEEN DATE'${iso(a)}' AND DATE'${iso(b)}'""".stripMargin)
      case SqlAsOf(sid, a, b) =>
        sql(t, kind, spanned, root, want, s"as-of read $sid ${iso(a)}..${iso(b)}", Some(1L),
          s"""SELECT security_id, date, open, high, low, close, volume
             |FROM graft.bars VERSION AS OF 1
             |WHERE security_id = $sid AND date BETWEEN DATE'${iso(a)}' AND DATE'${iso(b)}'""".stripMargin)
    }

  private def sql(t: Tracer, kind: String, spanned: Boolean, root: String,
      want: Digest, what: String, version: Option[Long], q: String): Unit =
    t.op(kind, spanned) {
      val df = t.span("sql.select.plan") {
        val d = spark.sql(q); d.queryExecution.executedPlan; d
      }
      (df, t.span("sql.select.exec") { df.collect() })
    } { case (df, rows) =>
      if (t.traced) {
        val live = Snapshots.liveFiles(spark, root, "bars",
          version.getOrElse(Snapshots.latestVersion(spark, root, "bars").get)).size
        val read = filesRead(df, "bars")
        t.count("sql.select.files_read", read.toDouble)
        t.count("sql.select.files_skipped", (live - read).toDouble)
      }
      check(what, rowsDigest(rows), want)
    }
}

object Research {
  def client(spark: SparkSession, root: String): TicksClient =
    new TicksClient(spark, root, spark.table("graft.master"))
}
