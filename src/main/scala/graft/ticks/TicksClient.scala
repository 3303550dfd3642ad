package graft.ticks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.{Lake, PartitionPath}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.master.SecurityMaster

/** The symbol-level read path (§3.3 — reference storage/clients/ticks.py):
  * `getDailyTicks` and `getMinuteTicks` resolve the symbol on the driver
  * against the temporal master, then read exactly the resolved
  * securities' partition directories ([[Lake.readDirs]]): a daily read
  * lists `security_id=<sid>/` once per resolved sid and keeps the `year=`
  * children inside the resolved dates, a year or minute read opens its
  * one directory. The schema comes from `Lake`'s per-table cache, so a
  * read builds without listing the table or inferring its schema; the
  * literal security_id and date filters stay on the scan. The read plan
  * holds no join. Fuzzy bulk (symbol, day) resolution is
  * [[SecurityMaster.resolve]] (`resolveSymbols`).
  *
  * The reference's hand-rolled month routing and (symbol, year) caches
  * (ticks.py:130-171,271-292) dissolve into the resolver and the literal
  * partition directories.
  */
class TicksClient(spark: SparkSession, root: String, master: DataFrame) {

  /** Bars for (symbol, [start, end]), routed per day through the master: a
    * rename boundary inside the range reads each day from the security
    * that carried the symbol then. Columns: security_id, the stored
    * columns, then symbol; rows ordered by date.
    */
  def getDailyTicks(symbol: String, start: String, end: String): DataFrame = {
    val intervals = resolve(symbol, start, end)
    val inRange = intervals
      .map { case (sid, lo, hi) =>
        col("security_id") === sid && col("date").between(lit(lo), lit(hi)) }
      .reduceOption(_ || _).getOrElse(lit(false))
    // one listing per resolved sid; a year directory is read when some
    // interval of its sid overlaps the year
    val dirs = intervals.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (sid, ivs) =>
        val sidDir = TicksClient.dir(spark, Seq("security_id" -> sid))
        childDirs(TicksClient.DailyTable, sidDir).filter { child =>
          PartitionPath.layout(child) match {
            case Seq(_, ("year", y)) if y != null && y.forall(_.isDigit) =>
              ivs.exists { case (_, lo, hi) =>
                yearOf(lo) <= y.toInt && y.toInt <= yearOf(hi) }
            case _ => false
          }
        }
    }
    val ticks = Lake.readDirs(spark, root, TicksClient.DailyTable, dirs)
    ticks.filter(inRange)
      .select(col("security_id") +:
        ticks.columns.filterNot(_ == "security_id").toSeq.map(col): _*)
      .withColumn("symbol", lit(symbol))
      .orderBy(col("date"))
  }

  /** Split-adjusted daily read — reference parity for
    * `get_daily(..., adjusted=True)` (crsp_ticks.py:139-155, where
    * CRSP's cumulative factor divides each price; alpaca_ticks.py:116's
    * `adjustment: "split"`). Here the cumulative factor is DERIVED from
    * a raw actions feed `(security_id, date, num, den)` as exact
    * rationals via [[CorporateActions.adjust]]. Adds
    * (close_cents, fnum, fden, adj_milli, adj_close).
    */
  def getDailyTicksAdjusted(symbol: String, start: String, end: String,
      actions: DataFrame): DataFrame = {
    val raw = getDailyTicks(symbol, start, end)
      .withColumn("close_cents", round(col("close") * 100).cast("long"))
    CorporateActions
      .adjust(raw, actions, "security_id", "date", "close_cents")
      .withColumn("adj_close", col("adj_milli") / 100000.0)
  }

  /** Full-history read (reference get_daily_ticks_history,
    * ticks.py:81-130): all years with optional date bounds. The reference
    * resolves the symbol once, by the end year; routing each day through
    * its own master interval (getDailyTicks) is strictly more correct
    * across renames, and the consolidated-history-file special case
    * dissolves into the same pruned lake scan.
    */
  def getDailyTicksHistory(symbol: String,
      start: Option[String] = None, end: Option[String] = None): DataFrame =
    getDailyTicks(symbol,
      start.getOrElse("1900-01-01"), end.getOrElse("9999-12-31"))

  /** Year read (S9 point read): the one `security_id=/year=` directory,
    * when it exists, with security_id and year still filtered as
    * PartitionFilters.
    */
  def getYear(securityId: Long, year: Int): DataFrame =
    Lake.readDirs(spark, root, TicksClient.DailyTable, existing(
        TicksClient.DailyTable,
        TicksClient.dir(spark, Seq("security_id" -> securityId, "year" -> year))))
      .filter(col("security_id") === securityId && col("year") === year)
      .orderBy(col("date"))

  /** Bulk (symbol, day) resolution for fact-table attachment. */
  def resolveSymbols(df: DataFrame): DataFrame =
    SecurityMaster.resolve(df, master)

  /** Minute bars for (symbol, trading day) — the reference's second read
    * API (minute layout `data/raw/ticks/minute/{security_id}/{YYYY}/{MM}/
    * {DD}/ticks.parquet`, reference storage/handlers/ticks.py:441,
    * update/app.py:619; symbol resolution _resolve_symbol,
    * storage/clients/ticks.py:130-146). The symbol resolves AS OF the
    * requested day (strictly more correct than the reference's year-end
    * resolution across an intra-year rename), and the read reaches the
    * scan as its day directories alone (`security_id=/year=/month=/day=`,
    * those that exist), still filtered by all four partition columns —
    * the {sid}/{Y}/{MM}/{DD} directory walk with no IO outside the day.
    *
    * The sid lookup is the driver-side `resolve` `getDailyTicks` uses,
    * over the one day — the lookup the reference caches per (symbol, year).
    *
    * Bars come back in stored ET wall-clock (`timestamp_ntz`, see
    * [[MinuteBars]]): a spring-forward day has no 02:xx rows and a
    * fall-back day carries the 01:xx ET fold twice (two UTC instants,
    * one wall-clock minute) — exactly the exchange-clock shape.
    */
  def getMinuteTicks(symbol: String, day: String): DataFrame = {
    val d = java.time.LocalDate.parse(day)
    val sids = resolve(symbol, day, day).map(_._1)
    val dirs = sids.distinct.flatMap(sid => existing(TicksClient.MinuteTable,
      TicksClient.dir(spark, Seq("security_id" -> sid, "year" -> d.getYear,
        "month" -> d.getMonthValue, "day" -> d.getDayOfMonth))))
    Lake.readDirs(spark, root, TicksClient.MinuteTable, dirs)
      .filter(col("security_id").isin(sids: _*) &&
        col("year") === d.getYear && col("month") === d.getMonthValue &&
        col("day") === d.getDayOfMonth)
      .withColumn("symbol", lit(symbol))
      .orderBy(col("ts"))
  }

  private def fs(table: String): (FileSystem, Path) = {
    val p = new Path(s"$root/$table")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** `dir` (relative to `table`) when it exists: one stat. */
  private def existing(table: String, dir: String): Seq[String] = {
    val (f, base) = fs(table)
    if (f.exists(new Path(base, dir))) Seq(dir) else Nil
  }

  /** The directories right under `dir` (relative to `table`), as
    * `dir/child/`: one listing, none when `dir` is absent. */
  private def childDirs(table: String, dir: String): Seq[String] = {
    val (f, base) = fs(table)
    val p = new Path(base, dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory)
      .map(c => s"$dir${c.getPath.getName}/")
  }

  private def yearOf(d: Any): Int = d match {
    case d: java.time.LocalDate => d.getYear
    case d: java.sql.Date => d.toLocalDate.getYear
  }

  /** (security_id, first day, last day) of each master interval carrying
    * `symbol`, clipped to [start, end]. Dimension-sized driver collect (the
    * master is broadcast-scale), run when the read is built. */
  private def resolve(symbol: String, start: String, end: String)
      : Seq[(Long, Any, Any)] = {
    val s = lit(start).cast("date")
    val e = lit(end).cast("date")
    master
      .filter(col("symbol") === symbol &&
        col("start_date") <= e && col("end_date") >= s)
      .select(col("security_id").cast("long"),
        greatest(col("start_date"), s), least(col("end_date"), e))
      .collect().toSeq.map(r => (r.getLong(0), r.get(1), r.get(2)))
  }
}

object TicksClient {

  val MinuteTable = "minute_ticks"
  private val DailyTable = "daily_ticks"

  /** `c=v/…/` for partition values in order, spelled by [[PartitionPath]]
    * (integral values read back as written by `partitionBy`). */
  private def dir(spark: SparkSession, values: Seq[(String, Long)]): String =
    PartitionPath.of(spark,
      StructType(values.map { case (c, _) => StructField(c, LongType) }),
      values.map(_._2))

  /** Write minute bars into the {sid}/{Y}/{MM}/{DD} layout. Partition
    * columns derive from the stored ET wall-clock `ts` — the reference's
    * day folders are ET trading days (handlers/ticks.py:441). Append-mode:
    * the daily incremental adds new day directories without touching old
    * ones (use [[graft.lake.Lake.overwritePartitions]] semantics via
    * [[rewriteMinuteTicks]] for idempotent re-runs).
    */
  def writeMinuteTicks(df: DataFrame, root: String): Unit =
    Lake.appendPartitions(withDayPartitions(df), root, MinuteTable,
      Seq("security_id", "year", "month", "day"))

  /** Idempotent variant: dynamic partition overwrite of exactly the
    * (sid, day) partitions present in `df`.
    */
  def rewriteMinuteTicks(df: DataFrame, root: String): Unit =
    Lake.overwritePartitions(withDayPartitions(df), root, MinuteTable,
      Seq("security_id", "year", "month", "day"))

  private def withDayPartitions(df: DataFrame): DataFrame =
    df.withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
      .withColumn("day", dayofmonth(col("ts")))
}
