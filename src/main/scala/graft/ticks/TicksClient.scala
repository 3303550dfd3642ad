package graft.ticks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.Lake
import graft.master.SecurityMaster

/** The symbol-level read path (§3.3 — reference storage/clients/ticks.py):
  * `getDailyTicks` and `getMinuteTicks` resolve the symbol on the driver
  * against the temporal master, then scan the lake filtered by literal
  * security_ids (PartitionFilters) and date bounds (pushed filters): the
  * read plan holds no join. Fuzzy bulk (symbol, day) resolution is
  * [[SecurityMaster.resolve]] (`resolveSymbols`).
  *
  * The reference's hand-rolled month routing and (symbol, year) caches
  * (ticks.py:130-171,271-292) dissolve into Catalyst partition pruning.
  */
class TicksClient(spark: SparkSession, root: String, master: DataFrame) {

  /** Bars for (symbol, [start, end]), routed per day through the master: a
    * rename boundary inside the range reads each day from the security
    * that carried the symbol then. Columns: security_id, the stored
    * columns, then symbol; rows ordered by date.
    */
  def getDailyTicks(symbol: String, start: String, end: String): DataFrame = {
    val inRange = resolve(symbol, start, end)
      .map { case (sid, lo, hi) =>
        col("security_id") === sid && col("date").between(lit(lo), lit(hi)) }
      .reduceOption(_ || _).getOrElse(lit(false))
    val ticks = Lake.read(spark, root, "daily_ticks")
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

  /** Year read with explicit partition-prunable predicates (S9 point read):
    * security_id and year reach the scan as PartitionFilters.
    */
  def getYear(securityId: Long, year: Int): DataFrame =
    Lake.read(spark, root, "daily_ticks")
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
    * scan as static PartitionFilters on all four partition columns —
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
    Lake.read(spark, root, TicksClient.MinuteTable)
      .filter(col("security_id").isin(sids: _*) &&
        col("year") === d.getYear && col("month") === d.getMonthValue &&
        col("day") === d.getDayOfMonth)
      .withColumn("symbol", lit(symbol))
      .orderBy(col("ts"))
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
