package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.sql.GraftCatalog
import graft.ticks.TicksClient

/** `lake_day`: one trading day of the lake, as a closed loop with one
  * client thread. Each day the writer runs its epoch on `daily_bars`
  * (month-to-date commit, MERGE of corrections, read-your-write, and at
  * month end the top-K universe, compaction and vacuum), then the research
  * client issues two `TicksClient` reads and two catalog SQL reads over
  * the backfilled research lake. The day's latency is the workload's op. */
final class LakeDayWorkload(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  private val research = new Research(spark, seed, securities = 40, years = 2)
  private val daily = new Daily(spark, seed, research.securities, research.symbolAt)
  /** The seeded request stream, split by request type: each day asks one
    * of each, so every day has the same mix. */
  private val byType = research.requests(8000).groupBy(_.getClass.getSimpleName).values
    .toVector.sortBy(_.head.getClass.getSimpleName)
  private var root: String = _
  private var client: TicksClient = _
  private var next = 0
  private var days = 0

  val primary = "day"
  // days differ (the month end); symbol-range reads all do the same work
  override val uniformKind = "api"

  def setup(t: Tracer): Unit = {
    root = s"$work/lake"
    research.build(root, t)
    daily.build(root, t)
    GraftCatalog.install(spark, "graft", root)
    client = Research.client(spark, root)
  }

  def warmup(t: Tracer): Unit = {
    t.op("check") { research.masterCheck(root) } { identity }
    // two days: the first measured days would still be warming up
    day(-2, t, spanned = false)
    day(-1, t, spanned = false)
  }

  def step(i: Int, t: Tracer, spanned: Boolean): Unit = {
    day(i, t, spanned)
    days += 1
  }

  /** The writer's epoch, then one read of each type (symbol range and
    * year through `TicksClient`, symbol join and as-of range through SQL);
    * inputs and the model's answers are prepared before the day's clock
    * starts. A traced day first probes `Lake.read` once per API read,
    * outside the day. */
  private def day(i: Int, t: Tracer, spanned: Boolean): Unit = {
    val e = daily.prepare(i)
    val reqs = byType.map { rs =>
      val r = rs(next % rs.size)
      (r, research.expected(r))
    }
    next += 1
    val warm = i < 0
    if (t.traced && spanned && !warm)
      reqs.foreach { case (r, _) => if (r.kind == "api") research.probe(root, t) }
    t.group(if (warm) "warmup" else "day", spanned) {
      daily.run(e, t, spanned)
      reqs.foreach { case (r, want) =>
        research.run(root, t, client, r, want, if (warm) "warmup" else r.kind, spanned)
      }
    }
    daily.after(e)
  }

  def work: Double = days

  def finish(t: Tracer): Unit = daily.finish(t)

  def report(t: Tracer): Seq[(String, Double, String)] = {
    def lat(k: String) = t.latencies.getOrElse(k, Nil).toSeq
    Stats.report("day", lat("day")) ++ Stats.report("api_read", lat("api")) ++
      Stats.report("sql_read", lat("sql")) ++ daily.report(t)
  }

  def sizes: Seq[(String, Double)] = Seq(
    "research_securities" -> research.securities.toDouble,
    "research_years" -> research.years.toDouble,
    "research_bar_rows" -> research.barRows.toDouble,
    "research_partition_dirs" -> research.partitionDirs.toDouble) ++
    daily.sizes.map { case (k, v) => s"daily_$k" -> v }
}
