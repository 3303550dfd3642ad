package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.Jobs
import graft.lake.Lake
import graft.master.SecurityMaster
import graft.operators.Materialize
import graft.ticks.Calendar

/** The COMPOSED §3.2 daily-update lifecycle (reference
  * `update/app.py:1053-1200`): the six steps exist piecewise under the
  * gate (q43 ticks overwrite, q44 late-data dedup, q77 SCD-2 snapshot,
  * q120 trading gate) but a real deployment runs them as ONE ordered
  * sequence per day, twice a weekend, and must be idempotent on re-run.
  * q185 runs the full sequence over a two-day fixture — a trading Friday
  * then a non-trading Saturday — re-runs day 2 verbatim, and returns a
  * tall (part, k, v) end-state summary of every lake table the oracle
  * recomputes from the source tables alone. Ordering bugs (master
  * maintenance after resolution, ticks refresh on a non-trading day),
  * idempotence bugs (re-appended filings, re-added securities, double
  * consolidation), and round-trip bugs all flip a summary value.
  */
object LifecycleQueries {

  type Q = (SparkSession, String) => DataFrame

  private val D1 = java.sql.Date.valueOf("2003-07-04") // Friday: trading
  private val D2 = java.sql.Date.valueOf("2003-07-05") // Saturday: not

  def q185DailyLifecycle(s: SparkSession, dir: String): DataFrame = {
    // The lifecycle is ~40 DIMENSION-SIZED jobs (snapshot merges, gate
    // probes, manifest counts): per-task overhead dominates, so narrow
    // the shuffle width for the gate body and restore it after. The
    // result DataFrame is built AFTER the side effects, from lake reads.
    val prevShuffle = s.sessionState.conf.numShufflePartitions
    s.conf.set("spark.sql.shuffle.partitions", 8)
    try q185Body(s, dir)
    finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  private def q185Body(s: SparkSession, dir: String): DataFrame = {
    // fresh lake per invocation — the gate proves one full two-day run
    val root = s"file:///tmp/graft_lifecycle_${math.abs(dir.hashCode)}"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(rootPath, true)

    val orders = Tables.orders(s, dir)
    // synthetic security universe: 10 sids keep the partition count
    // deployment-shaped (sids × years), not one dir per customer; bars
    // cover 1994-1996 (the refresh/consolidation years) — dynamic
    // partition overwrite cost scales with DIRECTORY count on local FS,
    // and the lifecycle semantics need only the touched partitions
    val sid = col("o_custkey") % 10

    // §3.1 day-0 backfill: bars lake + manifest
    val bars0 = orders
      .filter(year(col("o_orderdate")).between(1994, 1996))
      .select(sid.as("security_id"),
        col("o_orderdate").cast("date").as("date"),
        col("o_totalprice").as("close"))
    Jobs.backfillDailyTicks(s, bars0, root)

    // day-N inputs, all deterministic slices of the source tables
    def snapshot(custMod: Int, suppMod: Int): DataFrame =
      Tables.customer(s, dir).filter(col("c_custkey") % custMod === 0)
        .select(concat(col("c_name"), lit(".N")).as("symbol"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("cik"),
          col("c_name").as("company"))
        .unionByName(Tables.supplier(s, dir)
          .filter(col("s_suppkey") % suppMod === 0)
          .select(col("s_name").as("symbol"),
            lpad((col("s_suppkey") + 900000).cast("string"), 10, "0").as("cik"),
            col("s_name").as("company")))
    def tickSlice(yr: Int): DataFrame =
      orders.filter(year(col("o_orderdate")) === yr &&
          col("o_orderstatus") =!= "F")
        .select(sid.as("security_id"),
          col("o_orderdate").cast("date").as("date"),
          (col("o_totalprice") * 2).as("close"))
    def filings(mod: Int): DataFrame =
      orders.filter(col("o_orderdate").cast("date") > lit("2001-07-25").cast("date") &&
        col("o_orderkey") % mod === 0)

    /** One §3.2 daily run: master maintenance → trading gate → ticks
      * refresh → filings probe → fundamental republish → sentiment
      * anti-join append. Returns (new master, traded?, filings appended).
      */
    def runDay(master: DataFrame, snap: DataFrame, asOf: java.sql.Date,
        slice: DataFrame, filed: DataFrame): (DataFrame, Boolean, Long) = {
      // 1. dimension maintenance first, always (SCD-2 snapshot merge)
      val m = Materialize.once(SecurityMaster.applySnapshot(master, snap, asOf))
      // 2. trading-day gate (I2) — one-day spine, dimension-sized count
      val trading = Calendar
        .weekdaySpine(s, asOf.toString, asOf.toString).count() == 1
      // 3. month-to-date ticks refresh only on trading days (I3 overwrite).
      // The refresh touches ONLY daily_ticks while steps 4-6 touch
      // fundamental/sentiment — independent jobs, so run the two chains
      // together and let the ticks tail back-fill with the filings chain
      // (guide §2.6: the day's steps are only sequential where they truly
      // depend). Both chains are awaited on every path: a failure in one
      // surfaces only once the other has finished.
      // The refresh counts no filings (0L), so the day's count is the
      // filings chain's.
      val refresh = () => { if (trading) Jobs.updateDailyTicks(s, slice, root); 0L }
      val filings = () => {
        // 4. recent-filings probe → hit securities (7-day lookback)
        val hits = filed.select(sid.as("security_id")).distinct()
        // 5. fundamental republish for hit securities (partition overwrite —
        // idempotent; hits is dimension-sized so the join broadcasts)
        val fund = orders.select(sid.as("security_id"),
            col("o_totalprice").as("p"))
          .join(broadcast(hits), Seq("security_id"))
          .groupBy("security_id")
          .agg(sum(round(col("p") * 100).cast("long")).as("value_cents"))
        Lake.overwritePartitions(fund, root, "fundamental", Seq("security_id"))
        // 6. sentiment append: only unseen accessions (I4 anti-join)
        val inc = filed.select(col("o_orderkey").as("accession"),
          sid.as("security_id"), (col("o_orderkey") % 100).as("score"))
        Jobs.appendNewFilings(s, inc, root, "sentiment", "accession")
      }
      val n = graft.DriverPool.all(s)(refresh, filings).last
      (m, trading, n)
    }

    val m0 = Materialize.once(MasterQueries.deriveMaster(s, dir))
    val (m1, t1, n1) = runDay(m0, snapshot(7, 11), D1, tickSlice(1995), filings(2))
    val (m2, t2, n2) = runDay(m1, snapshot(5, 13), D2, tickSlice(1996), filings(3))
    // idempotence: the ENTIRE day-2 sequence re-runs verbatim — the end
    // state must not move (no re-extended eras, re-added ids, re-appended
    // filings, double overwrite drift)
    val (m3, t3, n3) = runDay(m2, snapshot(5, 13), D2, tickSlice(1996), filings(3))
    // dimension-sized master diff (row-level, both directions)
    val rerunDiff = m3.exceptAll(m2).unionAll(m2.exceptAll(m3)).count()

    // I5 year consolidation: first call compacts, manifest-guarded re-run
    // is a no-op
    val c1 = Jobs.consolidateYear(s, root, 1994)
    val c2 = Jobs.consolidateYear(s, root, 1994)

    // final master export + read-back (the reference exports after
    // maintenance; reading back proves the round trip)
    m3.write.mode("overwrite").parquet(s"$root/master")

    // ---- end-state summary (tall, all BIGINT values) ----
    def aggRow(part: String, k: String, df: DataFrame, v: Column): DataFrame =
      df.agg(v.cast("long").as("v"))
        .select(lit(part).as("part"), lit(k).as("k"), col("v"))
    def litRow(part: String, k: String, v: Long): DataFrame =
      s.range(1).select(lit(part).as("part"), lit(k).as("k"),
        lit(v).cast("long").as("v"))

    val ticks = Lake.read(s, root, "daily_ticks")
    val mast = s.read.parquet(s"$root/master")
    val sent = s.read.parquet(s"$root/sentiment")
    val fund = Lake.read(s, root, "fundamental")
    Seq(
      aggRow("ticks", "rows", ticks, count(lit(1))),
      aggRow("ticks", "cents", ticks, sum(round(col("close") * 100).cast("long"))),
      aggRow("master", "rows", mast, count(lit(1))),
      aggRow("master", "end_d1", mast, count(when(col("end_date") === lit(D1), 1))),
      aggRow("master", "end_d2", mast, count(when(col("end_date") === lit(D2), 1))),
      aggRow("master", "max_sid", mast, max(col("security_id"))),
      aggRow("sentiment", "rows", sent, count(lit(1))),
      aggRow("fundamental", "rows", fund, count(lit(1))),
      aggRow("fundamental", "cents", fund, sum(col("value_cents"))),
      litRow("gate", "day1_trading", if (t1) 1L else 0L),
      litRow("gate", "day2_trading", if (t2) 1L else 0L),
      litRow("gate", "rerun_trading", if (t3) 1L else 0L),
      litRow("append", "day1", n1),
      litRow("append", "day2", n2),
      litRow("append", "rerun", n3),
      litRow("master", "rerun_diff", rerunDiff),
      litRow("consolidate", "first", if (c1) 1L else 0L),
      litRow("consolidate", "rerun", if (c2) 1L else 0L)
    ).reduce(_.unionByName(_))
  }

  /** The oracle replays the whole two-day end state from the source
    * tables: the ticks lake after the day-1 partition overwrite, the
    * master after BOTH snapshot applications (extension + dense-rank id
    * assignment, day 2 on top of day 1), the sentiment anti-join append
    * counts, the fundamental republish for filing-hit securities — and
    * pins the behavioral flags (non-trading Saturday skips ticks, re-run
    * appends nothing, consolidation re-run refuses) as literal expected
    * values.
    */
  val q185Sql: String =
    """WITH sid_orders AS (
      |  SELECT o_custkey % 10 AS sid, year(o_orderdate) AS yr,
      |    o_orderstatus AS st, o_totalprice AS p FROM orders),
      |bars AS (SELECT * FROM sid_orders WHERE yr BETWEEN 1994 AND 1996),
      |repl AS (SELECT DISTINCT sid FROM bars WHERE yr = 1995 AND st <> 'F'),
      |ticks AS (
      |  SELECT count(*) AS n, CAST(sum(CAST(round(p2*100) AS BIGINT)) AS BIGINT)
      |    AS cents FROM (
      |    SELECT p AS p2 FROM bars
      |    WHERE NOT (yr = 1995 AND sid IN (SELECT sid FROM repl))
      |    UNION ALL
      |    SELECT p*2 FROM bars WHERE yr = 1995 AND st <> 'F')),
      |m0 AS (
      |  SELECT 1000 + dense_rank() OVER (ORDER BY c_custkey) AS sid,
      |    c_name AS symbol, lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS cik,
      |    DATE '1994-01-01' AS sd,
      |    DATE '1997-01-01' + CAST(c_custkey % 400 AS INT) * INTERVAL 1 DAY
      |      - INTERVAL 1 DAY AS ed
      |  FROM customer
      |  UNION ALL
      |  SELECT 1000 + dense_rank() OVER (ORDER BY c_custkey),
      |    c_name || '.N', lpad(CAST(c_custkey AS VARCHAR), 10, '0'),
      |    DATE '1997-01-01' + CAST(c_custkey % 400 AS INT) * INTERVAL 1 DAY,
      |    DATE '2002-12-31'
      |  FROM customer),
      |s1 AS (
      |  SELECT c_name || '.N' AS symbol,
      |    lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS cik
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT s_name, lpad(CAST(s_suppkey + 900000 AS VARCHAR), 10, '0')
      |  FROM supplier WHERE s_suppkey % 11 = 0),
      |m1 AS (
      |  SELECT m.sid, m.symbol, m.cik, m.sd,
      |    CASE WHEN EXISTS (SELECT 1 FROM s1
      |        WHERE s1.symbol = m.symbol AND s1.cik = m.cik)
      |      AND m.ed < DATE '2003-07-04' THEN DATE '2003-07-04'
      |      ELSE m.ed END AS ed
      |  FROM m0 m
      |  UNION ALL
      |  SELECT (SELECT max(sid) FROM m0) + dense_rank() OVER (ORDER BY symbol, cik),
      |    symbol, cik, DATE '2003-07-04', DATE '2003-07-04'
      |  FROM s1 WHERE NOT EXISTS (SELECT 1 FROM m0
      |    WHERE m0.symbol = s1.symbol AND m0.cik = s1.cik)),
      |s2 AS (
      |  SELECT c_name || '.N' AS symbol,
      |    lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS cik
      |  FROM customer WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT s_name, lpad(CAST(s_suppkey + 900000 AS VARCHAR), 10, '0')
      |  FROM supplier WHERE s_suppkey % 13 = 0),
      |m2 AS (
      |  SELECT m.sid, m.symbol, m.cik, m.sd,
      |    CASE WHEN EXISTS (SELECT 1 FROM s2
      |        WHERE s2.symbol = m.symbol AND s2.cik = m.cik)
      |      AND m.ed < DATE '2003-07-05' THEN DATE '2003-07-05'
      |      ELSE m.ed END AS ed
      |  FROM m1 m
      |  UNION ALL
      |  SELECT (SELECT max(sid) FROM m1) + dense_rank() OVER (ORDER BY symbol, cik),
      |    symbol, cik, DATE '2003-07-05', DATE '2003-07-05'
      |  FROM s2 WHERE NOT EXISTS (SELECT 1 FROM m1
      |    WHERE m1.symbol = s2.symbol AND m1.cik = s2.cik)),
      |win AS (SELECT o_orderkey AS k, o_custkey % 10 AS sid FROM orders
      |  WHERE CAST(o_orderdate AS DATE) > DATE '2001-07-25'),
      |hits AS (SELECT DISTINCT sid FROM win WHERE k % 2 = 0 OR k % 3 = 0),
      |fund AS (
      |  SELECT o.sid, CAST(sum(CAST(round(o.p*100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM sid_orders o JOIN hits USING (sid) GROUP BY 1)
      |SELECT 'ticks' AS part, 'rows' AS k, CAST(n AS BIGINT) AS v FROM ticks
      |UNION ALL SELECT 'ticks', 'cents', cents FROM ticks
      |UNION ALL SELECT 'master', 'rows', count(*) FROM m2
      |UNION ALL SELECT 'master', 'end_d1',
      |  count(*) FILTER (ed = DATE '2003-07-04') FROM m2
      |UNION ALL SELECT 'master', 'end_d2',
      |  count(*) FILTER (ed = DATE '2003-07-05') FROM m2
      |UNION ALL SELECT 'master', 'max_sid', CAST(max(sid) AS BIGINT) FROM m2
      |UNION ALL SELECT 'sentiment', 'rows',
      |  count(*) FILTER (k % 2 = 0) + count(*) FILTER (k % 3 = 0 AND k % 2 <> 0)
      |  FROM win
      |UNION ALL SELECT 'fundamental', 'rows', count(*) FROM fund
      |UNION ALL SELECT 'fundamental', 'cents', CAST(sum(cents) AS BIGINT) FROM fund
      |UNION ALL SELECT 'gate', 'day1_trading', CAST(1 AS BIGINT)
      |UNION ALL SELECT 'gate', 'day2_trading', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'gate', 'rerun_trading', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'append', 'day1', count(*) FILTER (k % 2 = 0) FROM win
      |UNION ALL SELECT 'append', 'day2',
      |  count(*) FILTER (k % 3 = 0 AND k % 2 <> 0) FROM win
      |UNION ALL SELECT 'append', 'rerun', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'master', 'rerun_diff', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'consolidate', 'first', CAST(1 AS BIGINT)
      |UNION ALL SELECT 'consolidate', 'rerun', CAST(0 AS BIGINT)""".stripMargin

  val queries: Map[String, Q] = Map(
    "q185_daily_lifecycle" -> (q185DailyLifecycle _))

  val oracleSql: Map[String, String] = Map(
    "q185_daily_lifecycle" -> q185Sql)
}
