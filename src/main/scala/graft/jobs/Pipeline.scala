package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.Lake
import graft.master.SecurityMaster
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}

/** CLI entry point mirroring the reference's three pipelines (§3.1 backfill,
  * §3.2 daily update, I5 consolidation) over the driver fixtures:
  *
  * {{{
  *   runMain graft.jobs.Pipeline backfill   <sfDir> <lakeRoot>
  *   runMain graft.jobs.Pipeline update     <sfDir> <lakeRoot> <year> <month>
  *   runMain graft.jobs.Pipeline consolidate <sfDir> <lakeRoot> <year>
  *   runMain graft.jobs.Pipeline read       <sfDir> <lakeRoot> <symbol> <start> <end>
  * }}}
  *
  * Bars are derived deterministically from the orders fixture (security =
  * customer, date = order date, close = total price / 1000, volume = order
  * key); the master comes from [[graft.queries.MasterQueries.deriveMaster]]
  * so the read path exercises rename-boundary resolution. Prints one JSON
  * summary line per run.
  */
object Pipeline {

  private def fixtureBars(s: SparkSession, sfDir: String): DataFrame = {
    // dense id per custkey = row number over DISTINCT custkeys, assigned via
    // the distributed prefix sum (no single-partition window) and joined back
    val ids = graft.operators.GlobalOrder.runningRowNumber(
      graft.queries.Tables.customer(s, sfDir).select(col("c_custkey")).distinct(),
      Seq("c_custkey"), "__rn")
      .select(col("c_custkey"), (lit(1000L) + col("__rn")).as("security_id"))
    graft.queries.Tables.orders(s, sfDir)
      .join(ids, col("o_custkey") === col("c_custkey"))
      .select(
        col("security_id"),
        col("o_orderdate").cast("date").as("date"),
        round(col("o_totalprice") / 1000, 4).as("close"),
        col("o_orderkey").as("volume"))
  }

  def main(args: Array[String]): Unit = {
    val cmd = args(0)
    val sfDir = args(1)
    val root = args(2)
    val spark = graft.GraftSession.create()

    val t0 = System.nanoTime()
    val result: Map[String, Any] = cmd match {
      case "backfill" =>
        Jobs.backfillDailyTicks(spark, fixtureBars(spark, sfDir), root)
        Map("rows" -> Lake.read(spark, root, "daily_ticks").count(),
          "partitions" -> Lake.listPartitions(spark, root, "daily_ticks").size)

      case "update" =>
        val (yr, mo) = (args(3).toInt, args(4).toInt)
        val slice = fixtureBars(spark, sfDir)
          .filter(year(col("date")) === yr && month(col("date")) === mo)
        Jobs.updateDailyTicks(spark, slice, root)
        Map("rows_refreshed" -> slice.count())

      case "consolidate" =>
        val ran = Jobs.consolidateYear(spark, root, args(3).toInt)
        Map("consolidated" -> ran,
          "manifest" -> Lake.readManifest(spark, root, "daily_ticks")
            .getOrElse("consolidated_years", ""))

      case "read" =>
        // cache() without unpersist is deliberate here ONLY because this is
        // a run-to-completion CLI: spark.stop() a few lines down drops the
        // whole CacheManager. A long-lived session must use
        // operators.Materialize.once instead (the round-4 lesson).
        val master = graft.queries.MasterQueries.deriveMaster(spark, sfDir)
          .withColumn("symbol", SecurityMaster.normalizeSymbol(col("symbol")))
          .cache()
        val client = new graft.ticks.TicksClient(spark, root, master)
        val symbol = args(3).toUpperCase.replaceAll("[.\\-]", "") // F1 normalization
        val bars = client.getDailyTicks(symbol, args(4), args(5))
        Map("rows" -> bars.count())

      case other => Map("error" -> s"unknown command: $other")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val summary = (result.toSeq :+ ("cmd" -> cmd) :+ ("sec" -> f"$secs%.2f"))
      .map { case (k, v) => k -> JString(v.toString) }
    println(compact(render(JObject(summary: _*))))
    spark.stop()
  }
}
