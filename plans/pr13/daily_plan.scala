// Prints the formatted physical plan of one TicksClient.getDailyTicks read
// over a small two-security lake (a rename and an open-ended interval).
// Run from spark-shell with the engine's classes on the classpath:
//   PLAN_ROOT=/tmp/daily_plan_lake spark-shell --driver-class-path <classes> \
//     --conf spark.sql.session.timeZone=UTC --conf spark.sql.shuffle.partitions=4 \
//     --conf spark.sql.extensions=graft.expressions.GraftExtensions \
//     -i plans/pr13/daily_plan.scala
import org.apache.spark.sql.functions._
import graft.ticks.TicksClient

val root = sys.env("PLAN_ROOT")
val day = (s: String) => java.sql.Date.valueOf(s)
val master = Seq(
    ("FB", 1L, day("2022-01-01"), day("2023-06-30")),
    ("META", 1L, day("2023-07-01"), day("9999-12-31")),
    ("ZZZ", 2L, day("2022-01-01"), day("9999-12-31")))
  .toDF("symbol", "security_id", "start_date", "end_date")
val bars = spark.range(0, 900).select(
    (col("id") % 2 + 1).as("security_id"),
    date_add(lit("2022-01-03").cast("date"), col("id").cast("int")).as("date"),
    (col("id") * 0.5).as("close"))
graft.jobs.Jobs.backfillDailyTicks(spark, bars, root)
val client = new TicksClient(spark, root, master)
client.getDailyTicks("META", "2023-01-01", "2024-06-30").count() // warm
println("========== getDailyTicks(FB, 2023-01-01, 2024-06-30) ==========")
println(client.getDailyTicks("FB", "2023-01-01", "2024-06-30")
  .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
System.exit(0)
