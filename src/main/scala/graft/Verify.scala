package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional trailing args: run only the named queries (local iteration).
    val only = args.drop(2).toSet
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce's narrow dependency pulls
      // the ENTIRE query computation into a single task (HOF-heavy per-row
      // queries ground one core for minutes at sf0.1); repartition keeps
      // the compute at full parallelism and single-tasks only the write of
      // the (small) result
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query timing on stderr: a stalled run is attributable to a
        // query from the captured tail alone (same rationale as Bench's
        // per-query lines)
        System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GraftSession.reset(spark)
    }
    val json = JObject(SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> JString(v) }: _*)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(render(json)))
    spark.stop()
  }
}
