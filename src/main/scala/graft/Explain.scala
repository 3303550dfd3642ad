package graft

/** Plan auditor: prints the formatted physical plan for selected queries
  * (or all) so pushdown, pruning, broadcast choice, and whole-stage codegen
  * spans can be inspected. Usage:
  *   runMain graft.Explain [sfDir] [query1,query2,...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set.empty
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n========== $name ==========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
