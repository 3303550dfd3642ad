package graft.obs

import graft.SparkTestBase

/** The listener's drain is deterministic: each snapshot holds exactly the
  * work run since the previous one. An event still in flight at a snapshot
  * would be missing from that run's counts and added to the next one's. */
class QueryMetricsSpec extends SparkTestBase {

  test("every snapshot counts exactly the run before it, 20 times in a row") {
    val metrics = QueryMetrics.attach(spark)
    try {
      metrics.snapshot(spark)
      for (i <- 1 to 20) {
        // one SQL execution (1 job, 1 stage, 4 tasks) and one RDD job
        // without an execution (1 stage, 2 tasks)
        assert(spark.range(0, 64, 1, 4).collect().length === 64)
        assert(spark.sparkContext.parallelize(1 to 8, 2).count() === 8)
        val l = metrics.snapshot(spark)
        assert((l.jobs, l.stages, l.tasks) === ((2L, 2L, 6L)), s"run $i")
        assert(l.executions === 1L, s"run $i")
        assert(l.planMs.nonEmpty, s"run $i")
      }
    } finally QueryMetrics.detach(spark, metrics)
  }
}
