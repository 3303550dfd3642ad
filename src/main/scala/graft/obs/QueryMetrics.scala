package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{JDouble, JLong, JObject}

/** What one query run cost, layer by layer: driver planning per
  * `QueryPlanningTracker` phase, summed over every execution the run
  * triggered, then the Spark jobs, stages and tasks it ran with their
  * summed task metrics. `wall x cores - runMs` is the idle and scheduling
  * gap; `runMs >> cpuMs` means blocking I/O or GC. */
final case class Layers(
    executions: Long, planMs: Map[String, Double],
    jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuMs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, fetchWaitMs: Long,
    spillBytes: Long) {
  def toJson: JObject = JObject(
    "executions" -> JLong(executions),
    "plan_ms" -> JObject(planMs.toSeq.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }: _*),
    "jobs" -> JLong(jobs), "stages" -> JLong(stages), "tasks" -> JLong(tasks),
    "run_ms" -> JLong(runMs), "cpu_ms" -> JLong(cpuMs), "gc_ms" -> JLong(gcMs),
    "shuffle_read_bytes" -> JLong(shuffleReadBytes),
    "shuffle_write_bytes" -> JLong(shuffleWriteBytes),
    "fetch_wait_ms" -> JLong(fetchWaitMs), "spill_bytes" -> JLong(spillBytes))
}

/** Listener that accumulates [[Layers]] between [[snapshot]] calls.
  *
  * Both buses deliver asynchronously, so [[snapshot]] first drains them:
  * it runs a marker query, whose one job is the marker job, and waits until
  * the listener has seen both end. Each bus delivers in order, so every
  * event posted before the marker has then arrived. The marker's own
  * execution, job, stages and tasks are not counted.
  */
final class QueryMetrics extends SparkListener with QueryExecutionListener {
  private val phases = new ConcurrentHashMap[String, Double]()
  private val executions, jobs, stages, tasks, runMs, cpuNs, gcMs,
    shuffleRead, shuffleWrite, fetchWaitMs, spill = new AtomicLong
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var marker: QueryExecution = null
  @volatile private var markerSeen = false
  @volatile private var markerJobEnded = false

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty(QueryMetrics.Prop) != null) {
      markerJobs.add(e.jobId)
      e.stageIds.foreach(markerStages.add)
    } else jobs.incrementAndGet()

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) markerJobEnded = true

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!markerStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!markerStages.contains(e.stageId)) {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  private def record(qe: QueryExecution): Unit =
    if (qe eq marker) markerSeen = true
    else {
      executions.incrementAndGet()
      qe.tracker.phases.foreach { case (k, v) =>
        phases.merge(k, (v.endTimeMs - v.startTimeMs).toDouble, (a, b) => a + b)
      }
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Block until every event posted before this call has been delivered. */
  private def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    markerSeen = false
    markerJobEnded = false
    sc.setLocalProperty(QueryMetrics.Prop, "marker")
    try {
      val df = spark.range(1)
      marker = df.queryExecution
      df.collect()
    } finally sc.setLocalProperty(QueryMetrics.Prop, null)
    val deadline = System.nanoTime() + 20000000000L
    while (!(markerSeen && markerJobEnded) && System.nanoTime() < deadline)
      Thread.sleep(2)
    if (!(markerSeen && markerJobEnded))
      System.err.println("[obs] listener drain timed out: counts may be short")
  }

  /** Drain, return everything counted since the previous snapshot, and
    * start counting afresh. Call it outside the timed region. */
  def snapshot(spark: SparkSession): Layers = {
    drain(spark)
    import scala.jdk.CollectionConverters._
    val planMs = phases.asScala.toMap
    phases.clear()
    markerStages.clear()
    Layers(executions.getAndSet(0), planMs,
      jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0),
      runMs.getAndSet(0), cpuNs.getAndSet(0) / 1000000, gcMs.getAndSet(0),
      shuffleRead.getAndSet(0), shuffleWrite.getAndSet(0),
      fetchWaitMs.getAndSet(0), spill.getAndSet(0))
  }
}

object QueryMetrics {
  /** Local property that marks the drain's marker job. */
  private val Prop = "graft.obs.marker"

  /** A listener registered on both of `spark`'s buses. */
  def attach(spark: SparkSession): QueryMetrics = {
    val l = new QueryMetrics
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def detach(spark: SparkSession, l: QueryMetrics): Unit = {
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}
