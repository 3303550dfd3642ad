package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span's id (-1 for an op's root span); spans of one op share `req`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, req: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine counters for one (op, span) key, summed over its Spark jobs. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs, schedMs = 0.0
  var shuffleWrite, spill = 0L
}

/** SparkListener + QueryExecutionListener registered by the traced run.
  *
  * A job is attributed to the op/span named by the `graft.perfbench.op`
  * local property the benchmark sets around each call; jobs started from
  * threads that do not carry the property are counted as unattributed.
  * Planning phases come from each execution's `QueryPlanningTracker` and
  * are attributed by time to the op whose interval contains them (the
  * benchmark runs one client thread, so op intervals never overlap).
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val byKey = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  @volatile var unattributedJobs = 0L
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()
  /** (phase start ms, total planning ms) per finished execution. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  @volatile private var marker: QueryExecution = null
  @volatile private var markerSeen = false

  private def counters(k: String) = byKey.computeIfAbsent(k, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p =>
      Option(p.getProperty(EngineListener.Prop))).orNull
    if (key == EngineListener.DrainKey) return
    if (key == null) unattributedJobs += 1
    else {
      val c = counters(key)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(s => stageKey.put(s, key))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.add(e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = stageKey.get(e.stageInfo.stageId)
    if (key != null) { val c = counters(key); c.synchronized { c.stages += 1 } }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = stageKey.get(e.stageId)
    if (key == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    val info = e.taskInfo
    val c = counters(key)
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
      // the Spark UI's scheduler delay: task wall not spent running,
      // deserializing or shipping the result
      c.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def record(qe: QueryExecution): Unit = {
    if (qe eq marker) { markerSeen = true; return }
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      val start = ph.values.map(_.startTimeMs).min
      plans.add((start, ph.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Wait until both listener queues have delivered every event posted
    * before this call: a marker query and a marker job are posted last,
    * and each bus delivers in order. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(EngineListener.Prop)
    sc.setLocalProperty(EngineListener.Prop, EngineListener.DrainKey)
    sc.setJobGroup(EngineListener.DrainKey, "listener drain")
    val df = spark.range(1)
    marker = df.queryExecution
    df.collect()
    val jobs = sc.statusTracker.getJobIdsForGroup(EngineListener.DrainKey)
    sc.clearJobGroup()
    sc.setLocalProperty(EngineListener.Prop, prev)
    val deadline = System.nanoTime() + 20000000000L
    while ((!markerSeen || !jobs.forall(endedJobs.contains)) &&
      System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object EngineListener {
  val Prop = "graft.perfbench.op"
  val DrainKey = "__drain"
}

/** Times ops and, in a traced run, the spans inside them. Every op is
  * wrapped: an exception or a wrong result is recorded (op, class,
  * message) and counted, never thrown. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  val listener: Option[EngineListener] =
    if (traced) Some(new EngineListener) else None
  listener.foreach { l =>
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
  }

  /** Latency samples per op kind, in ms, of ops that succeeded. */
  val latencies = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Samples of ops run with spans off, in a traced run (overhead). */
  val untracedLatencies = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val failures = ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L
  val spans = ArrayBuffer.empty[Span]
  /** Named quantities a traced run records (files, bytes, rows). */
  val counts = ArrayBuffer.empty[(String, Double)]

  private var nextId = 0
  private var nextReq = 0
  private var stack: List[Span] = Nil
  private var spanning = false
  /** The open group span (a workload's composite op), if any. */
  private var group: Option[Span] = None
  private val sc = spark.sparkContext

  private def key(req: Int, name: String) = s"$req|$name"

  private def setProp(): Unit = sc.setLocalProperty(EngineListener.Prop,
    stack.headOption.map(s => key(s.req, s.name)).getOrElse("untraced"))

  /** Run one op. `call` is timed; `verify` runs after the clock stops
    * and returns a reason when the result is wrong. `spanned` = false
    * runs the op with spans off (a traced run alternates, to measure
    * the tracing overhead on the same workload state). */
  def op[T](kind: String, spanned: Boolean = true)(call: => T)(
      verify: T => Option[String]): Option[T] = {
    attempted += 1
    spanning = traced && spanned
    val req = nextReq; nextReq += 1
    val t0 = System.nanoTime()
    if (spanning) {
      stack = List(Span(nextId, kind, t0, 0L, group.map(_.id).getOrElse(-1), req))
      nextId += 1
    }
    if (traced) setProp()
    val res = try Right(call) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    if (spanning) {
      val root = stack.head.copy(endNs = t1)
      spans += root
      stack = Nil
    }
    if (traced) sc.setLocalProperty(EngineListener.Prop, null)
    spanning = false
    res match {
      case Left(e) =>
        failures += ((kind, e.getClass.getName, String.valueOf(e.getMessage).take(500)))
        None
      case Right(v) =>
        val wrong = try verify(v) catch {
          case e: Throwable => Some(s"verify threw ${e.getClass.getName}: ${e.getMessage}")
        }
        wrong match {
          case Some(why) =>
            failures += ((kind, "WrongResult", why.take(500))); None
          case None =>
            val into = if (traced && !spanned) untracedLatencies else latencies
            into.getOrElseUpdate(kind, ArrayBuffer.empty) += (t1 - t0) / 1e6
            Some(v)
        }
    }
  }

  /** A composite op: the ops run in `body` become its children, and its
    * wall time is recorded under `kind` when none of them failed. */
  def group(kind: String, spanned: Boolean)(body: => Unit): Unit = {
    val f0 = failures.size
    val t0 = System.nanoTime()
    if (traced && spanned) {
      group = Some(Span(nextId, kind, t0, 0L, -1, nextReq)); nextId += 1; nextReq += 1
    }
    try body catch { case e: Throwable => fail(kind, e) }
    val t1 = System.nanoTime()
    group.foreach(g => spans += g.copy(endNs = t1))
    group = None
    if (failures.size == f0) {
      val into = if (traced && !spanned) untracedLatencies else latencies
      into.getOrElseUpdate(kind, ArrayBuffer.empty) += (t1 - t0) / 1e6
    }
  }

  /** True inside an op that records spans. */
  def spansOn: Boolean = spanning

  /** A child span around one call into a layer (no-op with spans off). */
  def span[T](name: String)(body: => T): T =
    if (!spanning) body
    else {
      val parent = stack.head
      val s = Span(nextId, name, System.nanoTime(), 0L, parent.id, parent.req)
      nextId += 1
      stack = s :: stack
      setProp()
      try body finally {
        spans += s.copy(endNs = System.nanoTime())
        stack = stack.tail
        setProp()
      }
    }

  /** Record a measured quantity (files, bytes, rows) in a traced run. */
  def count(name: String, value: Double): Unit =
    if (traced) counts += ((name, value))

  /** Record a failure that happened outside any op (set-up, final check). */
  def fail(kind: String, e: Throwable): Unit = {
    attempted += 1
    failures += ((kind, e.getClass.getName, String.valueOf(e.getMessage).take(500)))
  }

  private def counters(s: Span): Counters = listener
    .flatMap(l => Option(l.byKey.get(key(s.req, s.name))))
    .getOrElse(new Counters)

  /** Counters of a span plus all spans nested in it. */
  def countersDeep(s: Span): Counters = {
    val out = new Counters
    val ids = scala.collection.mutable.Set(s.id)
    spans.sortBy(_.id).foreach { x =>
      if (x.id == s.id || ids.contains(x.parent)) {
        ids += x.id
        val c = counters(x)
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.runMs += c.runMs; out.cpuMs += c.cpuMs; out.gcMs += c.gcMs
        out.schedMs += c.schedMs; out.shuffleWrite += c.shuffleWrite
        out.spill += c.spill
      }
    }
    out
  }

  def finish(): Unit = listener.foreach { l =>
    l.drain(spark)
    sc.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }

  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"req":${s.req}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** `<name>_p50_ms`, `<name>_tail_ms` (labelled by `tail`) and `<name>_n`. */
  def report(name: String, xs: Seq[Double]): Seq[(String, Double, String)] = {
    val (t, label) = tail(xs)
    Seq((s"${name}_p50_ms", median(xs), "ms"), (s"${name}_tail_ms", t, s"ms ($label)"),
      (s"${name}_n", xs.size.toDouble, "count"))
  }

  /** The highest of p99/p95/p90/p75/p50 that has at least ten samples
    * beyond it, or the maximum when there are fewer than 20 samples; with
    * its label and the sample count, as in `p90 of 120` or `max of 6`. */
  def tail(xs: Seq[Double]): (Double, String) =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => (quantile(xs, p / 100.0), s"p$p of ${xs.size}"))
      .getOrElse((if (xs.isEmpty) Double.NaN else xs.max, s"max of ${xs.size}"))
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Order-independent content digest: the sum (mod 2^64) of a 64-bit mix
  * of each row's fields, plus the row count. Both the engine's output and
  * the model's expectation are digested the same way. */
final case class Digest(sum: Long, rows: Long) {
  def +(o: Digest): Digest = Digest(sum + o.sum, rows + o.rows)
  def -(o: Digest): Digest = Digest(sum - o.sum, rows - o.rows)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def row(fields: Long*): Digest = {
    var h = 0x2545F4914F6CDD1DL
    fields.foreach(f => h = mix(h ^ f))
    Digest(h, 1L)
  }
  def dbl(d: Double): Long = java.lang.Double.doubleToLongBits(d)
}
