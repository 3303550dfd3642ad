package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop of ops over seeded inputs. */
trait Workload {
  /** The op kind whose median is the workload's `p50_ms`. */
  def primary: String
  /** The op kind whose traced-minus-untraced median is the tracing
    * overhead: one whose ops all do the same kind of work. */
  def uniformKind: String = primary
  /** Build inputs and the lake into a fresh directory (timed). */
  def setup(t: Tracer): Unit
  /** Untimed warm-up after the last set-up. */
  def warmup(t: Tracer): Unit
  /** One op of the closed loop. */
  def step(i: Int, t: Tracer, spanned: Boolean): Unit
  /** Units of work done by the ops run so far (requests, days, docs). */
  def work: Double
  /** Checks that run once, after the measured window. */
  def finish(t: Tracer): Unit
  /** Workload-level figures by name, with unit, for the report. */
  def report(t: Tracer): Seq[(String, Double, String)]
  /** Input sizes, for the report. */
  def sizes: Seq[(String, Double)]
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String, spans: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m("spans"))
  }

  def make(name: String, spark: SparkSession, seed: Long, work: String): Workload =
    name match {
      case "lake_day" => new LakeDayWorkload(spark, seed, work)
      case "curation_batch" => new CurationWorkload(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Session.create(args.work, cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val t = new Tracer(spark, args.trace)
    val out = run(args, spark, t, sessionS)
    val (heapMb, storageMb) = Session.retainedMb(spark)
    val env = Seq(
      "cpus" -> cpus.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_local_dirs_env" -> Json.str(sys.env.getOrElse("SPARK_LOCAL_DIRS", "")),
      "spark_local_dir_conf" -> Json.str(spark.conf.getOption("spark.local.dir").getOrElse("")),
      "effective_local_dirs" -> Session.effectiveLocalDirs(spark).map(Json.str).mkString("[", ",", "]"),
      "spark_version" -> Json.str(spark.version))
    t.finish()
    val layer = if (args.trace) PerLayer.metrics(t, out.primary, out.uniformKind, out.report) ++
      Map("jvm.heap_after_gc_mb" -> heapMb) else Map.empty[String, Double]
    if (args.trace) t.writeSpans(args.spans)
    val e2e = Seq(
      ("setup_s", out.setupS, "s"),
      ("p50_ms", Stats.median(t.latencies.getOrElse(out.primary, ArrayBuffer.empty).toSeq), "ms"),
      ("ops_per_s", out.workDone / out.window, "1/s"),
      ("retained_mb", heapMb + storageMb, "MiB"))
    def valued(xs: Seq[(String, Double, String)]) = Json.obj(xs.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val units = PerLayer.names.toMap
    val failures = t.failures.map { case (k, c, m) =>
      Json.obj(Seq("op" -> Json.str(k), "class" -> Json.str(c), "message" -> Json.str(m)))
    }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "traced" -> args.trace.toString,
      "attempted" -> t.attempted.toString,
      "failed" -> t.failures.size.toString,
      "e2e" -> valued(e2e),
      "layer" -> valued(layer.toSeq.sortBy(_._1).map { case (k, v) => (k, v, units(k)) }),
      "report" -> valued(out.report),
      "sizes" -> Json.obj(out.sizes.map { case (k, v) => k -> Json.num(v) }),
      "setup" -> Json.obj(Seq(
        "session_s" -> Json.num(sessionS),
        "build_s" -> Json.num(out.buildS),
        "warmup_s" -> Json.num(out.warmupS))),
      "env" -> Json.obj(env),
      "failures" -> failures.mkString("[", ",", "]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), doc + "\n")
    spark.stop()
  }

  /** What a run reports; it holds no reference to the workload, so the
    * harness's inputs are garbage before `retained_mb` is measured. */
  final case class Outcome(primary: String, uniformKind: String, setupS: Double, buildS: Double,
      warmupS: Double, window: Double, workDone: Double,
      report: Seq[(String, Double, String)], sizes: Seq[(String, Double)])

  private def run(args: Args, spark: SparkSession, t: Tracer, sessionS: Double): Outcome = {
    val w = make(args.workload, spark, args.seed, args.work)
    val tb = System.nanoTime()
    t.op("setup") { w.setup(t) } { _ => None }
    val buildS = (System.nanoTime() - tb) / 1e9
    val tw = System.nanoTime()
    w.warmup(t)
    val warmupS = (System.nanoTime() - tw) / 1e9
    println(f"[perfbench] set-up: session $sessionS%.2fs, build $buildS%.2fs, warm-up $warmupS%.2fs")
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    var i = 0
    var last = t0
    while (System.nanoTime() < deadline) {
      w.step(i, t, spanned = !args.trace || i % 2 == 0)
      i += 1
      last = System.nanoTime()
    }
    val window = (last - t0) / 1e9
    w.finish(t)
    println(f"[perfbench] ${args.workload}: $i ops in $window%.2fs, ${t.failures.size} failed")
    val errorRate = t.failures.size.toDouble / math.max(1L, t.attempted)
    Outcome(w.primary, w.uniformKind, sessionS + buildS + warmupS, buildS, warmupS,
      window, w.work, w.report(t) :+ (("error_rate", errorRate, "ratio")), w.sizes)
  }
}

/** Per-layer metrics of a traced run, from spans, counts and the engine
  * listener. Metrics a workload does not exercise read 0. */
object PerLayer {

  /** (metric, unit) — the names BENCHMARK.json lists. */
  val names: Seq[(String, String)] = {
    def op(p: String) = Seq(s"$p.ms" -> "ms", s"$p.jobs" -> "count",
      s"$p.stages" -> "count", s"$p.shuffle_bytes" -> "bytes")
    Seq("lake.read.ms" -> "ms", "lake.read.jobs" -> "count",
      "ticks.get_daily.build_ms" -> "ms", "ticks.get_daily.exec_ms" -> "ms",
      "ticks.get_daily.rows" -> "count",
      "sql.select.plan_ms" -> "ms", "sql.select.exec_ms" -> "ms",
      "sql.select.files_read" -> "count", "sql.select.files_skipped" -> "count",
      "lake.latest_version.ms" -> "ms", "lake.manifest_bytes" -> "bytes",
      "lake.commit.ms" -> "ms", "lake.commit.jobs" -> "count",
      "lake.commit.files_written" -> "count", "lake.commit.bytes_written" -> "bytes",
      "sql.merge.plan_ms" -> "ms", "sql.merge.exec_ms" -> "ms",
      "sql.merge.jobs" -> "count", "sql.merge.files_rewritten" -> "count",
      "universe.top_k.ms" -> "ms", "lake.compact.ms" -> "ms",
      "lake.compact.bytes_rewritten" -> "bytes",
      "lake.vacuum.ms" -> "ms", "lake.vacuum.bytes_reclaimed" -> "bytes") ++
      op("operators.dedup_exact") ++ op("operators.near_dups") ++
      op("operators.clusters") ++ op("operators.semdedup") ++
      Seq("operators.near_dups.verified_per_candidate" -> "ratio",
        "text.textrank.ms" -> "ms", "text.textrank.jobs" -> "count",
        "text.bpe_train.ms" -> "ms", "text.bpe_train.jobs" -> "count",
        "master.build.ms" -> "ms", "jobs.backfill.ms" -> "ms",
        "env.steal_s" -> "s", "env.load_start" -> "load", "jvm.heap_after_gc_mb" -> "MiB",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
        "spark.sched_delay_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.plan_ms" -> "ms",
        "spark.unattributed_jobs" -> "count",
        "trace.overhead_ms" -> "ms", "trace.driver_ms" -> "ms",
        "api_read_p50_ms" -> "ms", "api_read_tail_ms" -> "ms", "api_read_n" -> "count",
        "sql_read_p50_ms" -> "ms", "sql_read_tail_ms" -> "ms", "sql_read_n" -> "count",
        "epoch_p50_ms" -> "ms", "epoch_tail_ms" -> "ms", "epoch_n" -> "count",
        "month_end_ms" -> "ms",
        "fresh_read_p50_ms" -> "ms", "write_amp" -> "ratio", "space_amp" -> "ratio",
        "curation_docs_per_s" -> "docs/s", "error_rate" -> "ratio")
  }

  private def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  def metrics(t: Tracer, primary: String, uniformKind: String,
      report: Seq[(String, Double, String)]): Map[String, Double] = {
    val byName = t.spans.groupBy(_.name)
    def spansOf(n: String) = byName.getOrElse(n, Nil)
    def ms(n: String) = med(spansOf(n).map(_.ms))
    def deep(n: String) = spansOf(n).map(t.countersDeep)
    def counted(n: String) = med(t.counts.collect { case (k, v) if k == n => v })
    val plans = t.listener.map(_.plans.toArray.toSeq.map(_.asInstanceOf[(Long, Double)]))
      .getOrElse(Nil)
    def planMs(startNs: Long, endNs: Long): Double =
      plans.collect { case (startMs, d) if inside(startMs, startNs, endNs) => d }.sum
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("lake.read.ms") = ms("lake.read")
    m("lake.read.jobs") = med(deep("lake.read").map(_.jobs.toDouble))
    m("ticks.get_daily.build_ms") = ms("ticks.get_daily.build")
    m("ticks.get_daily.exec_ms") = ms("ticks.get_daily.exec")
    Seq("ticks.get_daily.rows", "sql.select.files_read", "sql.select.files_skipped",
      "lake.manifest_bytes", "lake.commit.files_written", "lake.commit.bytes_written",
      "sql.merge.files_rewritten", "lake.compact.bytes_rewritten",
      "lake.vacuum.bytes_reclaimed", "operators.near_dups.verified_per_candidate")
      .foreach(k => m(k) = counted(k))
    m("sql.select.plan_ms") = ms("sql.select.plan")
    m("sql.select.exec_ms") = ms("sql.select.exec")
    m("lake.latest_version.ms") = ms("lake.latest_version")
    m("lake.commit.ms") = ms("lake.commit")
    m("lake.commit.jobs") = med(deep("lake.commit").map(_.jobs.toDouble))
    // MERGE runs eagerly inside spark.sql: its planning is the tracker's
    // phases of the executions inside the span, the rest is execution
    val merges = spansOf("sql.merge")
    val mergePlan = merges.map(s => planMs(s.startNs, s.endNs))
    m("sql.merge.plan_ms") = med(mergePlan)
    m("sql.merge.exec_ms") = med(merges.zip(mergePlan).map { case (s, p) => s.ms - p })
    m("sql.merge.jobs") = med(deep("sql.merge").map(_.jobs.toDouble))
    m("universe.top_k.ms") = ms("universe.top_k")
    m("lake.compact.ms") = ms("lake.compact")
    m("lake.vacuum.ms") = ms("lake.vacuum")
    Seq("operators.dedup_exact", "operators.near_dups", "operators.clusters",
      "operators.semdedup").foreach { p =>
      m(s"$p.ms") = ms(p)
      val c = deep(p)
      m(s"$p.jobs") = med(c.map(_.jobs.toDouble))
      m(s"$p.stages") = med(c.map(_.stages.toDouble))
      m(s"$p.shuffle_bytes") = med(c.map(_.shuffleWrite.toDouble))
    }
    Seq("text.textrank", "text.bpe_train").foreach { p =>
      m(s"$p.ms") = ms(p)
      m(s"$p.jobs") = med(deep(p).map(_.jobs.toDouble))
    }
    m("master.build.ms") = ms("master.build")
    m("jobs.backfill.ms") = ms("jobs.backfill")
    // engine counters per primary op (every job inside the op's spans)
    val roots = t.spans.filter(s => s.parent == -1 && s.name == primary)
    val rc = roots.map(t.countersDeep)
    m("spark.jobs") = med(rc.map(_.jobs.toDouble))
    m("spark.stages") = med(rc.map(_.stages.toDouble))
    m("spark.tasks") = med(rc.map(_.tasks.toDouble))
    m("spark.task_run_ms") = med(rc.map(_.runMs))
    m("spark.task_cpu_ms") = med(rc.map(_.cpuMs))
    m("spark.gc_ms") = med(rc.map(_.gcMs))
    m("spark.sched_delay_ms") = med(rc.map(_.schedMs))
    m("spark.shuffle_write_bytes") = med(rc.map(_.shuffleWrite.toDouble))
    m("spark.spill_bytes") = med(rc.map(_.spill.toDouble))
    m("spark.plan_ms") = med(roots.map(r => planMs(r.startNs, r.endNs)))
    m("spark.unattributed_jobs") = t.listener.map(_.unattributedJobs.toDouble).getOrElse(0.0)
    // time on the client thread outside any engine call: each op's wall
    // minus the spans directly under it
    val kids = t.spans.filter(_.parent >= 0).groupBy(_.parent)
    m("trace.driver_ms") = med(roots.map(r => r.ms - kids.getOrElse(r.id, Nil).map(_.ms).sum))
    m("trace.overhead_ms") =
      med(t.latencies.getOrElse(uniformKind, Nil)) - med(t.untracedLatencies.getOrElse(uniformKind, Nil))
    report.foreach { case (k, v, _) => m(k) = v }
    names.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
  }

  /** Whether a wall-clock ms timestamp falls in a nanoTime interval. */
  private def inside(wallMs: Long, startNs: Long, endNs: Long): Boolean = {
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val a = startNs / 1000000L + offsetMs
    val b = endNs / 1000000L + offsetMs
    wallMs >= a && wallMs <= b
  }
}
