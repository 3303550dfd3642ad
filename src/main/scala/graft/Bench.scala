package graft
import org.json4s.{JArray, JBool, JDouble, JLong, JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
object Bench {
  /** Exception class and the first line of its message. */
  private def describe(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .fold(e.getClass.getName)(m => s"${e.getClass.getName}: $m")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 1-min loadavg BEFORE any work: median_load (sampled at trial starts
    // mid-run) includes the bench's OWN 32-thread load and floors around
    // ~3-4 even on an idle host — load_start is the one sample that can
    // prove the capture began on an idle box
    val loadStart = GraftSession.loadavg()
    val spark = GraftSession.create()
    // Warm the JVM/codegen/parquet-reader paths and the OS page cache for
    // every input table once, so per-query timings reflect steady state
    // rather than first-query classloading and first-scan I/O.
    val warmupError = try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
      graft.queries.Tables.events(spark, sfDir).count()
      // synthesize-once media fixtures (q127/q167/q168/q184) OUTSIDE the
      // timed region: the gates then measure decode+hash+join, and the
      // synthesis seconds are reported separately below
      graft.queries.MediaFixtures.prebuild(spark, sfDir)
      // Warm the shared physical-operator machinery on TINY synthetic data
      // (generic shapes, not the benched queries): window exec, broadcast +
      // sort-merge joins, generators, and one micro-batch streaming query.
      // First use otherwise pays classloading/codegen-infra setup inside
      // whichever timed query happens to hit the shape first.
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val a = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      val b = spark.range(100).select(col("id").as("k2"))
      a.withColumn("r", row_number().over(
          Window.partitionBy("k").orderBy("id")))
        .join(broadcast(b), col("k") === col("k2"), "left")
        .groupBy("k").agg(sum("id"), collect_list("r")).count()
      a.join(a.withColumnRenamed("id", "id2"), Seq("k")).count()
      a.select(explode(split(lit("a b c"), " "))).count()
      val wdir = "/tmp/graft_bench_warm_stream"
      a.select(timestamp_micros(col("id")).as("ts"), col("k"))
        .write.mode("overwrite").parquet(wdir)
      val ws = spark.readStream
        .schema("ts timestamp, k bigint").parquet(wdir)
        .withWatermark("ts", "1 second")
        .groupBy(window(col("ts"), "1 second"), col("k")).count()
      val wq = ws.writeStream.format("memory").queryName("graft_warm")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      wq.awaitTermination()
      None
    } catch { case e: Throwable => Some(describe(e)) }
    // Best-of-N per query (default 2): a single cold run conflates the
    // query's steady-state cost with first-hit codegen compilation and any
    // transient host contention; min-of-trials is the standard estimator
    // for the former.
    // 3 trials: with min-of-2, one interference spike landing on a query's
    // both runs (observed: suite totals swung 114-128s with ambient host
    // load, the slow set moving between runs) pollutes the committed
    // number; a third sample makes the min robust to a single bad window
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    // local iteration: SPARK_GRAFT_ONLY=q55_...,q52_... restricts the set
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(t => only.isEmpty || only(t._1))
    // per-trial layer split (planning, jobs/stages/tasks, task time, shuffle,
    // spill), read after each trial outside the timed region
    val metrics = graft.obs.QueryMetrics.attach(spark)
    // Trials run ROUND-ROBIN across the whole suite (trial 1 of every query,
    // then trial 2, ...), not back-to-back per query: back-to-back trials
    // let ONE multi-minute host-contention window cover all N trials of the
    // 2-3 queries underneath it, so min-of-N passes the spike straight into
    // the committed number (round 5's official artifact recorded 81 s for a
    // 1.4 s query this way). Interleaved, a contention window touches at
    // most one trial per query and the min discards it.
    case class Trial(sec: Double, error: Option[String], load: Double, ts: Long,
        layers: graft.obs.Layers) {
      def ok: Boolean = error.isEmpty
    }
    val samples = scala.collection.mutable.Map.empty[String, Vector[Trial]]
      .withDefaultValue(Vector.empty)
    for (t <- 1 to trials) {
      for ((name, fn) <- queryList) {
        // 1-minute loadavg at trial start: a contention-polluted capture is
        // then self-diagnosing from the artifact alone
        val load = GraftSession.loadavg()
        val ts = System.currentTimeMillis() / 1000
        val t0 = System.nanoTime()
        // noop sink, NOT count(): count() lets column pruning drop the
        // final projection entirely, so a query whose cost lives in its
        // output expressions (HOF-heavy per-row math) benches as a bare
        // scan. The noop sink computes every output column and discards
        // the rows — the honest full-materialization cost.
        val error = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(describe(e)) }
        val sec = (System.nanoTime() - t0) / 1e9
        samples(name) = samples(name) :+
          Trial(sec, error, load, ts, metrics.snapshot(spark))
        GraftSession.reset(spark)
      }
      println(f"[round] trial $t/$trials done, load=${GraftSession.loadavg()}%.2f")
    }
    // a throwing trial must NOT contribute a (fast) failure duration to the
    // min — successful trials only; all-fail reports -1 as an explicit
    // breakage marker in the JSON
    val best = queryList.map { case (name, _) =>
      name -> samples(name).filter(_.ok).minByOption(_.sec)
    }
    val results = best.map { case (name, b) =>
      val sec = b.map(_.sec).getOrElse(-1.0)
      println(f"[q] $name $sec%.3fs")
      name -> sec
    }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    def r3(v: Double) = math.rint(v * 1000) / 1000
    def secs(m: Seq[(String, Double)]) =
      JObject(m.map { case (k, v) => k -> JDouble(v) }: _*)
    // per-trial detail (duration, success or the failure's reason, 1-min
    // loadavg, epoch sec, executions/jobs/stages) so a polluted or broken
    // capture is diagnosable from BENCH_local.json without a rerun
    val trialsJson = JObject(queryList.map { case (name, _) =>
      name -> JArray(samples(name).toList.map { tr =>
        JObject(List("sec" -> JDouble(r3(tr.sec)), "ok" -> JBool(tr.ok),
          "load" -> JDouble(tr.load), "ts" -> JLong(tr.ts),
          "executions" -> JLong(tr.layers.executions),
          "jobs" -> JLong(tr.layers.jobs), "stages" -> JLong(tr.layers.stages)) ++
          tr.error.map(e => "error" -> JString(e)))
      })
    }: _*)
    // the fastest successful trial's layer split, beside the time it explains
    val layersJson = JObject(best.collect { case (name, Some(b)) =>
      name -> b.layers.toJson
    }: _*)
    // Full-precision per-query map goes to a FILE: the driver captures only
    // a ~2 KB tail of stdout, and a 91-query JSON line (~4 KB) gets its head
    // truncated there (round-3 BENCH parsed:null). Stdout gets a compact
    // final line — total + the slowest queries at 3 dp — that always fits.
    // SPARK_GRAFT_ONLY iteration runs must not clobber the committed
    // full-suite history (round 4 committed a one-query BENCH_local.json)
    val outFile =
      if (only.isEmpty) "BENCH_local.json" else "BENCH_local_partial.json"
    // media-fixture synthesis cost, SEPARATE from query timings (it runs
    // once in warmup; queries measure the operators). File-only detail.
    val synth = try graft.queries.MediaFixtures.timingsFor(spark, sfDir)
      catch { case _: Throwable => Map.empty[String, Double] }
    val full = JObject(List(
      "metric" -> JString("total"), "value" -> JDouble(total),
      "unit" -> JString("sec"), "queries" -> secs(results),
      "trials" -> trialsJson, "layers" -> layersJson,
      "media_synthesis_sec" -> secs(synth.toSeq.sortBy(_._1))) ++
      warmupError.map(e => "warmup_error" -> JString(e)) :+
      ("sf" -> JString(sfDir)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      compact(render(full)) + "\n")
    val top = results.sortBy(-_._2).take(25).map { case (k, v) => k -> r3(v) }
    // median 1-min loadavg across ALL trials, in the headline itself: the
    // committed number carries its own ambient-contention context (verdict
    // r6 ask #7 — no more cross-referencing BENCH_local.json to judge a
    // capture)
    val allLoads = samples.values.flatten.map(_.load).toSeq.sorted
    val medianLoad =
      if (allLoads.isEmpty) -1.0 else allLoads(allLoads.size / 2)
    // silence any trailing executor/stop chatter so this stays the tail
    spark.sparkContext.setLogLevel("ERROR")
    println(compact(render(JObject(
      "metric" -> JString("total"), "value" -> JDouble(r3(total)),
      "unit" -> JString("sec"), "n_queries" -> JLong(results.size),
      "median_load" -> JDouble(r3(medianLoad)),
      "load_start" -> JDouble(r3(loadStart)), "queries" -> secs(top),
      "full" -> JString(outFile), "sf" -> JString(sfDir)))))
    spark.stop()
  }
}
