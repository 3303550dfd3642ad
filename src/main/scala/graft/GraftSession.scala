package graft

import org.apache.spark.sql.SparkSession

/** The engine's session posture, decided once. Every entry point (Bench,
  * Verify, Explain, tools.ScaleStress, jobs.Pipeline) and the test session
  * build their SparkSession here; cluster deployments set the same confs
  * (docs/API.md).
  */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session at `local[threads]`, or the live one if it exists. */
  def create(threads: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // native functions + the MERGE INTO resolution rule
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // pure-JVM chmod on the local FS: no fork per written file, which
      // kills both the per-file subprocess cost and the SIGKILLed-chmod flake
      .config("spark.hadoop.fs.file.impl", "graft.lake.NoForkLocalFileSystem")
      // ...and its FileContext twin: streaming checkpoints resolve file://
      // through fs.AbstractFileSystem.file.impl, not fs.file.impl
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.lake.NoForkLocalFs")
      // The default 100-entry whole-stage-codegen cache LRU-thrashes on a
      // multi-hundred-query session (each query holds several codegen
      // units), so every round-robin bench trial re-paid full janino
      // compilation: 24% of a 10-query sweep's wall time. 5000 is measured,
      // not arbitrary: at 30000 the suite regressed ~25% across unrelated
      // queries (6x the live generated classes grinds GC, class unloading
      // and the JIT code cache), so size to the live plan set.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // shuffle/spill scratch on the fastest local storage: the sandbox's
      // root FS serializes concurrent file creates (see LocalScratch)
      .config("spark.local.dir", LocalScratch.dir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between queries of a multi-query run, outside any timed region: drop
    * cached relations, then GC so the ContextCleaner frees the finished
    * query's localCheckpoint blocks (they are released on driver GC).
    * Without it, pinned storage accumulates across a suite until execution
    * memory is squeezed and the whole run GC-thrashes.
    */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** 1-minute load average, or -1 where /proc/loadavg is unreadable. */
  def loadavg(): Double = try {
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
  } catch { case _: Throwable => -1.0 }
}
