package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine session, configured as `graft.Bench` configures it, with
  * every scratch path inside the run's own directory. */
object Session {

  def create(work: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "graft.lake.NoForkLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.lake.NoForkLocalFs")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A DataFrame over driver-side rows, spread over `slices` partitions. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType,
      slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  /** Local dirs Spark actually used: the candidates that hold a
    * block-manager directory. SPARK_LOCAL_DIRS takes precedence over
    * `spark.local.dir`, so the conf alone does not say. */
  def effectiveLocalDirs(spark: SparkSession): Seq[String] = {
    val candidates = (sys.env.get("SPARK_LOCAL_DIRS").toSeq.flatMap(_.split(",")) ++
      spark.conf.getOption("spark.local.dir").toSeq.flatMap(_.split(",")) :+
      System.getProperty("java.io.tmpdir")).distinct
    candidates.filter { d =>
      val f = new java.io.File(d)
      f.isDirectory && Option(f.list()).exists(_.exists(_.startsWith("blockmgr-")))
    }
  }

  /** Heap after a full GC plus block-manager storage in use, in MiB. */
  def retainedMb(spark: SparkSession): (Double, Double) = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def sample(): (Double, Double) = {
      System.gc()
      Thread.sleep(100)
      (mem.getHeapMemoryUsage.getUsed / 1048576.0,
        spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => (max - free).toDouble }.sum / 1048576.0)
    }
    // the ContextCleaner frees unreferenced blocks asynchronously after a
    // GC: sample until the total stops falling
    var last = sample()
    var next = sample()
    var rounds = 0
    while (next._1 + next._2 < last._1 + last._2 - 0.5 && rounds < 10) {
      last = next; next = sample(); rounds += 1
    }
    next
  }

  /** Total bytes and files under a local directory. */
  def du(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val out = Map.newBuilder[String, Long]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (java.nio.file.Files.isRegularFile(p))
        out += root.relativize(p).toString -> java.nio.file.Files.size(p)
    }
    out.result()
  }
}
