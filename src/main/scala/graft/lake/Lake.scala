package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** The storage substrate: entity-partitioned Parquet with idempotent
  * partition overwrite, compaction, manifests and listing (SURVEY §1.4,
  * §2.1 S9-S15, §2.10 I3/I5).
  *
  * Layout (Hive-partitioned; the reference's path-construction pruning,
  * storage/clients/ticks.py:235-292, dissolves into Catalyst partition
  * pruning):
  * {{{
  *   <root>/daily_ticks/security_id=<sid>/year=<y>/part-....parquet
  *   <root>/fundamental/cik=<cik>/part-....parquet
  *   <root>/_manifests/<table>.json
  * }}}
  *
  * 100 TB posture: the reference's per-(security, month) ~5 KB objects
  * (CLAUDE.md:166) are hostile at scale — we keep the logical partitioning
  * (entity, year) but let files be fat; [[compactYears]] is the bin-packing
  * job (I5) that folds small incremental files into consolidated ones.
  */
object Lake {

  /** Cluster the rows by their partition values before a partitioned
    * write, so each partition directory receives files from as few tasks
    * as possible instead of (writer parallelism × partitions) shards —
    * THE small-files control at scale: without it a 1000-task job writing
    * 365 day-partitions can emit 365 000 files. Costs one shuffle of the
    * written data, the standard trade every production lake writer makes
    * (AQE coalesces the post-shuffle side to sensible sizes).
    */
  private[lake] def clusterByPartitions(df: DataFrame, partitionCols: Seq[String]) =
    if (partitionCols.isEmpty) df
    else df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)

  /** Idempotent partitioned write with dynamic partition overwrite (I3 —
    * the reference's month-to-date total refetch + overwrite,
    * update/app.py:296-445): only partitions present in `df` are replaced.
    */
  def overwritePartitions(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String]): Unit = writing(df.sparkSession, root, table) {
    clusterByPartitions(df, partitionCols).write
      .mode("overwrite")
      // per-write option, NOT a session conf mutation: other writers in the
      // same session keep Spark's default static overwrite semantics
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(s"$root/$table")
  }

  /** Append-only write (U1 concat-at-rest). */
  def appendPartitions(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String]): Unit = writing(df.sparkSession, root, table) {
    clusterByPartitions(df, partitionCols).write
      .mode("append").partitionBy(partitionCols: _*).parquet(s"$root/$table")
  }

  /** Whole-table read (S9/§3.3). Every call lists the table's whole
    * directory tree and infers its schema from a footer before the
    * DataFrame exists; partition-column predicates then prune the
    * directories the scan opens (PartitionFilters), not the listing. A
    * caller that knows its partitions reads them with [[readDirs]].
    */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    spark.read.parquet(s"$root/$table")

  /** Only the given partition directories of `table` (`c=v/d=w`, relative
    * to the table, spelled by [[PartitionPath]]), with `basePath` set so
    * the partition columns read as in [[read]]. The schema — names, types
    * and order exactly [[read]]'s — comes from a per-table cache, so the
    * read lists only `dirs` and infers nothing. No directory gives an
    * empty frame of that schema.
    */
  def readDirs(spark: SparkSession, root: String, table: String,
      dirs: Seq[String]): DataFrame = {
    val schema = cachedSchema(spark, root, table)
    if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).option("basePath", s"$root/$table")
      .parquet(dirs.map(d => s"$root/$table/${d.stripSuffix("/")}"): _*)
  }

  /** Qualified table path → (the table directory's mtime when the schema
    * was taken, [[read]]'s schema). An entry is dropped by this JVM's
    * writes through `Lake` and retaken when the directory's mtime moves:
    * every Spark write of the table stages under the table directory
    * (`_temporary`, `.spark-staging-*`), so another writer's new partition
    * or column moves it too. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  private def tablePath(spark: SparkSession, root: String, table: String) = {
    val p = new Path(s"$root/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def cachedSchema(spark: SparkSession, root: String,
      table: String): StructType = {
    val (fs, path) = tablePath(spark, root, table)
    // the mtime is taken BEFORE the schema: a write landing in between
    // leaves an older stamp, so the next read retakes the schema
    scala.util.Try(fs.getFileStatus(path).getModificationTime).toOption
      .fold(read(spark, root, table).schema) { mtime => // absent: read's error
        val key = path.toString
        Option(schemas.get(key)).filter(_._1 == mtime).map(_._2).getOrElse {
          val schema = read(spark, root, table).schema
          schemas.put(key, (mtime, schema))
          schema
        }
      }
  }

  /** Run a write of `table`, then drop its cached schema. */
  private def writing[T](spark: SparkSession, root: String, table: String)(
      body: => T): T =
    try body finally schemas.remove(tablePath(spark, root, table)._2.toString)

  /** I5 — year-end compaction: rewrite the given (entity, year) partitions
    * as one file each (the reference's 12-monthlies → history.parquet,
    * update/app.py:447-607). Dynamic overwrite keeps it idempotent.
    *
    * `maxRecordsPerFile` (0 = unlimited) bounds fat partitions: the writer
    * rolls to a new file every N records WITHIN the partition's single
    * task — the exact, shuffle-free file-size control (a salted
    * repartition can only approximate a file count, and hash collisions
    * merge buckets).
    */
  def compactYears(spark: SparkSession, root: String, table: String,
      years: Seq[Int], maxRecordsPerFile: Long = 0L): Unit = writing(spark, root, table) {
    val df = read(spark, root, table).filter(col("year").isin(years: _*))
    // Cluster BY KEY here and tell overwritePartitions not to re-cluster:
    // its own repartition would collapse with this one (Catalyst keeps
    // only the outermost of adjacent repartitions). One task per
    // (security_id, year) → one file, or ceil(rows/maxRecordsPerFile)
    // files when the cap is set.
    val keyed = df.repartition(col("security_id"), col("year"))
    keyed.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("security_id", "year")
      .parquet(s"$root/$table")
  }

  /** S13 — manifest sidecar for partitioned TABLES (one JSON per table;
    * footer KV is per file, and a partitioned table has thousands). The
    * reference's embedded-footer-KV export (security_master.py:828-892) is
    * [[FooterMetadata]] — real parquet footer key-value pairs on
    * single-file exports.
    */
  def writeManifest(spark: SparkSession, root: String, table: String,
      rowCount: Long, version: String, extra: Map[String, String] = Map.empty): Unit = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val kv = Map(
      "table" -> table,
      "row_count" -> rowCount.toString,
      "version" -> version) ++ extra
    val json = compact(render(JObject(kv.toSeq.map { case (k, v) => k -> JString(v) }: _*)))
    val out = fs.create(new Path(s"$root/_manifests/$table.json"), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readManifest(spark: SparkSession, root: String, table: String): Map[String, String] = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$root/_manifests/$table.json")
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    parse(json) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case other => throw new IllegalStateException(s"$p is not a JSON object: $other")
    }
  }

  /** S14 — partition listing / existence probes (the reference's
    * list_objects_v2 walking, storage/pipeline/validation.py:84-235).
    */
  def listPartitions(spark: SparkSession, root: String, table: String): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    // qualify the base so the relative-path strip below works whether the
    // caller passed a scheme-qualified root or a bare path (listStatus
    // always returns fully-qualified children)
    val base = fs.makeQualified(new Path(s"$root/$table"))
    if (!fs.exists(base)) return Seq.empty
    def walk(p: Path): Seq[String] = {
      val children = fs.listStatus(p).filter(_.isDirectory)
      if (children.isEmpty) Seq(p.toString.stripPrefix(base.toString).stripPrefix("/"))
      else children.toSeq.flatMap(c => walk(c.getPath))
    }
    walk(base).filter(_.nonEmpty).sorted
  }

  def partitionExists(spark: SparkSession, root: String, table: String,
      partitionPath: String): Boolean = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(s"$root/$table/$partitionPath"))
  }
}
