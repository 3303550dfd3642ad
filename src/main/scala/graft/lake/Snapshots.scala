package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Snapshot isolation + time travel over plain Parquet, Delta-style but
  * dependency-free: data files are append-only under the normal Hive
  * layout (`<root>/<table>/data/<p>=<v>/part-*.parquet`), and each commit
  * writes a JSON manifest (`<root>/_snapshots/<table>/v<N>.json`) listing
  * the files LIVE in that version. A commit with dynamic-overwrite
  * semantics replaces partitions logically — the superseded files stay on
  * disk for older versions until [[vacuum]] drops the ones no kept version
  * references.
  *
  * Scale notes: manifests are file-lists (driver-sized — one entry per
  * data file, the same cardinality any table format's metadata layer
  * carries); reads hand Spark an explicit file list with `basePath`, so
  * partition-column inference and partition pruning work exactly as on a
  * direct scan. Commits never rewrite data ⇒ writers don't block readers,
  * and a reader pinned to version N is immune to concurrent commits
  * (snapshot isolation at file granularity).
  *
  * Data skipping lives IN the version manifest (the Delta/Iceberg
  * design): a commit made with `statsCols` derives per-file min/max
  * stats for the files it ADDS (from the files actually written, via
  * `_metadata` — never trusted from the writer's plan), carries forward
  * the stats of files it keeps, and writes the combined table as a
  * stats sidecar ([[Sidecar]]: parquet, one row per live file) beside
  * the file-list manifest. Every sidecar row also records the file's
  * exact LENGTH and ROW COUNT, so the SQL catalog can report precise
  * statistics to the planner and build its file index with zero data-file
  * listing. [[readVersionPruned]] then prunes on ANY
  * version — a time-travel read skips, a post-[[compact]] read skips,
  * and there is no freestanding side-manifest to go stale: the stats a
  * read consults are exactly the ones committed with that version's
  * file list. Files without stats for a probed column (older commits,
  * all-null files) are conservatively read, and the residual row filter
  * always re-applies, so a pruned read is result-identical to the
  * unpruned scan by construction. ([[FileStats]]/[[ZOrder]]/[[BloomSkip]]
  * remain the format-free single-write variants of the same idea.)
  *
  * Row-level deletes are MERGE-ON-READ (the Iceberg equality-delete
  * design): [[deleteWhere]] writes a tiny parquet of the DISTINCT values
  * of the predicate's own columns among matching rows
  * (`<root>/<table>/deletes/del-*.parquet`) and publishes a new manifest
  * that lists it as a delete vector — no data file is rewritten. Reads
  * apply each vector as one broadcast null-safe anti join, restricted to
  * data files whose manifest-recorded `addedAt` version PRECEDES the
  * delete (Iceberg's sequence-number rule), so a row re-inserted after a
  * delete survives. [[compact]] folds all vectors into a clean rewrite.
  * Because a vector stores every column the predicate referenced, the
  * anti join removes exactly the predicate's matching rows — no key
  * declaration is needed and no over-delete is possible.
  */
object Snapshots {

  private def fs(spark: SparkSession, root: String): FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def dataDir(root: String, table: String) = s"$root/$table/data"
  private def deletesDir(root: String, table: String) = s"$root/$table/deletes"
  private[graft] def changesDir(root: String, table: String) = s"$root/$table/changes"
  private[lake] def manifestDir(root: String, table: String) = s"$root/_snapshots/$table"

  private def listDataFiles(f: FileSystem, dir: String): Set[String] =
    listDataFilesWithAge(f, dir).map(_._1).toSet

  /** Plain data files under `dir` with their modification times (for
    * vacuum's grace window). See [[listDataFiles]] for the hidden-segment
    * contract.
    */
  private def listDataFilesWithAge(f: FileSystem, dir: String): Seq[(String, Long)] = {
    val base = new Path(dir)
    if (!f.exists(base)) return Seq.empty
    // listFiles returns fully-qualified URIs — strip the QUALIFIED base so
    // the manifest stores scheme-independent relative paths
    val qualified = f.makeQualified(base).toString
    val it = f.listFiles(base, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toString.stripPrefix(qualified).stripPrefix("/")
      // EVERY path segment must be a plain data segment: a concurrent
      // writer's in-flight `_temporary/…/part-*.parquet` has a visible
      // file NAME but lives under a hidden directory — a name-only filter
      // would capture those transient paths into a manifest
      if (s.isFile &&
          rel.split('/').forall(seg => !seg.startsWith("_") && !seg.startsWith(".")))
        out += ((rel, s.getModificationTime))
    }
    out.toSeq
  }

  /** Data-write counter (test observability: the stage-once/reconcile-many
    * retry contract pins ONE data write across N lost manifest races).
    */
  private[graft] val dataWrites = new java.util.concurrent.atomic.AtomicLong(0)

  /** Write `df`'s Hive-layout files through a hidden per-commit staging
    * directory, then move each file into `data/` and return the moved
    * relative paths with their exact byte lengths. Added-file attribution
    * is therefore WRITE-DERIVED —
    * exactly the files this job produced — never a before/after directory
    * diff, which would capture a concurrent writer's in-flight or
    * just-committed files into this commit's manifest. File names carry
    * the write job's UUID, so the moves are collision-free; the moves are
    * per-file driver metadata ops (manifest-sized), cheap on HDFS/local
    * where rename is a pointer swap.
    */
  private def writeData(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String]): Seq[(String, Long)] = {
    dataWrites.incrementAndGet()
    val spark = df.sparkSession
    val f = fs(spark, root)
    val stage = s"$root/$table/.stage-${java.util.UUID.randomUUID().toString.take(12)}"
    try {
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(stage)
      adoptStagedFiles(spark, root, table, stage,
        listDataFilesWithAge(f, stage).map(_._1))
    } finally f.delete(new Path(stage), true)
  }

  /** Version N's manifest: `_snapshots/<table>/v<N>.json`. */
  private def manifestPathOf(root: String, table: String, v: Long): Path =
    new Path(s"${manifestDir(root, table)}/v$v.json")

  /** [[manifestPathOf]]'s inverse on a directory entry's name; None for
    * every other entry (stats sidecars, hidden temp files). */
  private def versionOfName(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".json"))
      name.stripPrefix("v").stripSuffix(".json").toLongOption
    else None

  /** Latest version whose manifest was PUBLISHED at or before `tsMillis`
    * (wall-clock time travel — the catalog's `TIMESTAMP AS OF`). Commit
    * time is the `committedAtMillis` the manifest JSON itself carries
    * (stamped at the atomic put-if-absent publish), so the history is
    * PORTABLE: an rsync'd or object-store-migrated lake keeps its
    * timeline. Manifests written before the field existed fall back to
    * the manifest file's modification time. Parsed manifests are memoized
    * by (path, mtime, length) — immutable once published — so a lookup
    * over a long history costs one directory listing, not O(versions)
    * file opens.
    */
  def versionAsOf(spark: SparkSession, root: String, table: String,
      tsMillis: Long): Option[Long] = {
    val f = fs(spark, root)
    listVersions(f, root, table).filter { v =>
      val p = manifestPathOf(root, table, v)
      parsedManifestAt(f, p).committedAtMillis
        .getOrElse(f.getFileStatus(p).getModificationTime) <= tsMillis
    }.lastOption
  }

  private def readUtf8(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** All versions with a live (non-vacuumed) manifest, ascending. */
  private def listVersions(f: FileSystem, root: String, table: String): Seq[Long] = {
    val d = new Path(manifestDir(root, table))
    if (!f.exists(d)) return Seq.empty
    f.listStatus(d).toSeq.flatMap(s => versionOfName(s.getPath.getName)).sorted
  }

  /** Last-known latest version per (root, table) — the O(1) fast path
    * under [[latestVersion]]. Versions are CONTIGUOUS above any live one
    * (every commit publishes latest+1; vacuum deletes only versions
    * below the retention window, never the latest), so probing forward
    * from a verified hint with per-version existence checks finds the
    * true latest in O(new commits) stat calls — no directory listing.
    * The hint is advisory only: a vanished hint version (vacuumed past,
    * table dropped/recreated by another process) falls back to the full
    * listing, so a stale hint can never produce a wrong answer.
    */
  private val latestHint =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()

  /** The table's latest live version. O(commits since last call) via the
    * forward-probing hint — the manifest-directory LISTING (O(history)
    * per call, and the measured dominator of deep-history epoch commits:
    * each listed entry pays URI/Path construction, ~1 s per 10k entries
    * on a checksummed local FS) happens only on the first touch of a
    * table per process or after the hint is invalidated.
    */
  def latestVersion(spark: SparkSession, root: String, table: String): Option[Long] = {
    val f = fs(spark, root)
    val key = (root, table)
    val hint = latestHint.getOrDefault(key, 0L)
    if (hint > 0L && f.exists(manifestPathOf(root, table, hint))) {
      var v = hint
      while (f.exists(manifestPathOf(root, table, v + 1))) v += 1
      latestHint.put(key, v)
      Some(v)
    } else {
      val vs = listVersions(f, root, table)
      vs.lastOption match {
        case Some(v) => latestHint.put(key, v); Some(v)
        case None => latestHint.remove(key); None
      }
    }
  }

  private[graft] def invalidateLatestHint(root: String, table: String): Unit = {
    latestHint.remove((root, table))
  }

  /** Parsed-manifest memo: manifests are immutable once published (the
    * put-if-absent commit), so (path, mtime, length) fully determines the
    * content — mtime+length guard the test/migration edge where a manifest
    * file is deleted and rewritten in place. Bounded by a full clear
    * (entries are tiny; re-parse is one small file read).
    */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Manifest]()

  private def parsedManifestAt(f: FileSystem, p: Path): Manifest = {
    val st = f.getFileStatus(p)
    val key = (p.toString, st.getModificationTime, st.getLen)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val m = Manifest.fromJson(readUtf8(f, p))
    if (manifestCache.size > 4096) manifestCache.clear()
    manifestCache.putIfAbsent(key, m)
    m
  }

  private[graft] def manifest(spark: SparkSession, root: String, table: String,
      version: Long): Manifest = {
    val f = fs(spark, root)
    val p = manifestPathOf(root, table, version)
    if (!f.exists(p)) {
      // distinguish "never existed" from "vacuum retired it" — a reader
      // must see a clear error here, never a raw FileNotFound mid-scan
      val vs = listVersions(f, root, table)
      val msg =
        if (vs.nonEmpty && version < vs.head)
          s"snapshot v$version of $table was retired by vacuum " +
            s"(earliest readable version: v${vs.head})"
        else s"snapshot v$version of $table does not exist" +
          (if (vs.nonEmpty) s" (latest: v${vs.last})" else "")
      throw new IllegalArgumentException(msg)
    }
    parsedManifestAt(f, p)
  }

  private[graft] def liveFiles(spark: SparkSession, root: String, table: String,
      version: Long): Seq[String] =
    manifest(spark, root, table, version).files

  /** The schema version N was committed WITH (None for manifests that
    * predate schema tracking — readers fall back to parquet inference).
    * Schema evolution is ADDITIVE: each commit merges its frame's fields
    * into the previous version's schema, so time travel reads every
    * version with exactly the columns it had, and files that predate a
    * column read it as null.
    */
  def versionSchema(spark: SparkSession, root: String, table: String,
      version: Long): Option[org.apache.spark.sql.types.StructType] =
    manifest(spark, root, table, version).schema

  /** Atomically publish version N's file list. The bytes go to a hidden
    * temp file, then [[publishArbiter]]`.putIfAbsent` moves them to
    * `v<N>.json`: that put-if-absent is the optimistic-concurrency point
    * (the Delta/Iceberg commit protocol). Two writers that both computed
    * version N race on the SAME manifest path, exactly one publish wins,
    * and the loser surfaces a [[java.util.ConcurrentModificationException]]
    * to retry against the new latest — at manifest granularity, never a
    * silent lost update.
    *
    * Format: `m` stamped with `committedAtMillis` = now, encoded by
    * [[Manifest.toJson]] — one compact JSON object through json4s, the
    * only code that reads or writes manifest bytes ([[Manifest.fromJson]]
    * is its reader).
    *
    * Atomicity: [[DefaultPublishArbiter]] uses link(2) on the local FS and
    * rename on HDFS, both of which refuse an existing destination
    * atomically. Object stores such as S3A have neither primitive; deploy
    * [[CoordinatedPublishArbiter]] there (see docs/API.md).
    */
  private[graft] def writeManifest(f: FileSystem, root: String, table: String,
      version: Long, m: Manifest): Unit = {
    val json = m.copy(committedAtMillis = Some(System.currentTimeMillis())).toJson
    val p = manifestPathOf(root, table, version)
    // content atomicity: the bytes land in a hidden temp file first, then
    // the publish arbiter moves them into place atomically — a concurrent
    // reader can never observe an empty or half-written manifest
    // (create-then-write would expose exactly that window; the 8-writer
    // contention spec caught it). The publish is also the put-if-absent
    // point: the losing writer of a version race surfaces the retryable
    // CME, never a silent overwrite.
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = f.create(tmp, false)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val won =
      try publishArbiter.putIfAbsent(f, tmp, p)
      finally f.delete(tmp, false) // no-op once published via rename
    if (!won) throw new java.util.ConcurrentModificationException(
      s"snapshot v$version of $table was committed concurrently — " +
        "re-read the latest version and retry")
    // a stale-LOW hint is harmless (the probe walks forward), so a plain
    // put is race-safe even against a concurrent newer publish
    latestHint.put((root, table), version)
  }

  /** The atomic put-if-absent primitive behind every manifest publish —
    * PLUGGABLE per deployment (see [[publishArbiter]]). Implementations
    * must guarantee: exactly one of N concurrent `putIfAbsent` calls for
    * the same `dst` returns true, and `dst`'s bytes are never observable
    * half-written.
    */
  trait PublishArbiter {
    /** Publish `tmp`'s bytes at `dst` iff `dst` does not exist. Returns
      * true when THIS call created `dst` (won), false when `dst` already
      * existed or was created concurrently (lost — the caller raises the
      * retryable CME). Must never silently replace an existing `dst`.
      */
    def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean
  }

  /** Scheme-aware default: on a LOCAL filesystem the atomic
    * fail-if-exists primitive is POSIX link(2) — Hadoop's local rename()
    * silently REPLACES an existing destination, and the 100-writer
    * contention leg caught exactly that (two winners of one version). On
    * HDFS, rename refuses an existing destination atomically. Object
    * stores (S3A) have NEITHER primitive — deploy
    * [[CoordinatedPublishArbiter]] there instead.
    */
  object DefaultPublishArbiter extends PublishArbiter {
    override def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean =
      f match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          def local(x: Path) = java.nio.file.Paths.get(x.toUri.getPath)
          try { java.nio.file.Files.createLink(local(dst), local(tmp)); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        case _ => !f.exists(dst) && f.rename(tmp, dst)
      }
  }

  /** Publish arbiter for data stores with NO atomic put-if-absent (S3A:
    * rename is copy+delete that replaces, create(overwrite=false) is
    * check-then-act): version ownership is arbitrated by a tiny LOCK file
    * on a separate COORDINATION filesystem that does have the primitive
    * (HDFS, an NFS mount, any POSIX path shared by the writers — the
    * DynamoDB-coordination shape Delta uses on S3, with a filesystem as
    * the coordinator). Winning the lock (one `<manifest>.lock` per
    * version, put-if-absent via [[DefaultPublishArbiter]]) grants the
    * exclusive right to write the manifest bytes on the data store, so
    * the data-store write itself needs no atomicity. Lock files are one
    * empty file per version on the coordination store; [[vacuum]]-class
    * cleanup can drop locks of vacuumed versions.
    */
  class CoordinatedPublishArbiter(coordRoot: String,
      conf: org.apache.hadoop.conf.Configuration) extends PublishArbiter {
    override def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean = {
      val coordFs = FileSystem.get(new java.net.URI(coordRoot), conf)
      coordFs.mkdirs(new Path(coordRoot))
      val lockTmp = new Path(s"$coordRoot/.${dst.getName}.lock-" +
        java.util.UUID.randomUUID().toString.take(12))
      val out = coordFs.create(lockTmp, false)
      try out.write(Array.emptyByteArray) finally out.close()
      val won =
        try DefaultPublishArbiter.putIfAbsent(coordFs, lockTmp,
          new Path(s"$coordRoot/${dst.getName}.lock"))
        finally coordFs.delete(lockTmp, false)
      if (!won) return false
      // lock owned: this writer has the exclusive right to dst — a plain
      // (even replacing) write is safe now
      org.apache.hadoop.fs.FileUtil.copy(f, tmp, f, dst, false, true, f.getConf)
      true
    }
  }

  /** The manifest-publish arbiter in effect ([[DefaultPublishArbiter]]
    * unless a deployment on an object store installs a
    * [[CoordinatedPublishArbiter]]). Set once at startup, before any
    * concurrent commits.
    */
  @volatile var publishArbiter: PublishArbiter = DefaultPublishArbiter

  /** Per-file min/max over `statsCols` — plus exact row counts — for the
    * given (relative-path) data files, derived from the files ACTUALLY
    * WRITTEN via `_metadata` — never trusted from the writer's plan. One
    * output row per file.
    */
  private def deriveFileStats(spark: SparkSession, dir: String,
      relFiles: Seq[String], statsCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("rows") +: statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.option("basePath", dir)
      .parquet(relFiles.map(p => s"$dir/$p"): _*)
      // relative path = everything after the LAST "/data/": Hive partition
      // segments are always `c=v`, so no later segment can equal "data"
      .groupBy(substring_index(col("_metadata.file_path"), "/data/", -1)
        .as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The per-file stats of a commit's ADDED files, computed ONCE at stage
    * time and collected to driver rows (one row per added file —
    * manifest-sized): a reconcile retry after a lost race must be
    * METADATA-ONLY, never re-derive stats from data. With `statsCols`
    * empty the rows come straight from the parquet FOOTERS (exact record
    * counts, a driver metadata op — no Spark job at all); with stats
    * columns requested, one aggregate job over just the added files
    * derives min/max (from the files actually written, never the writer's
    * plan).
    */
  private def stageFreshStats(spark: SparkSession, root: String, table: String,
      added: Seq[(String, Long)], statsCols: Seq[String]): Option[Sidecar] = {
    if (added.isEmpty) return None
    val dir = dataDir(root, table)
    if (statsCols.isEmpty) {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val f = fs(spark, root)
      val schema = StructType(Seq(StructField("file", StringType),
        StructField("rows", LongType), StructField("bytes", LongType)))
      // footer opens are independent ~ms-scale I/O — read them
      // concurrently (a partitioned commit lands tens of files; serial
      // footer reads were a visible per-commit constant)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val rows = Await.result(Future.traverse(added) { case (p, bytes) =>
        Future {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(s"$dir/$p"), f.getConf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          val n = try r.getRecordCount finally r.close()
          org.apache.spark.sql.Row(p, n, bytes)
        }
      }, scala.concurrent.duration.Duration.Inf)
      Some(Sidecar(schema, rows))
    } else {
      import spark.implicits._
      val stats = deriveFileStats(spark, dir, added.map(_._1), statsCols)
        .join(broadcast(added.toDF("file", "bytes")), Seq("file"), "left")
      Some(Sidecar(stats.schema, stats.collect().toSeq)) // one row per added file
    }
  }

  /** Provision an EMPTY versioned table: publish v1 as a zero-file
    * manifest carrying the declared schema and identity partition layout
    * — the engine's CREATE TABLE verb (the reference creates tables
    * implicitly on first write, storage/pipeline/publishers.py:65-144;
    * here provisioning is explicit and the first write is just an
    * append). The empty version is fully addressable: SQL reads resolve
    * a typed empty relation, `INSERT INTO` derives its write shape from
    * the manifest (the q225 truncate machinery), and every later commit
    * evolves the schema additively against it.
    *
    * Concurrency: the manifest publish is put-if-absent, so exactly one
    * of N concurrent creators of the same table wins; losers surface the
    * retryable CME. Refuses when the table already has versions.
    */
  def createTable(spark: SparkSession, root: String, table: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String] = Nil): Long = {
    val missing = partitionCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"createTable: partition column(s) ${missing.mkString(", ")} absent " +
        "from the declared schema")
    latestVersion(spark, root, table).foreach(v =>
      throw new IllegalStateException(
        s"table $table already exists (latest version v$v)"))
    val f = fs(spark, root)
    f.mkdirs(new Path(dataDir(root, table)))
    beforePublish()
    writeManifest(f, root, table, 1L, Manifest(operation = Some("create"),
      partitionCols = partitionCols).withSchema(schema))
    1L
  }

  /** The latest version, its manifest and its schema: the base of every
    * schema-altering verb (`doing` names the verb in the refusal of a
    * manifest that predates schema tracking).
    */
  private def latestWithSchema(spark: SparkSession, root: String,
      table: String, doing: String)
      : (Long, Manifest, org.apache.spark.sql.types.StructType) = {
    val latest = latestVersion(spark, root, table).getOrElse(
      throw new IllegalArgumentException(s"no snapshot of $table to alter"))
    val prev = manifest(spark, root, table, latest)
    (latest, prev, prev.schema.getOrElse(throw new IllegalStateException(
      s"version $latest of $table predates schema tracking — commit once " +
        s"through Snapshots before $doing")))
  }

  /** Publish `m` as METADATA-ONLY `version`: its live files are those of
    * `statsFrom`, whose stats sidecar carries forward untouched (keyed
    * physically; deleted rows only make its ranges conservatively wide). */
  private def publishMetadata(spark: SparkSession, root: String, table: String,
      version: Long, m: Manifest, statsFrom: Long): Long = {
    beforePublish()
    writeManifest(fs(spark, root), root, table, version, m)
    Sidecar.publish(spark, root, table, version, m.files, None, Some(statsFrom))
    version
  }

  /** Publish a METADATA-ONLY version whose schema appends `newFields` —
    * the explicit half of additive schema evolution (the implicit half is
    * a commit whose frame carries new columns, [[mergedSchema]]). Same
    * files, delete vectors, addedAt, and partition layout; files that
    * predate the new columns read them as null, and time travel keeps
    * each version's own column set. The SQL surface reaches this through
    * `MERGE … WITH SCHEMA EVOLUTION` (Spark's
    * ResolveMergeIntoSchemaEvolution → `GraftCatalog.alterTable`).
    *
    * New fields must be NULLABLE (existing rows have no value to give a
    * non-null column) and must not collide with existing names.
    */
  def evolveSchema(spark: SparkSession, root: String, table: String,
      newFields: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(newFields.nonEmpty, "evolveSchema: no fields to add")
    val (latest, prev, prevSchema) =
      latestWithSchema(spark, root, table, "evolving the schema explicitly")
    val clash = newFields.map(_.name).filter(prevSchema.fieldNames.contains)
    require(clash.isEmpty,
      s"evolveSchema: column(s) ${clash.mkString(", ")} already exist")
    val notNullable = newFields.filterNot(_.nullable)
    require(notNullable.isEmpty,
      s"evolveSchema: new column(s) ${notNullable.map(_.name).mkString(", ")} " +
        "must be nullable — existing rows have no value for them")
    newFields.foreach(f => checkPhysicalCollision(f.name, prevSchema,
      prev.droppedPhysical, table))
    // new data columns slot in before the partition columns
    publishMetadata(spark, root, table, latest + 1, prev.next("evolve")
      .withSchema(org.apache.spark.sql.types.StructType(
        prevSchema.fields ++ newFields)), latest)
  }

  /** Rename a column — METADATA-ONLY, via logical→physical column
    * mapping (the Delta `columnMapping.mode=name` design): the new
    * version's schema carries the new LOGICAL name with the column's
    * original PHYSICAL name in field metadata (`graft.physical`). No data
    * file is touched; old versions keep serving their own column names
    * under time travel; writes after the rename spell the column
    * physically, so new and old files stay byte-layout compatible; stats
    * sidecars and delete vectors, keyed physically, keep applying.
    *
    * PARTITION columns refuse (their physical name is baked into every
    * directory path — rewrite via [[compact]] with a projected frame
    * instead). The new name must not collide with an existing logical
    * name.
    */
  def renameColumn(spark: SparkSession, root: String, table: String,
      from: String, to: String): Long = {
    val (latest, prev, prevSchema) =
      latestWithSchema(spark, root, table, "renaming columns")
    if (!prevSchema.fieldNames.contains(from))
      throw new IllegalArgumentException(
        s"renameColumn: no column $from in $table " +
          s"(columns: ${prevSchema.fieldNames.mkString(", ")})")
    require(!prev.partitionCols.contains(from),
      s"renameColumn: $from is a partition column of $table — its " +
        "physical name is baked into every directory path; rewrite the " +
        "table (compact with a projected frame) instead")
    require(!prevSchema.fieldNames.contains(to),
      s"renameColumn: column $to already exists in $table")
    val renamed = org.apache.spark.sql.types.StructType(prevSchema.fields.map {
      case f if f.name == from =>
        ColumnMapping.withPhysical(f, ColumnMapping.physicalName(f))
          .copy(name = to)
      case f => f
    })
    publishMetadata(spark, root, table, latest + 1,
      prev.next("rename-column").copy(schema = Some(renamed)), latest)
  }

  /** Drop a column — METADATA-ONLY: the new version's schema omits the
    * field, its PHYSICAL name is RETIRED (`droppedPhysical`), and the
    * bytes stay on disk — older versions still read the column under
    * time travel; vacuum reclaims the files only when no kept version
    * references them. Re-adding a column under the retired name refuses
    * until a [[compact]] rewrites the live files without it (old bytes
    * would otherwise resurrect under the new column).
    *
    * Refuses for partition columns, for the last remaining column, and
    * while a live delete vector references the column (the vector's
    * predicate values could no longer be evaluated — compact first to
    * fold vectors away).
    */
  def dropColumn(spark: SparkSession, root: String, table: String,
      name: String): Long = {
    val (latest, prev, prevSchema) =
      latestWithSchema(spark, root, table, "dropping columns")
    val field = prevSchema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn: no column $name in $table"))
    require(!prev.partitionCols.contains(name),
      s"dropColumn: $name is a partition column of $table")
    require(prevSchema.fields.length > 1,
      s"dropColumn: $name is the last column of $table")
    val phys = ColumnMapping.physicalName(field)
    val referencing = prev.deletes.filter(_.cols.contains(phys))
    require(referencing.isEmpty,
      s"dropColumn: ${referencing.size} live delete vector(s) reference " +
        s"$name — compact first (folds the vectors into a rewrite), then " +
        "drop")
    val shrunk = org.apache.spark.sql.types.StructType(
      prevSchema.fields.filterNot(_.name == name))
    publishMetadata(spark, root, table, latest + 1,
      prev.next("drop-column").copy(schema = Some(shrunk),
        droppedPhysical = (prev.droppedPhysical :+ phys).distinct), latest)
  }

  /** Drop a versioned table: delete its manifests, sidecars, data and
    * delete-vector files, and the table directory. DESTRUCTIVE and
    * immediate (vacuum-to-zero semantics) — time travel over the dropped
    * table is gone. Returns false when nothing existed.
    */
  def dropTable(spark: SparkSession, root: String, table: String): Boolean = {
    val f = fs(spark, root)
    val data = new Path(s"$root/$table")
    val manifests = new Path(manifestDir(root, table))
    val existed = f.exists(data) || f.exists(manifests)
    f.delete(manifests, true)
    f.delete(data, true)
    invalidateLatestHint(root, table)
    existed
  }

  /** Commit `df` with dynamic-overwrite semantics: partitions present in
    * `df` are replaced in the NEW version, all other live files carry
    * over; nothing is deleted. Returns the new version number (1-based).
    *
    * With `statsCols`, per-file min/max stats are derived for the files
    * this commit ADDS and merged with the kept files' carried-forward
    * stats into the version's [[Sidecar]] (see [[readVersionPruned]]).
    */
  def commit(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String], statsCols: Seq[String] = Nil): Long =
    commitImpl(df, root, table, partitionCols, statsCols, overwritePartitions = true,
      operation = "commit")

  /** Commit `df` as a pure APPEND: every previous live file carries over
    * unconditionally — nothing is replaced even when `df` touches existing
    * partitions. The SQL `INSERT INTO` path (see
    * [[graft.sql.SnapshotInsertTable]]); same clustering, manifest, and
    * stats-sidecar protocol as [[commit]].
    */
  def append(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String], statsCols: Seq[String] = Nil): Long =
    commitImpl(df, root, table, partitionCols, statsCols, overwritePartitions = false,
      operation = "append")

  /** [[commit]] with an EXPLICIT replaced-partition list: prefixes in
    * Spark's escaped `c=v/` spelling, built by [[PartitionPath]] (a raw
    * `a:b` misses `p=a%3Ab/`). Dynamic overwrite replaces the partitions
    * the commit wrote — a partition a MERGE/DELETE emptied has no rows to
    * announce itself with, so row-level verbs must name their replacements.
    * `expectedBase` pins the read-modify-write verbs: the commit refuses
    * (retryable CME) when the table's latest version is no longer the one
    * the verb computed against — a concurrent commit landing in between
    * would otherwise be silently overwritten with stale-derived data.
    */
  private[graft] def commitReplacingPrefixes(df: DataFrame, root: String,
      table: String, partitionCols: Seq[String], statsCols: Seq[String],
      replacedPrefixes: Seq[String], operation: String = "commit",
      expectedBase: Option[Long] = None,
      changes: Option[DataFrame] = None): Long =
    commitImpl(df, root, table, partitionCols, statsCols,
      overwritePartitions = true, explicitReplaced = Some(replacedPrefixes),
      operation = operation, expectedBase = expectedBase, changes = changes)

  /** Full logical replace: the committed frame IS the new version — no
    * files carry over (an unpartitioned MERGE, a maintained state table,
    * any whole-table rewrite; note an unpartitioned [[commit]] has no
    * partitions to replace and therefore APPENDS). Prior versions stay
    * readable until [[vacuum]].
    */
  def replace(df: DataFrame, root: String, table: String,
      statsCols: Seq[String] = Nil): Long =
    commitImpl(df, root, table, Seq.empty, statsCols,
      overwritePartitions = true, replaceAllFiles = true,
      operation = "replace")

  /** [[replace]] under the same stage-once optimistic-concurrency retry
    * loop as [[commitRetry]] — lost races retry the METADATA reconcile
    * only, never the data write. */
  def replaceRetry(df: DataFrame, root: String, table: String,
      statsCols: Seq[String] = Nil, maxRetries: Int = 3,
      onRetry: Int => Unit = _ => ()): Long = {
    val spark = df.sparkSession
    val staged = stage(df, root, table, Seq.empty, Nil)
    retryLoop(
      reconcile(spark, staged, root, table, Seq.empty,
        overwritePartitions = true, replaceAllFiles = true,
        explicitReplaced = None, operation = "replace", expectedBase = None),
      maxRetries, onRetry)
  }

  private[graft] def commitFullReplace(df: DataFrame, root: String,
      table: String, statsCols: Seq[String], operation: String = "replace",
      expectedBase: Option[Long] = None,
      partitionCols: Seq[String] = Seq.empty,
      changes: Option[DataFrame] = None): Long =
    commitImpl(df, root, table, partitionCols, statsCols,
      overwritePartitions = true, replaceAllFiles = true,
      operation = operation, expectedBase = expectedBase, changes = changes)

  /** Everything a commit attempt needs that does NOT depend on the
    * version it lands on — the staged data files (written ONCE) and their
    * collected per-file stats. A reconcile retry after a lost manifest
    * race reuses all of it:
    * lazy vals memoize, so N lost races cost N metadata reconciles and
    * exactly one data write (the Delta/Iceberg stage-once shape — at
    * 100 TB commit sizes a lost race must never re-pay minutes of I/O).
    */
  private final class StagedCommit(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String], statsCols: Seq[String]) {
    /** The latest schema IF it carries column mapping — every data write
      * then spells columns physically, so files written before and after
      * a rename stay byte-layout compatible. None (the overwhelmingly
      * common case) costs nothing. Read once at stage time; a rename
      * racing a concurrent write needs a quiesce, like table renames.
      */
    private[Snapshots] val mappingSchema
        : Option[org.apache.spark.sql.types.StructType] =
      latestVersion(df.sparkSession, root, table)
        .flatMap(v => versionSchema(df.sparkSession, root, table, v))
        .filter(ColumnMapping.isMapped)
    val added: Seq[(String, Long)] = {
      val clustered = Lake.clusterByPartitions(df, partitionCols)
      val spelled = mappingSchema
        .map(ColumnMapping.toPhysical(clustered, _)).getOrElse(clustered)
      writeData(spelled, root, table, partitionCols)
    }
    val incomingSchema: org.apache.spark.sql.types.StructType = df.schema
    /** Stats columns translate to their PHYSICAL names (sidecars are
      * keyed physically — stats continuity survives renames). */
    private def physStatsCol(c: String): String = mappingSchema
      .flatMap(_.fields.find(_.name == c))
      .map(ColumnMapping.physicalName).getOrElse(c)
    lazy val freshStats: Option[Sidecar] =
      stageFreshStats(df.sparkSession, root, table, added,
        statsCols.map(physStatsCol))
    /** The partition directories this commit wrote (dynamic overwrite's
      * replaced set): read off the written files, so it is spelled
      * exactly as on disk and costs no second run of the input plan. */
    def writtenPrefixes: Seq[String] =
      added.flatMap { case (p, _) => PartitionPath.dirOf(p) }.distinct
  }

  private def stage(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String], statsCols: Seq[String]): StagedCommit =
    new StagedCommit(df, root, table, partitionCols, statsCols)

  /** The metadata half of a commit: read the CURRENT latest version,
    * compute carried files / addedAt / delete-vector carry / schema merge
    * against it, and publish the manifest + stats sidecar. Contains no
    * data I/O beyond driver-sized metadata — safe to retry on a lost
    * race.
    */
  private def reconcile(spark: SparkSession, staged: StagedCommit,
      root: String, table: String, partitionCols: Seq[String],
      overwritePartitions: Boolean, replaceAllFiles: Boolean,
      explicitReplaced: Option[Seq[String]], operation: String,
      expectedBase: Option[Long],
      changeFiles: Option[Seq[String]] = None): Long = {
    val prevVersion = latestVersion(spark, root, table)
    expectedBase.foreach { e =>
      val now = prevVersion.getOrElse(0L)
      if (now != e) throw new java.util.ConcurrentModificationException(
        s"$table moved to v$now while this statement was computing " +
          s"against v$e — a read-modify-write verb cannot reconcile a " +
          "stale base; re-run the statement against the new version")
    }
    val prev = prevVersion.map(v => manifest(spark, root, table, v))
      .getOrElse(Manifest())
    val replacedPrefixes: Seq[String] =
      if (prevVersion.isEmpty || !overwritePartitions || replaceAllFiles) Seq.empty
      else explicitReplaced.getOrElse(staged.writtenPrefixes)
    // the row-level verbs' partition predicates never select null rows,
    // so replacing Hive's default directory would lose them: every verb
    // refuses it
    replacedPrefixes.find(PartitionPath.holdsNull).foreach(p =>
      throw new IllegalArgumentException(s"$operation into $table: null " +
        s"value in partition columns ${partitionCols.mkString(", ")} ($p)"))
    val carried =
      if (replaceAllFiles) Seq.empty
      else prev.files.filterNot(file => replacedPrefixes.exists(file.startsWith))
    // delete vectors carry forward: they still apply to the carried files
    // (addedAt < vector version) and, by the sequence rule, never to the
    // files this commit adds
    publishFiles(spark, root, table, prevVersion,
      prev.next(operation).copy(partitionCols = partitionCols,
        deletes = if (replaceAllFiles) Nil else prev.deletes,
        changeFiles = changeFiles),
      carried, staged.added.map(_._1), staged.incomingSchema, staged.freshStats)
  }

  /** Publish the version a data commit lands on top of `prevVersion`:
    * `base` is the previous manifest advanced by [[Manifest.next]] with
    * the caller's per-version fields set; its files become the `carried`
    * ones, which keep their addedAt, plus the `added` ones, attributed to
    * the new version. The schema merges `incoming` into the previous
    * version's, which `base` still carries ([[mergedSchema]]).
    * Driver-sized metadata only.
    */
  private def publishFiles(spark: SparkSession, root: String, table: String,
      prevVersion: Option[Long], base: Manifest, carried: Seq[String],
      added: Seq[String], incoming: org.apache.spark.sql.types.StructType,
      freshStats: Option[Sidecar]): Long = {
    val version = prevVersion.getOrElse(0L) + 1
    val files = (carried ++ added).sorted
    val carriedSet = carried.toSet
    val prevAdded = base.addedAtOf
    val m = base.copy(files = files, addedAt = files.map(p =>
      if (carriedSet(p)) prevAdded.getOrElse(p, 0L) else version))
      .withSchema(mergedSchema(spark, root, table, prevVersion, base, incoming))
    beforePublish()
    writeManifest(fs(spark, root), root, table, version, m)
    Sidecar.publish(spark, root, table, version, files, freshStats, prevVersion)
    version
  }

  private def commitImpl(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String], statsCols: Seq[String],
      overwritePartitions: Boolean,
      replaceAllFiles: Boolean = false,
      explicitReplaced: Option[Seq[String]] = None,
      operation: String,
      expectedBase: Option[Long] = None,
      changes: Option[DataFrame] = None): Long = {
    val staged = stage(df, root, table, partitionCols, statsCols)
    // CDC capture (row-level verbs only — `changes` is the caller-computed
    // pre/post-image frame): a second data write of only the CHANGED rows,
    // staged like any data file and spelled PHYSICALLY under column
    // mapping (exactly like the data files — the change feed reads both
    // under one physical schema). A lost publish orphans them — vacuum's
    // changes-dir sweep reclaims unreferenced change files.
    val changeFiles = changes.map(c => stageChanges(
      staged.mappingSchema.map(ColumnMapping.toPhysical(c, _)).getOrElse(c),
      root, table))
    reconcile(df.sparkSession, staged, root, table, partitionCols,
      overwritePartitions, replaceAllFiles, explicitReplaced, operation,
      expectedBase, changeFiles)
  }

  /** Write a CDC change frame (data columns + `_change_type`) into
    * `changes/` through a hidden staging directory; returns the published
    * relative paths. Unpartitioned by design — change files are consumed
    * as whole-version scans by the change feed, never partition-pruned.
    */
  private def stageChanges(df: DataFrame, root: String,
      table: String): Seq[String] = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val stage = s"$root/$table/.chstage-${java.util.UUID.randomUUID().toString.take(12)}"
    try {
      df.write.mode("overwrite").parquet(stage)
      val staged = listDataFilesWithAge(f, stage).map(_._1).sorted
      val dir = changesDir(root, table)
      f.mkdirs(new Path(dir))
      val tag = java.util.UUID.randomUUID().toString.take(12)
      staged.zipWithIndex.map { case (p, i) =>
        val rel = f"chg-$tag-$i%05d.parquet"
        if (!f.rename(new Path(s"$stage/$p"), new Path(s"$dir/$rel")))
          throw new java.io.IOException(
            s"failed to publish change file $rel into $dir")
        rel
      }
    } finally f.delete(new Path(stage), true)
  }

  /** Merge-on-read row-level delete: publish a new version whose manifest
    * carries one more delete vector — the DISTINCT values, among currently
    * matching rows, of exactly the columns `cond` references. Reads of the
    * new version apply the vector as one broadcast null-safe anti join, so
    * they drop precisely the rows where `cond` held; no data file is
    * rewritten (that is [[compact]]'s job, which folds all vectors away).
    * Data files added AFTER this version are exempt by the addedAt
    * sequence rule, so deleted keys can be legitimately re-inserted.
    *
    * Returns the new version, or the CURRENT version unchanged when no
    * row matches (an empty vector would be a no-op read-side too).
    * Deletes are expected to be small relative to the base — that is the
    * merge-on-read premise; a predicate that matches most of the table is
    * better served by `commit(readVersion(...).filter(!cond), ...)`. The
    * premise is ENFORCED, not just documented: a staged vector larger
    * than `spark.graft.delete.maxVectorRows` (default 1M keys) refuses
    * loudly BEFORE publishing — every later read would otherwise
    * driver-resolve the oversized vector (MorRead/CdfSource collect it
    * for the broadcast anti join) and die far from the cause.
    *
    * `cond` must reference only data columns (evaluable per row with
    * null-out-means-keep SQL semantics). A predicate over NO columns
    * (constant true) is a full truncate — use [[deleteAll]].
    */
  def deleteWhere(spark: SparkSession, root: String, table: String,
      cond: Column): Long =
    deleteWhereBound(spark, root, table, _ => cond)

  /** [[deleteWhere]] with the predicate built AGAINST the pinned read —
    * for callers holding analysis-time expressions that must re-bind onto
    * this statement's own base attributes (the SQL DELETE command; a
    * name-based Column can just use the public overload). `expectedBase`
    * pins the statement's reads and writes to ONE version: the SQL
    * command resolves `latest` (and inlines its subqueries against it)
    * BEFORE calling here, so a commit landing in between must surface the
    * retryable CME — literals computed against an older version must
    * never apply to a newer one.
    */
  private[graft] def deleteWhereBound(spark: SparkSession, root: String,
      table: String, mkCond: DataFrame => Column,
      expectedBase: Option[Long] = None): Long = {
    val latest = latestVersion(spark, root, table).getOrElse(
      throw new IllegalArgumentException(s"no snapshot of $table to delete from"))
    expectedBase.foreach { e =>
      if (latest != e) throw new java.util.ConcurrentModificationException(
        s"$table moved to v$latest while this DELETE was computing " +
          s"against v$e — re-run the statement against the new version")
    }
    val prev = manifest(spark, root, table, latest)
    val cur = readVersion(spark, root, table, latest)
    val cond = mkCond(cur)
    // resolve the predicate against the version's schema to learn exactly
    // which columns it references (Spark 4 Columns are lazy node trees —
    // only analysis binds the attributes)
    val matching =
      try cur.filter(cond)
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"deleteWhere: predicate references unknown column(s): ${e.getMessage}")
      }
    val refCols = matching.queryExecution.analyzed match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        // keep schema order: deterministic vector layout
        cur.columns.toSeq.filter(f.condition.references.map(_.name).toSet)
      case other => throw new IllegalStateException(
        s"deleteWhere: unexpected analyzed shape ${other.nodeName}")
    }
    require(refCols.nonEmpty,
      "deleteWhere: the predicate references no columns — a constant " +
        "predicate is a truncate; use Snapshots.deleteAll")
    // vectors are keyed by PHYSICAL column names (stable across renames):
    // a vector written before a later rename keeps applying, and reads
    // translate back per version ([[applyDeletes]]/[[graft.sql.MorRead]])
    val physOf = prev.schema.map(ColumnMapping.physicalOf)
      .getOrElse(Map.empty[String, String])
    val vecCols = refCols.map(c => physOf.getOrElse(c, c))
    val keys = matching.select(refCols.map(col): _*).distinct()
      .toDF(vecCols: _*)
    val f = fs(spark, root)
    // stage + move, like data files: the vector file must appear at its
    // final path atomically, never half-written under a live name
    val stage = s"$root/$table/.delstage-${java.util.UUID.randomUUID().toString.take(12)}"
    val rel = s"del-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
    val moved =
      try {
        keys.coalesce(1) // delete vectors are small by premise (MOR)
          .write.mode("overwrite").parquet(stage)
        val parts = listDataFiles(f, stage)
        // zero matching rows: no vector, no new version (checked from the
        // tiny staged file, not by recomputing the predicate scan)
        val stagedRows =
          if (parts.isEmpty) 0L else spark.read.parquet(stage).count()
        val maxRows = spark.conf
          .getOption("spark.graft.delete.maxVectorRows")
          .map(_.toLong).getOrElse(1000000L)
        if (stagedRows > maxRows) throw new IllegalArgumentException(
          s"deleteWhere: the predicate matches $stagedRows distinct key " +
            s"tuples — beyond the merge-on-read premise (cap $maxRows, " +
            "conf spark.graft.delete.maxVectorRows). A delete this large " +
            "is a rewrite: use Snapshots.commit/replace with " +
            "readVersion(...).filter(!cond) instead")
        if (stagedRows == 0L) false
        else {
          val dst = new Path(s"${deletesDir(root, table)}/$rel")
          f.mkdirs(dst.getParent)
          if (!f.rename(new Path(s"$stage/${parts.head}"), dst))
            throw new java.io.IOException(s"failed to publish delete vector $rel")
          true
        }
      } finally f.delete(new Path(stage), true)
    if (!moved) return latest
    val version = latest + 1
    publishMetadata(spark, root, table, version, prev.next("delete").copy(
      deletes = prev.deletes :+ DeleteVector(rel, vecCols, version)), latest)
  }

  /** Truncate: publish a version with NO live files (and no vectors). The
    * schema carries forward, so the empty version still reads typed; the
    * PARTITION LAYOUT carries forward in the manifest too (derived from
    * the truncated version's live file paths when the previous manifest
    * predates layout tracking), so SQL reads and inserts keep working on
    * the emptied table. Prior versions are untouched until [[vacuum]].
    */
  def deleteAll(spark: SparkSession, root: String, table: String): Long = {
    val latest = latestVersion(spark, root, table).getOrElse(
      throw new IllegalArgumentException(s"no snapshot of $table to delete from"))
    val prev = manifest(spark, root, table, latest)
    val schema = prev.schema.orElse(
      scala.util.Try(readVersion(spark, root, table, latest).schema).toOption)
    // the stats sidecar carries its SCHEMA forward (zero rows — no live
    // files): the write shape of the reborn table derives its tracked
    // statsCols from the latest sidecar, so skipping survives a truncate
    publishMetadata(spark, root, table, latest + 1,
      prev.next("truncate").copy(files = Nil, addedAt = Nil, deletes = Nil,
        schema = schema, partitionCols = prev.partitionLayout), latest)
  }

  /** Is `to` a lossless widening of `from` that Spark 4's parquet readers
    * promote natively (SPARK-40876)? The Delta type-widening set, narrow
    * form: the integer chain and float→double.
    */
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val ints: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    (ints.indexOf(from), ints.indexOf(to)) match {
      case (f, t) if f >= 0 && t > f => true
      case _ => from == FloatType && to == DoubleType
    }
  }

  /** A NEW column's physical name is its logical name — refuse when that
    * name is already some OTHER column's physical storage name (two
    * logical columns would read the same bytes) or a DROPPED column's
    * retired physical name (old bytes would resurrect under the new
    * column). [[compact]] clears the retired list by rewriting the live
    * files.
    */
  private def checkPhysicalCollision(newName: String,
      prevSchema: org.apache.spark.sql.types.StructType,
      droppedPhysical: Seq[String], table: String): Unit = {
    prevSchema.fields.find(f => ColumnMapping.physicalName(f) == newName &&
        f.name != newName).foreach { f =>
      throw new IllegalArgumentException(
        s"cannot add column $newName to $table: it is the physical " +
          s"storage name of column ${f.name} (renamed) — pick another " +
          "name, or compact to materialize the mapping first")
    }
    if (droppedPhysical.contains(newName))
      throw new IllegalArgumentException(
        s"cannot add column $newName to $table: a dropped column's bytes " +
          "still live under that physical name — compact first (rewrites " +
          "live files without it), or pick another name")
  }

  /** Additive + widening schema evolution (the Delta/Iceberg contract):
    * every previous field is kept — a same-name field in the incoming
    * frame must TYPE-match or losslessly WIDEN it (int chain,
    * float→double: Spark 4 parquet readers promote old files natively;
    * anything else would silently corrupt old versions' reads and is
    * refused) — and fields new to this
    * commit append at the end. A frame may also OMIT previous columns
    * (partial-column appends): its files simply read null there.
    */
  private def mergedSchema(spark: SparkSession, root: String, table: String,
      prevVersion: Option[Long], prevManifest: Manifest,
      incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    prevManifest.schema match {
      case Some(prev) =>
        incoming.fields.foreach { fl =>
          prev.fields.find(_.name == fl.name).foreach { pf =>
            require(pf.dataType == fl.dataType ||
                widens(pf.dataType, fl.dataType),
              s"schema evolution is additive/widening-only: column " +
                s"${fl.name} of $table is ${pf.dataType.simpleString}, " +
                s"commit brings ${fl.dataType.simpleString}")
          }
        }
        val prevNames = prev.fieldNames.toSet
        val widened = prev.fields.map { pf =>
          incoming.fields.find(f =>
            f.name == pf.name && widens(pf.dataType, f.dataType)) match {
            // keep the previous field's METADATA (the column-mapping
            // physical name rides there) — only the type widens
            case Some(f) => pf.copy(dataType = f.dataType)
            case None => pf
          }
        }
        val fresh = incoming.fields.filterNot(f => prevNames(f.name))
        fresh.foreach(f => checkPhysicalCollision(f.name, prev,
          prevManifest.droppedPhysical, table))
        org.apache.spark.sql.types.StructType(widened ++ fresh)
      case None if prevVersion.nonEmpty =>
        // migration edge: the previous manifest predates schema tracking.
        // Carry its INFERRED columns forward (they would otherwise vanish
        // from the new version's schema-driven reads), but best-effort:
        // incoming field types win over inference — a legacy
        // int32-inferred partition directory under a long-typed frame
        // must not hard-fail the first post-upgrade commit.
        val legacy = scala.util
          .Try(readVersion(spark, root, table, prevVersion.get).schema)
          .getOrElse(org.apache.spark.sql.types.StructType(Nil))
        val names = incoming.fieldNames.toSet
        org.apache.spark.sql.types.StructType(
          incoming.fields ++ legacy.fields.filterNot(f => names(f.name)))
      case None => incoming
    }
  }

  /** [[commit]] with the optimistic-concurrency retry loop the CME
    * contract asks of callers — STAGE-ONCE/RECONCILE-MANY (the
    * Delta/Iceberg shape): the data files are written exactly once; a
    * lost manifest race retries only the metadata reconcile (carried
    * list, addedAt, schema merge, manifest + sidecar publish) against the
    * new latest version. N lost races therefore cost N manifest-sized
    * metadata passes, never N data writes — at 100 TB commit sizes a
    * conflict must not re-pay minutes of I/O. Gives up after `maxRetries`
    * lost races — under that much contention the caller should serialize
    * writers instead. Retry count surfaces via the `onRetry` callback.
    *
    * Valid for BLIND writes (the committed frame does not depend on the
    * table's current contents — dynamic overwrite of self-contained
    * partitions, appends, state replaces). Read-modify-write verbs
    * (MERGE/UPDATE/deleteWhere) must instead pin their base version and
    * surface the CME to the caller, who re-runs the whole statement — a
    * reconcile-only retry would publish data derived from a stale base.
    */
  def commitRetry(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String], statsCols: Seq[String] = Nil,
      maxRetries: Int = 3, onRetry: Int => Unit = _ => ()): Long = {
    val staged = stage(df, root, table, partitionCols, statsCols)
    retryLoop(
      reconcile(df.sparkSession, staged, root, table, partitionCols,
        overwritePartitions = true, replaceAllFiles = false,
        explicitReplaced = None, operation = "commit", expectedBase = None),
      maxRetries, onRetry)
  }

  /** The version that streaming epoch `(queryId, epochId)` committed, or
    * None when the epoch never landed — the streaming sink's exactly-once
    * guard. O(1) on the hot path: the latest manifest carries the ledger's
    * HIGH-WATER index (`epochs`: queryId → max committed epochId, merged
    * forward by every verb), so a NEW epoch — the only thing a healthy
    * stream ever asks about — answers from one manifest read. Only a
    * genuine replay (epochId at or below the high-water) pays the
    * newest-first scan to locate its version, and that scan stops at the
    * first manifest whose high-water for the query drops below the probed
    * epoch. [[vacuum]] bounds the history, and with it the ledger's reach
    * — an epoch replayed from BEFORE the vacuum horizon re-appends, the
    * same retention trade-off Delta's transaction ledger documents.
    */
  private[graft] def epochVersion(spark: SparkSession, root: String,
      table: String, queryId: String, epochId: Long): Option[Long] = {
    val f = fs(spark, root)
    // the hot path (a NEW epoch) reads ONE manifest: the latest (found by
    // the forward-probing hint, no listing) and its high-water index
    val last = latestVersion(spark, root, table).getOrElse(return None)
    def m(v: Long) = parsedManifestAt(f, manifestPathOf(root, table, v))
    m(last).epochs.get(queryId) match {
      case Some(hw) if epochId > hw => None // never committed — O(1)
      case _ =>
        // replay (or a pre-index history): newest-first over the live
        // versions, and once a manifest's own high-water shows the query
        // had NOT yet reached this epoch, no older manifest can hold it
        val vs = listVersions(f, root, table)
        vs.reverse.iterator.map(v => (v, m(v)))
          .takeWhile { case (_, mf) =>
            !mf.epochs.get(queryId).exists(_ < epochId) }
          .collectFirst { case (v, mf)
            if mf.streamEpoch.contains((queryId, epochId)) => v }
    }
  }

  /** Move task-written files from a hidden staging directory (a batch
    * commit's, [[writeData]], or a streaming epoch's) into `data/`,
    * preserving their Hive-layout relative paths; returns the moved
    * (relativePath, byteLength) pairs. File names carry write-job or task
    * UUIDs, so moves are collision-free; per-file driver metadata ops.
    */
  private[graft] def adoptStagedFiles(spark: SparkSession, root: String,
      table: String, stageDir: String, rels: Seq[String]): Seq[(String, Long)] = {
    val f = fs(spark, root)
    val dir = dataDir(root, table)
    rels.sorted.map { p =>
      val src = new Path(s"$stageDir/$p")
      val len = f.getFileStatus(src).getLen
      val dst = new Path(s"$dir/$p")
      f.mkdirs(dst.getParent)
      if (!f.rename(src, dst))
        throw new java.io.IOException(s"failed to move staged file $p into $dir")
      (p, len)
    }
  }

  /** The streaming sink's epoch commit: a pure APPEND of files already
    * moved into `data/` ([[adoptStagedFiles]]), published with the epoch's
    * `(queryId, epochId)` identity recorded in the manifest. Exactly-once
    * by construction: an epoch already present in the ledger
    * ([[epochVersion]]) returns that version WITHOUT publishing (the
    * replayed epoch's re-staged files stay unreferenced — invisible to
    * every reader, reclaimed by [[vacuum]]). Blind append ⇒ lost manifest
    * races retry the metadata reconcile only ([[commitRetry]]'s
    * stage-once shape), with the ledger re-checked inside every attempt.
    */
  private[graft] def commitStreamEpoch(spark: SparkSession, root: String,
      table: String, added: Seq[(String, Long)],
      incomingSchema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String], statsCols: Seq[String],
      queryId: String, epochId: Long, maxRetries: Int = 5): Long = {
    // stats derive ONCE, outside the retry loop (metadata-only retries)
    lazy val freshStats = stageFreshStats(spark, root, table, added, statsCols)
    retryLoop({
      epochVersion(spark, root, table, queryId, epochId).getOrElse {
        val prevVersion = latestVersion(spark, root, table)
        val prev = prevVersion.map(v => manifest(spark, root, table, v))
          .getOrElse(Manifest())
        // merge this epoch into the high-water index (monotone: a late
        // replay must never regress a newer epoch's entry)
        val hw = prev.epochs
        publishFiles(spark, root, table, prevVersion,
          prev.next("stream").copy(
            partitionCols =
              if (partitionCols.nonEmpty) partitionCols else prev.partitionCols,
            streamEpoch = Some((queryId, epochId)),
            epochs = hw + (queryId ->
              math.max(epochId, hw.getOrElse(queryId, Long.MinValue)))),
          prev.files, added.map(_._1), incomingSchema, freshStats)
      }
    }, maxRetries, _ => ())
  }

  private def retryLoop(attemptOnce: => Long, maxRetries: Int,
      onRetry: Int => Unit): Long = {
    var attempt = 0
    while (true) {
      try return attemptOnce
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          onRetry(attempt)
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** Test seam: invoked between version computation and manifest publish,
    * so specs can pin the concurrent-commit loss race deterministically
    * (a competing manifest landing in that window must surface the
    * [[java.util.ConcurrentModificationException]] retry contract).
    * No-op in production.
    */
  private[graft] var beforePublish: () => Unit = () => ()

  /** Rewrite the LATEST version's data into `numFiles` files clustered on
    * `clusterCols`, committed as a new version whose file
    * list is the rewrite alone (a full logical replace — superseded files
    * stay on disk for older versions until [[vacuum]]). Folds any pending
    * merge-on-read delete vectors into the rewrite (the new manifest
    * carries none). With `statsCols`,
    * fresh per-file stats are derived from the rewritten files, so a
    * post-compaction read prunes as well as (usually better than) the
    * pre-compaction one. `partitionCols` must match the table's layout;
    * the Hive directory structure is preserved.
    *
    * Clustering: by default files are RANGE-clustered on `clusterCols`
    * (tight boxes on the leading column). With `zOrder = true` the
    * rewrite instead range-clusters on the Morton interleaving of the
    * cluster columns ([[ZOrder.mortonCode]]), so the files carry tight
    * sidecar boxes on EVERY cluster column at once — a 2-D rectangle
    * probe post-compact opens O(√files) instead of all of them.
    */
  def compact(spark: SparkSession, root: String, table: String,
      partitionCols: Seq[String], numFiles: Int, clusterCols: Seq[String],
      statsCols: Seq[String] = Nil, zOrder: Boolean = false,
      baseVersion: Option[Long] = None): Long = {
    // `baseVersion` pins the version inspected AND rewritten (the SQL
    // OPTIMIZE command sizes the rewrite from a manifest it already read —
    // a commit landing in between must surface the put-if-absent CME, not
    // silently compact a different version than the one sized)
    val latest = baseVersion.getOrElse(
      latestVersion(spark, root, table).getOrElse(
        throw new IllegalArgumentException(s"no snapshot of $table to compact")))
    val f = fs(spark, root)
    val full = readVersion(spark, root, table, latest)
    val clusterKeys: Seq[Column] =
      if (zOrder) Seq(ZOrder.mortonCode(clusterCols.map(col)))
      else clusterCols.map(col)
    val added = writeData(
      full.repartitionByRange(numFiles, partitionCols.map(col) ++ clusterKeys: _*),
      root, table, partitionCols)
    val version = latest + 1
    beforePublish()
    // the rewrite materializes the merged schema into every file; the new
    // manifest carries it forward. Delete vectors are folded in (the
    // rewrite read applied them), so none carry.
    val files = added.map(_._1).sorted
    // the rewrite materializes LOGICAL column names into every file, so
    // the new version carries no column mapping and no retired physical
    // names (droppedPhysical resets) — compact is the verb that clears a
    // mapped table's translation debt
    writeManifest(f, root, table, version,
      manifest(spark, root, table, latest).next("compact").copy(
        files = files, addedAt = files.map(_ => version), deletes = Nil,
        schema = Some(ColumnMapping.unmapped(full.schema)),
        partitionCols = partitionCols, droppedPhysical = Nil))
    Sidecar.publish(spark, root, table, version, files,
      stageFreshStats(spark, root, table, added, statsCols), None)
    version
  }

  /** Files of `version` whose `[min_<statsCol>, max_<statsCol>]` range can
    * intersect `[lo, hi]` — the set a pruned read opens. Conservative by
    * construction: files with no stats for `statsCol` (no sidecar, older
    * commits, all-null files) always qualify. Exposed for pruning asserts.
    */
  def candidateFiles(spark: SparkSession, root: String, table: String,
      version: Long, statsCol: String, lo: Column, hi: Column): Seq[String] =
    candidateFilesRect(spark, root, table, version, Seq((statsCol, lo, hi)))

  /** Multi-column rectangle pruning: a file is opened only when EVERY
    * probed column's committed range can intersect its window. With a
    * Z-ordered compact ([[compact]] `zOrder = true`) the per-file boxes
    * are tight on every cluster column at once, so a 2-D rectangle opens
    * ~O(selectivity) files whichever axis constrains. Conservative per
    * column, exactly like the 1-D form. One manifest and one sidecar load
    * per call, both on the driver ([[Sidecar.mayContain]]).
    */
  def candidateFilesRect(spark: SparkSession, root: String, table: String,
      version: Long, preds: Seq[(String, Column, Column)]): Seq[String] =
    candidatesOf(spark, root, table, version,
      manifest(spark, root, table, version), preds)

  private def candidatesOf(spark: SparkSession, root: String, table: String,
      version: Long, m: Manifest,
      preds: Seq[(String, Column, Column)]): Seq[String] = {
    val all = m.files.sorted
    Sidecar.load(spark, root, table, version) match {
      case None => all
      case Some(sc) =>
        // sidecar stats are keyed by PHYSICAL column names (stable across
        // renames — stats continuity survives a RENAME COLUMN); translate
        // logical probes, identity on unmapped tables
        val phys = preds.map { case (c, lo, hi) =>
          (m.schema.flatMap(_.fields.find(_.name == c))
            .map(ColumnMapping.physicalName).getOrElse(c), lo, hi)
        }
        all.filter(sc.mayContain(spark, phys))
    }
  }

  /** Rectangle read over a version: open only [[candidateFilesRect]]'s
    * files, apply merge-on-read vectors, then re-apply every exact row
    * predicate — result-identical to the unpruned filtered scan by
    * construction (the q220 gate replays that equivalence).
    */
  def readVersionRect(spark: SparkSession, root: String, table: String,
      version: Long, preds: Seq[(String, Column, Column)]): DataFrame = {
    val m = manifest(spark, root, table, version)
    val files = candidatesOf(spark, root, table, version, m, preds)
    val base =
      if (files.isEmpty)
        // preserve the schema with an empty relation
        readVersion(spark, root, table, version).filter(lit(false))
      else renameToLogical(
        applyDeletes(
          readFiles(spark, root, table, version, dataDir(root, table), files),
          spark, root, table, m),
        m.schema)
    preds.foldLeft(base) { case (df, (c, lo, hi)) =>
      df.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** Pruned time-travel read: [[readVersionRect]] with one window — open
    * only [[candidateFiles]] of `version`, then re-apply the exact row
    * predicate, so the result equals
    * `readVersion(...).filter(statsCol between (lo, hi))` minus the files
    * whose stats prove they cannot match. Works on ANY version: the stats
    * consulted are exactly the ones committed with that version's file
    * list, so neither time travel nor [[compact]] can see stale skipping
    * metadata. Merge-on-read delete vectors apply exactly as in
    * [[readVersion]].
    */
  def readVersionPruned(spark: SparkSession, root: String, table: String,
      version: Long, statsCol: String, lo: Column, hi: Column): DataFrame =
    readVersionRect(spark, root, table, version, Seq((statsCol, lo, hi)))

  /** Open an explicit (relative) file list under the version's schema
    * contract: with a manifest schema, files that predate a column read
    * it as null and partition values parse as the committed types; a
    * pre-schema-tracking manifest falls back to parquet inference.
    *
    * OUTPUT NAMES ARE PHYSICAL (what the files spell — identical to the
    * logical names unless the version's schema carries column mapping):
    * delete vectors apply in physical space, and [[renameToLogical]]
    * restores the version's logical names afterwards.
    */
  private def readFiles(spark: SparkSession, root: String, table: String,
      version: Long, dir: String, files: Seq[String]): DataFrame = {
    val reader = spark.read.option("basePath", dir)
    versionSchema(spark, root, table, version) match {
      case Some(sch) => reader.schema(ColumnMapping.physicalSchema(sch))
        .parquet(files.map(p => s"$dir/$p"): _*)
      case None => reader.parquet(files.map(p => s"$dir/$p"): _*)
    }
  }

  /** Physical → logical positional rename for a frame produced by
    * [[readFiles]] (+[[applyDeletes]]): column ORDER matches the schema,
    * so the rename is a no-cost projection; unmapped schemas pass
    * through untouched.
    */
  private def renameToLogical(df: DataFrame,
      sch: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    sch match {
      case Some(s) if ColumnMapping.isMapped(s) =>
        df.toDF(s.fieldNames.toIndexedSeq: _*)
      case _ => df
    }

  /** Apply a version's merge-on-read delete vectors to its base scan: one
    * broadcast null-safe anti join per vector, each restricted (by the
    * manifest's addedAt sequence rule) to rows from files older than the
    * vector. The base is never collected; vectors are small by premise.
    * The `_metadata.file_path` → addedAt resolution is one extra broadcast
    * join, added ONLY when vectors exist.
    */
  private def applyDeletes(base: DataFrame, spark: SparkSession, root: String,
      table: String, m: Manifest): DataFrame = {
    if (m.deletes.isEmpty) return base
    import spark.implicits._
    val originalCols = base.columns.toSeq
    val av = broadcast(m.addedAtOf.toSeq.toDF("__graft_file", "__graft_added_v"))
    val withV = base
      .withColumn("__graft_rel",
        substring_index(col("_metadata.file_path"), "/data/", -1))
      .join(av, col("__graft_rel") === col("__graft_file"), "left")
      // a file missing from the map (impossible by construction) reads as
      // addedAt 0: subject to every vector — the conservative direction
      .withColumn("__graft_v", coalesce(col("__graft_added_v"), lit(0L)))
      .drop("__graft_rel", "__graft_file", "__graft_added_v")
    // vectors are keyed by PHYSICAL names — and so is the base frame here
    // (readFiles reads under the physical schema; the logical rename
    // happens after the vectors apply), so no translation is needed on
    // either side, mapped or not
    val cleaned = m.deletes.foldLeft(withV) { (acc, d) =>
      val keys = spark.read
        .parquet(s"${deletesDir(root, table)}/${d.file}")
        .select(d.cols.map(col): _*)
      val accA = acc.as("__graft_b")
      val keysA = broadcast(keys.as("__graft_k"))
      // null-safe equality on every referenced column: the vector stores
      // the predicate columns' values themselves, so the anti join removes
      // exactly the predicate's matching rows (including IS NULL matches)
      val eq = d.cols.map(c =>
        col(s"__graft_b.$c") <=> col(s"__graft_k.$c")).reduce(_ && _)
      accA.join(keysA, eq && col("__graft_b.__graft_v") < lit(d.version), "left_anti")
    }
    cleaned.select(originalCols.map(col): _*)
  }

  /** Time-travel read: the table exactly as of `version`, with any
    * merge-on-read delete vectors applied. Partition columns
    * resolve through `basePath`, so partition pruning works as on a direct
    * scan. A version with ZERO live files (a commit of an empty frame, or
    * a dynamic overwrite that replaced every partition with nothing) reads
    * as an empty frame with the schema of the latest earlier non-empty
    * version — never an opaque schema-inference failure.
    */
  def readVersion(spark: SparkSession, root: String, table: String,
      version: Long): DataFrame = {
    val dir = dataDir(root, table)
    val m = manifest(spark, root, table, version)
    val files = m.files
    if (files.isEmpty) {
      // schema-preserving empty frame: the version's own committed schema
      // when it has one, else the latest earlier non-empty version's
      m.schema.foreach { sch =>
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      }
      val f = fs(spark, root)
      val prior = listVersions(f, root, table).filter(_ < version).reverse
        .find(v => liveFiles(spark, root, table, v).nonEmpty)
        .getOrElse(throw new IllegalStateException(
          s"version $version of $table has no live files and no earlier " +
            "version provides a schema"))
      return readVersion(spark, root, table, prior).filter(lit(false))
    }
    renameToLogical(
      applyDeletes(readFiles(spark, root, table, version, dir, files),
        spark, root, table, m),
      m.schema)
  }

  /** Change data feed between two versions: multiset row diff
    * (`exceptAll` both ways) tagged insert/delete — an update surfaces as a
    * delete of the old row plus an insert of the new one. Cost is two
    * scans of only the files that DIFFER would touch in the worst case
    * (both versions' live sets); at scale, restrict first to the
    * partitions whose file lists changed between the manifests.
    */
  def diff(spark: SparkSession, root: String, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val a0 = readVersion(spark, root, table, fromVersion)
    val b0 = readVersion(spark, root, table, toVersion)
    // align across schema evolution: a column absent from one version
    // reads as null there, so an added column surfaces as delete+insert
    // pairs exactly like a value change (exceptAll needs equal schemas).
    // SHARED columns are cast to the toVersion's type as well: the
    // pre-schema-tracking migration path can leave the same column
    // differently typed across versions (incoming frame types win over
    // legacy inference), and exceptAll refuses unequal schemas.
    val cols = (b0.schema.fields ++
      a0.schema.fields.filterNot(f => b0.columns.contains(f.name))).toSeq
    def align(d: DataFrame) = d.select(cols.map(f =>
      (if (d.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)): _*)
    val a = align(a0)
    val b = align(b0)
    b.exceptAll(a).withColumn("change_type", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("change_type", lit("delete")))
  }

  /** One history row per live (non-vacuumed) version — the DESCRIBE
    * HISTORY surface. All fields come from the manifests alone (no data
    * file is opened): the version number, the portable commit timestamp
    * (falling back to the manifest file's mtime for pre-tracking
    * manifests), the verb that produced the version (null before
    * operation tracking), live-file / delete-vector counts, and how many
    * of the live files were ADDED by that version. Manifest-sized driver
    * work; parsed manifests are memoized.
    */
  private[graft] def historyRows(spark: SparkSession, root: String,
      table: String): Seq[(Long, Long, Option[String], Long, Long, Long)] = {
    val f = fs(spark, root)
    listVersions(f, root, table).map { v =>
      val p = manifestPathOf(root, table, v)
      val m = parsedManifestAt(f, p)
      val committedAt = m.committedAtMillis
        .getOrElse(f.getFileStatus(p).getModificationTime)
      val nAdded = m.addedAt.count(_ == v)
      (v, committedAt, m.operation, m.files.length.toLong,
        m.deletes.length.toLong, nAdded.toLong)
    }
  }

  /** [[historyRows]] as a DataFrame (`version`, `committed_at_millis`,
    * `operation`, `n_files`, `n_delete_vectors`, `n_added_files`),
    * ascending by version. The SQL spelling is the Iceberg-style metadata
    * table `SELECT * FROM <catalog>.<table>.history`.
    */
  def history(spark: SparkSession, root: String, table: String): DataFrame = {
    import spark.implicits._
    historyRows(spark, root, table)
      .map { case (v, t, op, nf, nd, na) => (v, t, op.orNull, nf, nd, na) }
      .toDF("version", "committed_at_millis", "operation", "n_files",
        "n_delete_vectors", "n_added_files")
  }

  /** Rename a versioned table: move its manifest directory and its table
    * directory (data + delete vectors) under the new name. Everything a
    * manifest stores is RELATIVE to those two roots — file lists, vector
    * refs, sidecars — so the full history, time travel included, survives
    * the move untouched. Manifests move FIRST: a reader racing the rename
    * sees the old name cleanly absent (no manifest dir) rather than
    * manifests whose data files are gone mid-scan. The two directory
    * renames are not jointly atomic — rename during a write quiesce, like
    * every table-store's rename. Refuses when the source is not versioned
    * or the destination exists in either namespace.
    */
  def renameTable(spark: SparkSession, root: String, from: String,
      to: String): Unit = {
    val f = fs(spark, root)
    val fromMan = new Path(manifestDir(root, from))
    val fromTbl = new Path(s"$root/$from")
    require(f.exists(fromMan),
      s"renameTable: $from is not a Snapshots-versioned table")
    val toMan = new Path(manifestDir(root, to))
    val toTbl = new Path(s"$root/$to")
    require(!f.exists(toMan) && !f.exists(toTbl),
      s"renameTable: destination table $to already exists")
    f.mkdirs(toMan.getParent)
    if (!f.rename(fromMan, toMan))
      throw new java.io.IOException(
        s"renameTable: failed to move manifests of $from to $to")
    if (f.exists(fromTbl) && !f.rename(fromTbl, toTbl)) {
      // roll the manifest move back so the table stays addressable
      f.rename(toMan, fromMan)
      throw new java.io.IOException(
        s"renameTable: failed to move data of $from to $to")
    }
    invalidateLatestHint(root, from)
    invalidateLatestHint(root, to)
  }

  /** Roll the table back: publish a NEW version whose content is exactly
    * `toVersion`'s — a METADATA-ONLY re-point of that version's file list,
    * delete vectors, addedAt attribution, schema, and partition layout
    * (the Delta `RESTORE TABLE … VERSION AS OF` semantics: history moves
    * only forward, so the bad commits stay inspectable and a concurrent
    * reader never sees versions disappear). No data file is touched;
    * the restored version's stats sidecar carries forward, so skipping
    * and planner statistics survive the rollback.
    *
    * Restoring past the vacuum horizon fails loudly at manifest
    * resolution (naming vacuum); a live manifest implies live files —
    * [[vacuum]] only deletes files no kept version references.
    */
  def restore(spark: SparkSession, root: String, table: String,
      toVersion: Long): Long = {
    val latest = latestVersion(spark, root, table).getOrElse(
      throw new IllegalArgumentException(s"no snapshot of $table to restore"))
    require(toVersion <= latest,
      s"restore: version $toVersion of $table does not exist (latest: v$latest)")
    val m = manifest(spark, root, table, toVersion) // loud vacuum error here
    // the epoch high-water index carries from the LATEST manifest, not the
    // restore target: the exactly-once ledger is monotone — an epoch
    // committed between toVersion and latest must never re-commit after a
    // rollback (its manifest stays live; the fast probe must agree)
    publishMetadata(spark, root, table, latest + 1, m.next("restore").copy(
      epochs = manifest(spark, root, table, latest).epochs), toVersion)
  }

  /** Drop data files and delete-vector files referenced by NO version >
    * `latest − keepVersions`, and the manifests of the dropped versions.
    * Returns deleted file paths.
    *
    * Concurrency: a commit in flight moves its staged files into `data/`
    * BEFORE its manifest publishes, so a vacuum racing that window would
    * classify them dead. `graceMillis` is the guard (the Delta/Iceberg
    * retention convention): files younger than the grace window are never
    * deleted, so any positive grace larger than a commit's stage-to-publish
    * time makes the race harmless. The DEFAULT is one hour (Delta's
    * convention is even wider) — a table shared with live writers is safe
    * out of the box; tests and single-writer maintenance jobs that want
    * immediate reclamation pass 0 explicitly.
    */
  def vacuum(spark: SparkSession, root: String, table: String,
      keepVersions: Int, graceMillis: Long = 3600000L): Seq[String] = {
    val f = fs(spark, root)
    val latest = latestVersion(spark, root, table).getOrElse(return Seq.empty)
    val keepFrom = math.max(1L, latest - keepVersions + 1)
    val keptManifests = (keepFrom to latest)
      .map(v => manifest(spark, root, table, v))
    val kept = keptManifests.flatMap(_.files).toSet
    val keptVectors = keptManifests.flatMap(_.deletes.map(_.file)).toSet
    val keptChanges =
      keptManifests.flatMap(_.changeFiles.getOrElse(Nil)).toSet
    val cutoff = System.currentTimeMillis() - graceMillis
    val dir = dataDir(root, table)
    val dead = listDataFilesWithAge(f, dir)
      .collect { case (p, t) if !kept(p) && t < cutoff => p }.sorted
    dead.foreach(p => f.delete(new Path(s"$dir/$p"), false))
    val ddir = deletesDir(root, table)
    val deadVectors = listDataFilesWithAge(f, ddir)
      .collect { case (p, t) if !keptVectors(p) && t < cutoff => p }.sorted
    deadVectors.foreach(p => f.delete(new Path(s"$ddir/$p"), false))
    // CDC change files die with their versions (a change file belongs to
    // exactly one manifest); orphans from lost publishes age out the same
    val cdir = changesDir(root, table)
    val deadChanges = listDataFilesWithAge(f, cdir)
      .collect { case (p, t) if !keptChanges(p) && t < cutoff => p }.sorted
    deadChanges.foreach(p => f.delete(new Path(s"$cdir/$p"), false))
    (1L until keepFrom).foreach { v =>
      f.delete(manifestPathOf(root, table, v), false)
      f.delete(Sidecar.dir(root, table, v), true)
    }
    // crashed writers leak HIDDEN staging dirs (`.stage-*` from batch
    // commits, `.delstage-*` from deleteWhere, `.streamstage-*` from the
    // streaming sink) — invisible to every reader (hidden-segment
    // filtering) but holding bytes forever. Reclaim any whose NEWEST
    // content is older than the grace window: an in-flight writer keeps
    // creating files, so its newest mtime stays inside the window — the
    // same guard that protects in-flight data files above.
    def newestMtime(p: Path): Long = {
      val it = f.listFiles(p, true)
      var newest = f.getFileStatus(p).getModificationTime
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      newest
    }
    val tblDir = new Path(s"$root/$table")
    val staleStage = (if (f.exists(tblDir)) f.listStatus(tblDir).toSeq
      else Seq.empty)
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && (n.startsWith(".stage-") ||
          n.startsWith(".delstage-") || n.startsWith(".chstage-") ||
          n.startsWith(".streamstage-"))
      }
      // a LIVE writer deletes its staging dirs concurrently (the streaming
      // sink drops every epoch dir on commit) — a dir that vanishes
      // mid-listing is by definition not stale-leaked, so a failed
      // mtime probe or delete must skip that dir, never abort the sweep
      .filter(st => scala.util.Try(newestMtime(st.getPath))
        .toOption.exists(_ < cutoff))
      .map(_.getPath)
    staleStage.foreach(p => scala.util.Try(f.delete(p, true)))
    dead ++ deadVectors.map(p => s"deletes/$p") ++
      deadChanges.map(p => s"changes/$p") ++
      staleStage.map(p => s".staging/${p.getName}")
  }
}
