package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.Snapshots

/** Change-data-feed STREAMING source over a Snapshots-versioned table —
  * Delta's CDF shape at a fraction of the cost: the manifest's `addedAt`
  * attribution already names, for free, exactly which live files each
  * version added, and delete vectors are first-class manifest entries. A
  * micro-batch is therefore "versions (start, end]": per version, the
  * files it added stream as `insert` rows (read through the same V2
  * parquet machinery as any catalog scan) and the delete vectors it
  * registered stream as key-level `delete` rows (vector columns set,
  * everything else null — vectors are key tuples, not full rows, by the
  * MOR design). Two metadata columns are appended: `_change_type`
  * (insert/delete) and `_commit_version`.
  *
  * {{{
  *   spark.readStream.format("graft.sql.CdfSource")
  *     .option("root", root).option("table", "events")
  *     .option("startingVersion", "1")      // default 1 (from the beginning)
  *     .load()
  * }}}
  *
  * Exactness contract: append-style versions (`commit`/`append` adding
  * files without removing any) and merge-on-read deletes replay exactly.
  * A version that REMOVES live files (partition overwrite, compaction,
  * row-level MERGE/UPDATE rewrites) cannot be attributed from file adds
  * alone — by default the stream FAILS on such a version rather than
  * silently emitting replaced rows as fresh inserts; `skipChangeCommits`
  * (Delta's option, same semantics) skips those versions entirely. The
  * general row-level diff between arbitrary versions stays the batch
  * verb, [[graft.lake.Snapshots.diff]].
  *
  * Offsets are plain version numbers, so resume is exact: a checkpointed
  * restart continues at the first unconsumed version (AvailableNow
  * support via `SupportsTriggerAvailableNow` — the end version is pinned
  * at stream start). Scale shape: planning reads manifests only
  * (driver-tiny, memoized); data I/O is exactly the added files of the
  * consumed versions, never a table scan.
  */
class CdfSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdfSource.changeSchema(CdfSource.dataSchema(
      SparkSession.active, CdfSource.rootOf(options), CdfSource.tableOf(options)))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new CdfTable(CdfSource.rootOf(opts), CdfSource.tableOf(opts),
      Option(opts.get("startingVersion")).map(_.toLong).getOrElse(1L),
      opts.getBoolean("skipChangeCommits", false),
      opts.getInt("maxVersionsPerBatch", 0), schema)
  }
}

object CdfSource {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  private[sql] def rootOf(o: CaseInsensitiveStringMap): String =
    Option(o.get("root")).getOrElse(
      throw new IllegalArgumentException("CdfSource needs option `root`"))
  private[sql] def tableOf(o: CaseInsensitiveStringMap): String =
    Option(o.get("table")).getOrElse(
      throw new IllegalArgumentException("CdfSource needs option `table`"))

  /** The stream's DATA schema: the latest manifest schema (CDF needs
    * schema tracking — pre-tracking tables have no authoritative column
    * story across versions), integer partition columns widened to BIGINT
    * exactly like the catalog's reads so change rows type-match SQL reads.
    */
  private[sql] def dataSchema(spark: SparkSession, root: String,
      table: String): StructType = {
    val latest = Snapshots.latestVersion(spark, root, table).getOrElse(
      throw new IllegalArgumentException(s"no snapshot of $table to stream"))
    val m = Snapshots.manifest(spark, root, table, latest)
    val sch = m.schema.getOrElse(throw new IllegalStateException(
      s"$table@v$latest has no manifest schema — the CDF stream needs " +
        "schema tracking (recommit through graft.lake.Snapshots)"))
    GraftCatalog.widenPartitionInts(sch, m.partitionLayout.toSet)
  }

  private[sql] def changeSchema(data: StructType): StructType =
    // data fields are NULLABLE regardless of the table's contract: a
    // key-level delete row carries values only for the vector's columns —
    // a non-null long column would otherwise decode its null as 0
    StructType(data.fields.map(_.copy(nullable = true)).toSeq :+
      StructField(ChangeType, StringType, nullable = false) :+
      StructField(CommitVersion, LongType, nullable = false))

  /** Operations that NEVER remove a live file, by construction — safe to
    * attribute from file adds even when the predecessor manifest is gone
    * (vacuumed) and a removal diff cannot be computed.
    */
  private val appendShapedOps =
    Set("create", "append", "stream", "delete", "evolve")

  /** The change rows of versions `(fromExclusive, to]`, planned from
    * manifests alone — ONE implementation shared by the streaming source
    * (per micro-batch) and the batch `<table>.changes` metadata table.
    * Per version, in priority order: a CDC CAPTURE (`changeFiles` written
    * by the committing verb — UPDATE/row-level MERGE under
    * `spark.graft.cdc.write`) is authoritative and streams verbatim
    * (pre/post-image rows carrying their own `_change_type`); otherwise
    * the files the version added become insert partitions (V2 parquet
    * scans pruned to `prunedData`) and the vectors it registered become
    * key-level delete partitions. A version that REMOVES live files
    * WITHOUT a capture refuses (or is skipped under `skipChangeCommits`)
    * — file adds cannot attribute replaced rows.
    */
  private[sql] def planVersions(spark: SparkSession, root: String,
      table: String, fromExclusive: Long, to: Long,
      skipChangeCommits: Boolean, fullDataSchema: StructType,
      prunedData: StructType)
      : (Array[InputPartition], Array[PartitionReaderFactory]) = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    val factories =
      scala.collection.mutable.ArrayBuffer.empty[PartitionReaderFactory]
    val dataDir = s"$root/$table/data"
    // column mapping: data and change files spell PHYSICAL names; the
    // inner scans read physically and emit rows positionally, so the
    // requested (logical) pruned schema translates by name on the way in
    // and nothing translates per row. Physical names are stable across
    // renames, so the LATEST mapping covers every version's files.
    import graft.lake.ColumnMapping
    val physFull = ColumnMapping.physicalSchema(fullDataSchema)
    val physOf = ColumnMapping.physicalOf(fullDataSchema)
    val logOf = ColumnMapping.logicalOf(fullDataSchema)
    def physOfSchema(s: StructType): StructType =
      StructType(s.fields.map(f =>
        f.copy(name = physOf.getOrElse(f.name, f.name))))
    var prevFiles: Option[Set[String]] = None
    for (v <- (fromExclusive + 1) to to) {
      val m = Snapshots.manifest(spark, root, table, v)
      val live = m.files.toSet
      // change attribution needs an append-shaped version: nothing the
      // previous version served may disappear (deleteWhere removes no
      // files; overwrites/compactions do). The window's FIRST version may
      // find its predecessor vacuumed — None then means "removals
      // unknowable" and only append-shaped operations may proceed.
      val prevOpt: Option[Set[String]] = prevFiles.orElse {
        if (v == 1) Some(Set.empty[String])
        else scala.util.Try(
          Snapshots.manifest(spark, root, table, v - 1).files.toSet).toOption
      }
      prevFiles = Some(live)
      val removed = prevOpt.map(_ -- live)
      if (m.changeFiles.isDefined) {
        // CDC capture: the change files ARE the version's row changes —
        // adds and vectors of this version are never re-attributed on top
        val cf = m.changeFiles.get
        if (cf.nonEmpty) {
          val chDir = Snapshots.changesDir(root, table)
          val chSchema = StructType(physFull.fields.toSeq :+
            StructField(ChangeType, StringType, nullable = false))
          // the scan always reads _change_type (it routes the row); the
          // requested data columns prune as in the insert path
          val prunedCh = StructType(physOfSchema(prunedData).fields.toSeq :+
            StructField(ChangeType, StringType, nullable = false))
          val opts = new CaseInsensitiveStringMap(
            java.util.Map.of("path", chDir))
          val tbl = new DppParquetTable(s"$table@v$v(cdc)", spark, opts,
            cf.sorted.map(f => s"$chDir/$f"), Some(chSchema))
          val builder = tbl.newScanBuilder(opts)
          builder match {
            case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
              p.pruneColumns(prunedCh)
            case _ =>
          }
          val batch: Batch = builder.build().toBatch
          val fi = factories.length
          factories += batch.createReaderFactory()
          batch.planInputPartitions().foreach(p =>
            parts += CdfChangeFilePartition(p, fi, v))
        }
      } else if (removed match {
          case Some(r) => r.nonEmpty // files removed: not attributable
          case None => // removal diff unknowable (vacuumed predecessor):
            // only operations that never remove files may proceed — an
            // UNPARTITIONED "commit" has no partitions to replace and is
            // an append by construction
            !(m.operation.exists(appendShapedOps) ||
              (m.operation.contains("commit") && m.partitionCols.isEmpty))
          }) {
        if (!skipChangeCommits) throw new IllegalStateException(
          removed match {
            case Some(r) =>
              s"change feed over $table: version $v removed " +
                s"${r.size} live file(s) (operation " +
                s"${m.operation.getOrElse("unknown")}) — file adds cannot " +
                "attribute its row changes. Replay it with " +
                "graft.lake.Snapshots.diff, or set skipChangeCommits=true " +
                "to skip such versions."
            case None =>
              s"change feed over $table: version $v is the window's first " +
                s"version, its predecessor manifest was retired by vacuum, " +
                s"and its operation (${m.operation.getOrElse("unknown")}) " +
                "may have removed live files — raise " +
                "spark.graft.changes.startVersion to at least " +
                s"${v + 1} (the earliest attributable version) or set " +
                "skipChangeCommits=true to skip it."
          })
      } else {
        val added = m.addedAtOf.collect { case (f, at) if at == v => f }.toSeq
        if (added.nonEmpty) {
          val opts = new CaseInsensitiveStringMap(
            java.util.Map.of("path", dataDir, "basePath", dataDir))
          val tbl = new DppParquetTable(s"$table@v$v(cdf)", spark, opts,
            added.sorted.map(f => s"$dataDir/$f"), Some(physFull))
          val builder = tbl.newScanBuilder(opts)
          builder match {
            case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
              // decode only the requested columns (physically spelled)
              p.pruneColumns(physOfSchema(prunedData))
            case _ =>
          }
          val batch: Batch = builder.build().toBatch
          val fi = factories.length
          factories += batch.createReaderFactory()
          batch.planInputPartitions().foreach(p =>
            parts += CdfFilePartition(p, fi, v))
        }
        m.deletes.filter(_.version == v).foreach { d =>
          // vector columns are PHYSICAL names; emit under logical ones
          val lcols = d.cols.map(c => logOf.getOrElse(c, c))
          val df = spark.read.parquet(s"$root/$table/deletes/${d.file}")
            .select(d.cols.zip(lcols).map { case (c, lc) =>
              col(c).cast(fullDataSchema(lc).dataType) }: _*)
          // vector files are broadcast-anti-join sized by the MOR premise,
          // never data-sized — driver-resolving them is the design
          val rows = df.collect().map(r => d.cols.indices.map(r.get).toArray)
          parts += CdfDeletePartition(lcols, rows, v)
        }
      }
    }
    (parts.toArray, factories.toArray)
  }

  /** Column-pruning resolution shared by both change surfaces: from the
    * full change schema and the REQUESTED schema, the pruned data columns
    * (table order), the requested change-metadata columns, and the scan's
    * output schema.
    */
  private[sql] def pruneChangeSchema(schema0: StructType,
      required: StructType): (StructType, Seq[String], StructType) = {
    val changeNames = Set(ChangeType, CommitVersion)
    val wanted = required.fieldNames.toSet
    val prunedData = StructType(schema0.fields
      .filter(f => !changeNames(f.name) && wanted(f.name)))
    val changeCols = schema0.fields
      .filter(f => changeNames(f.name) && wanted(f.name))
      .map(_.name).toSeq
    val readSchema0 = StructType(prunedData.fields ++
      schema0.fields.filter(f => changeCols.contains(f.name)))
    (prunedData, changeCols, readSchema0)
  }
}

private[sql] class CdfTable(root: String, table: String,
    startingVersion: Long, skipChangeCommits: Boolean,
    maxVersionsPerBatch: Int, schema0: StructType)
  extends Table with SupportsRead {

  override def name(): String = s"cdf(`$root`.`$table`)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  /** Column pruning composes through: the requested data columns are
    * pushed into each per-version parquet scan (a wide table's change
    * stream decodes only what the query reads — partition columns stay
    * last, the V2 file-scan output order, so rows align positionally),
    * and the two change-metadata columns are appended only when asked for.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var required: StructType = schema0

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan = {
        val (prunedData, changeCols, readSchema0) =
          CdfSource.pruneChangeSchema(schema0, required)
        new Scan {
          override def readSchema(): StructType = readSchema0
          override def toMicroBatchStream(checkpointLocation: String)
              : MicroBatchStream =
            new CdfStream(root, table, startingVersion, skipChangeCommits,
              maxVersionsPerBatch, StructType(schema0.fields.dropRight(2)),
              prunedData, changeCols)
        }
      }
    }
}

/** The BATCH change-feed surface — the Iceberg-style metadata table
  * `SELECT * FROM <catalog>.<t>.changes` (Delta's `table_changes(t, v1,
  * v2)` one-shot diff): the change rows of an INCLUSIVE version window,
  * parameterized by session confs resolved ONCE at table load (baked into
  * the relation — later conf changes never mutate an analyzed plan):
  *
  * {{{
  *   SET spark.graft.changes.startVersion = 2;   -- default 1
  *   SET spark.graft.changes.endVersion   = 5;   -- default latest
  *   SET spark.graft.changes.skipChangeCommits = true;  -- default false
  *   SELECT * FROM graft.t.changes
  * }}}
  *
  * Identical attribution, refusal contract, pruning, and row shape as the
  * streaming source ([[CdfSource]] — one shared planner); the general
  * row-level diff between arbitrary versions, including replace-shaped
  * ones, stays [[graft.lake.Snapshots.diff]].
  */
private[sql] class ChangesMetadataTable(root: String, table: String,
    startVersion: Long, endVersion: Long, skipChangeCommits: Boolean)
  extends Table with SupportsRead {

  private val dataSchema0 =
    CdfSource.dataSchema(SparkSession.active, root, table)
  private val schema0 = CdfSource.changeSchema(dataSchema0)

  override def name(): String = s"$table.changes"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var required: StructType = schema0

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan = {
        val (prunedData, changeCols, readSchema0) =
          CdfSource.pruneChangeSchema(schema0, required)
        new Scan with Batch {
          // planned lazily at execution, not at build: the factories are
          // per-plan state exactly as in the streaming path
          private lazy val planned = CdfSource.planVersions(
            SparkSession.active, root, table, startVersion - 1, endVersion,
            skipChangeCommits, dataSchema0, prunedData)
          override def readSchema(): StructType = readSchema0
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] =
            planned._1
          override def createReaderFactory(): PartitionReaderFactory =
            new CdfReaderFactory(planned._2, prunedData, changeCols)
        }
      }
    }
}

private[sql] case class CdfOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Offsets are version numbers: batch (start, end] consumes the file adds
  * and vector registrations of those versions. Planning is manifest-only.
  */
/** `maxVersionsPerBatch` (0 = unlimited) is the admission-control dial:
  * a catch-up over a long history consumes at most that many versions
  * per micro-batch instead of one giant batch — the AvailableNow loop
  * then runs several batches up to the pinned end version.
  */
private[sql] class CdfStream(root: String, table: String,
    startingVersion: Long, skipChangeCommits: Boolean,
    maxVersionsPerBatch: Int,
    fullDataSchema: StructType,     // the table's data columns (inner scans)
    prunedData: StructType,         // the requested data columns, table order
    changeCols: Seq[String])        // requested change-metadata columns
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  // AvailableNow pins the end version at stream start
  @volatile private var availableNowCap: Option[Long] = None
  // handed from planInputPartitions to createReaderFactory (always called
  // in that order within a micro-batch, on the driver)
  @volatile private var innerFactories: Array[PartitionReaderFactory] = Array.empty

  private def currentLatest(): Long =
    Snapshots.latestVersion(spark, root, table)
      .getOrElse(startingVersion - 1).max(startingVersion - 1)

  override def initialOffset(): Offset = CdfOffset(startingVersion - 1)
  override def deserializeOffset(json: String): Offset = CdfOffset(json.toLong)
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentLatest())
  // progress reporting honors the AvailableNow cap like latestOffset does
  // (no data effect — metrics would otherwise overstate the backlog)
  override def reportLatestOffset(): Offset =
    CdfOffset(availableNowCap.fold(currentLatest())(math.min(currentLatest(), _)))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this admission-controlled source")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val l = currentLatest()
    val capped = availableNowCap.fold(l)(math.min(l, _))
    val s = start.asInstanceOf[CdfOffset].v
    CdfOffset(
      if (maxVersionsPerBatch > 0) math.min(capped, s + maxVersionsPerBatch)
      else capped)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val from = start.asInstanceOf[CdfOffset].v
    val to = end.asInstanceOf[CdfOffset].v
    val (parts, factories) = CdfSource.planVersions(spark, root, table,
      from, to, skipChangeCommits, fullDataSchema, prunedData)
    innerFactories = factories
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(innerFactories, prunedData, changeCols)
}

/** A parquet file partition of one added-at version, tagged with the
  * factory that reads it and the version to stamp. */
private[sql] case class CdfFilePartition(inner: InputPartition,
    factoryIdx: Int, version: Long) extends InputPartition

/** A delete vector's key tuples (EXTERNAL Row values — serializable), one
  * change row per distinct key. */
private[sql] case class CdfDeletePartition(cols: Seq[String],
    rows: Array[Array[Any]], version: Long) extends InputPartition

/** A parquet partition of one version's CDC CAPTURE (change files written
  * at commit time): rows carry their own `_change_type` as the scan's
  * LAST column; the version to stamp rides along. */
private[sql] case class CdfChangeFilePartition(inner: InputPartition,
    factoryIdx: Int, version: Long) extends InputPartition

private[sql] class CdfReaderFactory(
    factories: Array[PartitionReaderFactory],
    prunedData: StructType, changeCols: Seq[String])
  extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  // output layout: requested data columns (inner-scan order) then the
  // requested change-metadata columns
  private def metaValues(changeType: String, v: Long): Array[Any] =
    changeCols.map {
      case CdfSource.ChangeType => UTF8String.fromString(changeType)
      case CdfSource.CommitVersion => v: Any
    }.toArray

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case CdfFilePartition(inner, fi, v) =>
        val r = factories(fi).createReader(inner)
        val meta = new GenericInternalRow(metaValues("insert", v))
        val joined = new JoinedRow
        new PartitionReader[InternalRow] {
          override def next(): Boolean = r.next()
          override def get(): InternalRow = joined(r.get(), meta)
          override def close(): Unit = r.close()
        }
      case CdfChangeFilePartition(inner, fi, v) =>
        val r = factories(fi).createReader(inner)
        val nData = prunedData.length
        val dts = prunedData.fields.map(_.dataType)
        // per requested meta column: -1 = _change_type (scanned col nData),
        // -2 = _commit_version (constant)
        val metaSrc = changeCols.map {
          case CdfSource.ChangeType => -1
          case CdfSource.CommitVersion => -2
        }.toArray
        new PartitionReader[InternalRow] {
          override def next(): Boolean = r.next()
          override def get(): InternalRow = {
            val in = r.get()
            // reference copy (same validity window as the JoinedRow path:
            // values live until the next next() call)
            val out = new GenericInternalRow(nData + metaSrc.length)
            var i = 0
            while (i < nData) {
              out.update(i, if (in.isNullAt(i)) null else in.get(i, dts(i)))
              i += 1
            }
            var j = 0
            while (j < metaSrc.length) {
              out.update(nData + j,
                if (metaSrc(j) == -1) in.getUTF8String(nData) else (v: Any))
              j += 1
            }
            out
          }
          override def close(): Unit = r.close()
        }
      case CdfDeletePartition(cols, rows, v) =>
        val nData = prunedData.length
        // a vector column the query pruned away simply isn't emitted
        val emitted = cols.zipWithIndex
          .filter { case (c, _) => prunedData.fieldNames.contains(c) }
        val ords = emitted.map { case (c, _) => prunedData.fieldIndex(c) }
        val convs = emitted.map { case (c, _) => CatalystTypeConverters
          .createToCatalystConverter(prunedData(c).dataType) }
        val srcIdx = emitted.map(_._2)
        val meta = metaValues("delete", v)
        var i = -1
        new PartitionReader[InternalRow] {
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow = {
            val out = new GenericInternalRow(nData + changeCols.length)
            ords.indices.foreach(j =>
              out.update(ords(j), convs(j)(rows(i)(srcIdx(j)))))
            meta.indices.foreach(j => out.update(nData + j, meta(j)))
            out
          }
          override def close(): Unit = ()
        }
      case other => throw new IllegalStateException(
        s"CDF reader got a foreign partition: ${other.getClass.getName}")
    }
}
