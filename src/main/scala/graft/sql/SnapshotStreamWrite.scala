package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.Snapshots

/** `df.writeStream.toTable("graft.t")` — the streaming front door of a
  * Snapshots-versioned table (the reference's whole daily-update loop is
  * a micro-batch append, update/app.py:296-445; here it is a first-class
  * Structured Streaming sink instead of a hand-rolled foreachBatch).
  *
  * The streaming engine resolves `toTable` through the catalog's PLAIN
  * `loadTable(ident)` (no write privileges are requested), so the catalog
  * wraps every versioned-latest read table in this delegator: reads pass
  * through untouched (same scans, same merge-on-read vectors, same
  * sidecar skipping), and the write half advertises `STREAMING_WRITE`
  * backed by the snapshot commit protocol.
  *
  * Exactly-once contract: every epoch commit publishes ONE manifest
  * carrying the epoch's `(queryId, epochId)` identity
  * ([[graft.lake.Snapshots.commitStreamEpoch]]). `queryId` is the
  * streaming query's STABLE id (persisted in the checkpoint — Spark hands
  * it to `newWriteBuilder`), so a replayed epoch — same run or a
  * checkpointed restart — finds its identity already in the manifest
  * ledger and commits nothing (its re-staged files stay unreferenced;
  * vacuum reclaims them). A concurrent BATCH writer publishing between an
  * epoch's read of `latest` and its manifest put-if-absent surfaces the
  * usual retryable CME, and the epoch commit — a blind append — reconciles
  * against the new latest and retries metadata-only.
  *
  * Scale shape: tasks write parquet straight into a hidden per-epoch
  * staging directory under the table (one writer per partition value per
  * task; the Write REQUESTS a partition-column-clustered distribution, so
  * an epoch lands ~one file per touched partition, not tasks×partitions);
  * the epoch commit is a per-file driver rename plus one manifest-sized
  * metadata reconcile. Append-mode only, by design: update/complete modes
  * would need row-level replacement semantics — spell those as
  * `foreachBatch` + MERGE.
  */
class StreamingSnapshotTable(
    delegate: Table with SupportsRead,
    root: String,
    table: String,
    shape: () => (StructType, Seq[String], Seq[String]))
  extends Table with SupportsRead with SupportsWrite {

  // derived at most once, and only when the write half is actually used.
  // manifestSchema is the UNWIDENED committed schema — the epoch commit
  // must record stored types, not the catalog's BIGINT-widened read view
  private lazy val (manifestSchema, partitionCols, statsCols) = shape()

  override def name(): String = delegate.name()
  override def schema(): StructType = delegate.schema()
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    delegate.partitioning()

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.copyOf(delegate.capabilities())
    caps.add(TableCapability.STREAMING_WRITE)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    delegate.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val (pCols, sCols) = (partitionCols, statsCols)
        // the stream resolved this table's READ schema, whose integer
        // partition columns the catalog widens to BIGINT; committing that
        // widened schema would silently evolve the stored manifest type
        // (and break later int-typed batch appends against the additive
        // check). De-widen: partition columns commit under their STORED
        // type — an int and its BIGINT widening spell one directory, so
        // the task-side rows (which carry the widened type) are unaffected.
        val commitSchema = StructType(info.schema().fields.map { f =>
          if (pCols.contains(f.name))
            manifestSchema.fields.find(_.name == f.name) match {
              case Some(mf) if mf.dataType != f.dataType &&
                  graft.lake.Snapshots.widens(mf.dataType, f.dataType) =>
                f.copy(dataType = mf.dataType)
              case _ => f
            }
          else f
        })
        val missing = pCols.filterNot(info.schema().fieldNames.contains)
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"streaming write into $table: partition column(s) " +
            s"${missing.mkString(", ")} absent from the stream's schema")
        pCols.foreach { c =>
          val dt = info.schema()(c).dataType
          if (!SnapshotStreamingWrite.partitionable(dt))
            throw new UnsupportedOperationException(
              s"streaming write into $table: partition column $c of type " +
                s"${dt.simpleString} has no stable Hive-directory encoding " +
                "here (supported: string, integral, boolean, date)")
        }
        new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // cluster epochs by partition value: one writer file per touched
          // partition instead of tasks × partitions shards (the same
          // rationale as Lake.clusterByPartitions)
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            if (partitionCols.isEmpty)
              org.apache.spark.sql.connector.distributions.Distributions
                .unspecified()
            else org.apache.spark.sql.connector.distributions.Distributions
              .clustered(partitionCols.map(c =>
                org.apache.spark.sql.connector.expressions.Expressions
                  .identity(c): org.apache.spark.sql.connector.expressions
                  .Expression).toArray)
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toStreaming: StreamingWrite =
            new SnapshotStreamingWrite(root, table, info.queryId(),
              info.schema(), pCols, sCols, commitSchema,
              graft.lake.ColumnMapping.physicalOf(manifestSchema))
        }
      }
    }
}

private[sql] object SnapshotStreamingWrite {
  private[sql] def partitionable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
        BooleanType | DateType => true
    case _ => false
  }
}

/** One streaming query's write handle: stages each epoch's files under
  * `<root>/<table>/.streamstage-<queryId>/<epochId>/`, then commits the
  * epoch through [[graft.lake.Snapshots.commitStreamEpoch]].
  */
private[sql] class SnapshotStreamingWrite(
    root: String, table: String, queryId: String,
    writeSchema: StructType, partitionCols: Seq[String],
    statsCols: Seq[String],
    // the schema the epoch COMMIT records (partition columns de-widened to
    // their stored manifest types); writeSchema stays the task-row layout
    commitSchema: StructType,
    // logical → physical column names (column mapping): the FILES must
    // spell columns physically, exactly like the batch write path
    physOf: Map[String, String] = Map.empty)
  extends StreamingWrite {

  private def stageBase = s"$root/$table/.streamstage-$queryId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val spark = SparkSession.active
    // the parquet writer settings (compression, timestamp encoding, …)
    // are installed into a fresh Hadoop conf by Spark's own parquet
    // prepareWrite — driver-side, shipped serialized to the tasks, so a
    // streamed file is byte-compatible with a batch-committed one
    val dataSchema = StructType(
      writeSchema.fields.filterNot(f => partitionCols.contains(f.name))
        .map(f => f.copy(name = physOf.getOrElse(f.name, f.name))))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    // the batch writer's own directory rule, so streamed and
    // batch-committed files share one layout
    val dirOf = graft.lake.PartitionPath.speller(partitionCols.map(c =>
      (c, writeSchema.fieldIndex(c), writeSchema(c).dataType)),
      spark.sessionState.conf.sessionLocalTimeZone)
    new SnapshotStreamWriterFactory(stageBase, writeSchema, partitionCols,
      dataSchema, owf, new ConfHolder(job.getConfiguration), dirOf)
  }

  override def useCommitCoordinator(): Boolean = true

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val stageEpochDir = s"$stageBase/$epochId"
    val rels = messages.toSeq.flatMap {
      case StagedEpochFiles(r) => r
      case other => throw new IllegalStateException(
        s"streaming write got a foreign commit message: $other")
    }
    val replayed =
      Snapshots.epochVersion(spark, root, table, queryId, epochId).isDefined
    if (!replayed && rels.nonEmpty) {
      val added = Snapshots.adoptStagedFiles(spark, root, table,
        stageEpochDir, rels)
      Snapshots.commitStreamEpoch(spark, root, table, added, commitSchema,
        partitionCols, statsCols, queryId, epochId)
    }
    // replayed epochs (and empty ones) publish nothing; either way the
    // epoch's staging directory is done
    deleteStage(spark, stageEpochDir)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    deleteStage(SparkSession.active, s"$stageBase/$epochId")

  private def deleteStage(spark: SparkSession, dir: String): Unit = {
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(dir), true)
    // drop the per-query parent once its last epoch dir is gone (crashed
    // queries' leftovers are reclaimed by vacuum's stale-staging sweep)
    val parent = new Path(stageBase)
    if (f.exists(parent) && f.listStatus(parent).isEmpty)
      f.delete(parent, false)
  }
}

/** Java-serializable Hadoop `Configuration` carrier (the write settings
  * prepared on the driver must reach the task writers).
  */
private[sql] class ConfHolder(
    @transient var conf: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit =
    conf.write(out)
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}

/** Commit message: the Hive-layout relative paths (under the epoch's
  * staging dir) this task wrote. Byte lengths are derived driver-side at
  * adoption (write-derived attribution, same as the batch protocol).
  */
private[sql] case class StagedEpochFiles(rels: Seq[String])
  extends WriterCommitMessage

private[sql] class SnapshotStreamWriterFactory(
    stageBase: String, writeSchema: StructType, partitionCols: Seq[String],
    dataSchema: StructType,
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    confHolder: ConfHolder, dirOf: InternalRow => String)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new EpochDataWriter(s"$stageBase/$epochId", writeSchema, partitionCols,
      dataSchema, owf, confHolder, dirOf, epochId, partitionId)
}

/** Task-side writer: routes each row to the OutputWriter of its partition
  * value (writers per task are bounded by the touched-partition count —
  * and by the requested clustering, usually one), writing the data-column
  * projection; partition values live only in the directory name, exactly
  * like the batch write path.
  */
private[sql] class EpochDataWriter(
    epochDir: String, writeSchema: StructType, partitionCols: Seq[String],
    dataSchema: StructType,
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    confHolder: ConfHolder, dirOf: InternalRow => String, epochId: Long,
    partitionId: Int)
  extends DataWriter[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}

  private lazy val dataProj = UnsafeProjection.create(
    writeSchema.fields.zipWithIndex.toSeq
      .filterNot { case (f, _) => partitionCols.contains(f.name) }
      .map { case (f, i) =>
        BoundReference(i, f.dataType, f.nullable)
          : org.apache.spark.sql.catalyst.expressions.Expression
      })
  private lazy val attemptContext = new TaskAttemptContextImpl(
    confHolder.conf,
    new TaskAttemptID(new TaskID(new JobID(s"graft-stream-$epochId", 0),
      TaskType.MAP, partitionId), 0))

  // one open writer per partition-directory key
  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[String, (org.apache.spark.sql.execution.datasources.OutputWriter, String)]

  override def write(row: InternalRow): Unit = {
    val dir = dirOf(row)
    require(!graft.lake.PartitionPath.holdsNull(dir),
      s"streaming write: null value in partition column(s) of $dir")
    val (w, _) = writers.getOrElseUpdate(dir, {
      val rel = dir +
        f"part-$epochId-$partitionId%05d-${java.util.UUID.randomUUID()}" +
        owf.getFileExtension(attemptContext)
      (owf.newInstance(s"$epochDir/$rel", dataSchema, attemptContext), rel)
    })
    w.write(dataProj(row))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    StagedEpochFiles(writers.values.map(_._2).toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (w, rel) =>
      try w.close() catch { case _: Throwable => () }
      try {
        val p = new Path(s"$epochDir/$rel")
        p.getFileSystem(confHolder.conf).delete(p, false)
      } catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = ()
}
