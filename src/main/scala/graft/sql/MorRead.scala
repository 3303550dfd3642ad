package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Merge-on-read delete application for CATALOG (SQL) scans — the read
  * half of `Snapshots.deleteWhere` when the reader is Spark's own V2
  * parquet scan rather than the Scala API (which applies vectors as anti
  * joins inside the DataFrame plan; a DSV2 `Scan` cannot express a join,
  * so the SQL path applies them inside the partition readers — the same
  * place Iceberg's Spark reader applies equality deletes).
  *
  * Mechanics: the catalog resolves each manifest delete vector ONCE per
  * (version, table-cache entry) into a driver-side key set (vectors are
  * small by the MOR premise — they are broadcast-anti-join sized by
  * design). The scan then
  *
  *  - keeps the vector columns in the read schema (reporting them as
  *    unpruned is legal — V2 column pruning is best-effort),
  *  - regroups file partitions so every partition holds files of ONE
  *    `addedAt` version (a vector applies only to files older than it —
  *    the sequence rule — and applicability is decided per reader),
  *  - wraps the inner reader factory with a row filter that drops rows
  *    whose vector-column tuple (null-safe) appears in an applicable key
  *    set.
  *
  * The wrapped scan is row-based (`supportColumnarReads` = false): the
  * inner parquet reader still decodes vectorized and hands off rows, the
  * known MOR read tax. [[graft.lake.Snapshots.compact]] folds vectors
  * away and restores fully columnar scans.
  */
object MorRead {

  /** One resolved vector: ordinal-free form — columns by NAME with their
    * (table-schema) types and the key tuples as Catalyst-internal values
    * aligned with `cols`.
    */
  case class Vector(cols: Seq[String], types: Seq[DataType], version: Long,
      keys: Set[Seq[Any]]) extends Serializable

  /** All vectors of a version plus the file → addedAt map (relative
    * paths, as the manifest stores them).
    */
  case class Spec(vectors: Seq[Vector], addedAt: Map[String, Long])
    extends Serializable

  /** Resolve a version's manifest vectors into a [[Spec]]: read each
    * vector file (driver-tiny), cast its columns to the TABLE schema the
    * scan will produce (the catalog widens integer partition directories
    * to BIGINT — key values must compare under the widened types), and
    * collect the internal-value tuples.
    */
  def resolve(spark: SparkSession, deletesDir: String,
      deletes: Seq[graft.lake.DeleteVector],
      addedAt: Map[String, Long], tableSchema: StructType): Spec = {
    val vectors = deletes.map { d =>
      val df = spark.read.parquet(s"$deletesDir/${d.file}")
        .select(d.cols.map(c => col(c).cast(tableSchema(c).dataType)): _*)
      val types = df.schema.fields.map(_.dataType).toSeq
      // executeCollect returns standalone internal rows — vector files are
      // anti-join-broadcast sized by the MOR premise, never data-sized
      val rows = df.queryExecution.executedPlan.executeCollect()
      val keys = rows.iterator.map { r =>
        types.indices.map(i =>
          if (r.isNullAt(i)) null else r.get(i, types(i))).toList: Seq[Any]
      }.toSet
      Vector(d.cols, types, d.version, keys)
    }
    Spec(vectors, addedAt)
  }

  /** Regroup planned file partitions so each holds files of a single
    * addedAt version, greedy-packed to `maxBytes` (partition counts stay
    * in the same regime as Spark's own packing). Vector applicability is
    * then uniform per partition.
    */
  def regroup(partitions: Array[InputPartition], addedAt: Map[String, Long],
      maxBytes: Long): Array[InputPartition] = {
    val files = partitions.flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"MOR scan planned a non-file partition: ${other.getClass.getName}")
    }
    var idx = -1
    files.groupBy(pf => addedAt.getOrElse(relOf(pf.filePath.toString), 0L))
      .toSeq.sortBy(_._1)
      .flatMap { case (_, fs) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[FilePartition]
        var cur = scala.collection.mutable.ArrayBuffer.empty[
          org.apache.spark.sql.execution.datasources.PartitionedFile]
        var bytes = 0L
        fs.sortBy(-_.length).foreach { f =>
          if (cur.nonEmpty && bytes + f.length > maxBytes) {
            idx += 1; out += FilePartition(idx, cur.toArray); cur.clear(); bytes = 0L
          }
          cur += f; bytes += f.length
        }
        if (cur.nonEmpty) { idx += 1; out += FilePartition(idx, cur.toArray) }
        out.toSeq
      }.toArray
  }

  /** Relative path under `data/` — the manifest's file key (partition
    * segments are always `c=v`, so no later segment can equal "data").
    */
  def relOf(path: String): String = {
    val i = path.lastIndexOf("/data/")
    if (i < 0) path else path.substring(i + "/data/".length)
  }

  /** Row-filtering wrapper around the parquet reader factory. Row-based
    * by contract (see object doc); the inner factory's row path is still
    * vectorized-decode underneath.
    */
  class ReaderFactory(inner: PartitionReaderFactory, spec: Spec,
      outputSchema: StructType) extends PartitionReaderFactory {

    override def supportColumnarReads(p: InputPartition): Boolean = false

    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val fp = p.asInstanceOf[FilePartition]
      val versions = fp.files.map(f =>
        spec.addedAt.getOrElse(relOf(f.filePath.toString), 0L)).distinct
      require(versions.length == 1,
        "MOR file partition mixes addedAt versions — regroup failed")
      val applicable = spec.vectors.filter(_.version > versions.head)
        .map { v =>
          val ords = v.cols.map(outputSchema.fieldIndex)
          (ords, v.types, v.keys)
        }
      val r = inner.createReader(p)
      if (applicable.isEmpty) r
      else new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean = {
          while (r.next()) {
            val row = r.get()
            if (!deleted(row)) { current = row; return true }
          }
          false
        }
        private def deleted(row: InternalRow): Boolean =
          applicable.exists { case (ords, types, keys) =>
            val key: Seq[Any] = ords.indices.map(i =>
              if (row.isNullAt(ords(i))) null
              else row.get(ords(i), types(i))).toList
            keys.contains(key)
          }
        override def get(): InternalRow = current
        override def close(): Unit = r.close()
      }
    }
  }
}
