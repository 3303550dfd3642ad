package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** A Snapshots version's stats sidecar, decoded on the driver: one row per
  * live data file — `file` (relative to the table's `data/`), `bytes` (its
  * exact length, write-derived), `rows` (its exact row count) and, per
  * tracked stats column `c` (PHYSICAL name, so stats survive a column
  * rename), `min_<c>`/`max_<c>`. Driver-sized: one entry per live file,
  * the cardinality any table format's metadata layer carries (~10⁵ at
  * 100 TB with 1 GB files).
  *
  * A null bound means "no stats" and a file absent from the sidecar is
  * unknown: every consumer reads such files conservatively.
  */
final case class Sidecar(schema: StructType, entries: Seq[Row]) {

  /** Tracked stats columns: those with both a `min_` and a `max_` column,
    * in schema order. */
  def statsCols: Seq[String] = schema.fieldNames.toSeq
    .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
    .filter(c => schema.fieldNames.contains(s"max_$c"))

  /** file → its sidecar row. */
  lazy val byFile: Map[String, Row] = {
    val fi = schema.fieldIndex("file")
    entries.iterator.filterNot(_.isNullAt(fi))
      .map(r => r.getString(fi) -> r).toMap
  }

  private def valueOf(r: Row, c: String): Option[Any] =
    Sidecar.indexOf(schema, c).filterNot(r.isNullAt(_)).map(r.get(_))

  /** file → stats column → (min, max), for skipping; null bounds are
    * left out. */
  lazy val ranges: Map[String, Map[String, (Any, Any)]] = byFile.map {
    case (f, r) => f -> statsCols.flatMap(c =>
      for (mn <- valueOf(r, s"min_$c"); mx <- valueOf(r, s"max_$c"))
        yield c -> ((mn, mx))).toMap
  }

  /** Exact per-file byte length, for planner statistics and listing-free
    * file indexes — absent for files whose commits predate the
    * recording. */
  lazy val bytes: Map[String, Long] = longs("bytes")

  /** Exact per-file row count (absent where never recorded). */
  lazy val rows: Map[String, Long] = longs("rows")

  private def longs(c: String): Map[String, Long] = byFile.flatMap {
    case (f, r) => valueOf(r, c).map(v => f -> v.asInstanceOf[Number].longValue)
  }

  /** A file's non-null `min_*`/`max_*` values by column name, sorted. */
  def boundsOf(file: String): Seq[(String, Any)] =
    byFile.get(file).toSeq.flatMap { r =>
      schema.fieldNames.toSeq.sorted
        .filter(n => n.startsWith("min_") || n.startsWith("max_"))
        .flatMap(n => valueOf(r, n).map(n -> _))
    }

  /** Can a file hold a row inside every `(column, lo, hi)` window? One
    * filter over all rows as a `LocalRelation`: the optimizer folds it on
    * the driver (no Spark job), and `lo`/`hi` keep their Column semantics
    * (any literal type, casts, expressions). Conservative: a window on an
    * untracked column, a null bound and a file absent from the sidecar
    * all answer yes.
    */
  def mayContain(spark: SparkSession,
      windows: Seq[(String, Column, Column)]): String => Boolean = {
    val probed = windows.filter { case (c, _, _) => statsCols.contains(c) }
    if (probed.isEmpty) return _ => true
    val cond = probed.map { case (c, lo, hi) =>
      val (mn, mx) = (col(s"min_$c"), col(s"max_$c"))
      mn.isNull || mx.isNull || (mn <= hi && mx >= lo)
    }.reduce(_ && _)
    val kept = spark.createDataFrame(entries.asJava, schema).filter(cond)
      .select("file").collect().map(_.getString(0)).toSet
    f => kept(f) || !byFile.contains(f)
  }
}

/** The one module that knows where a version's stats sidecar lives
  * (`_snapshots/<table>/stats_v<N>`), which columns it holds and how it is
  * encoded. Every read, merge and write of a sidecar goes through here,
  * on the driver:
  *
  *  - [[load]] decodes the parquet directory with parquet-hadoop's example
  *    Group API (the engine's driver-side footer idiom) — no Spark job.
  *    Spark's reader is only the fallback for shapes this codec does not
  *    decode (decimal or timestamp stats, foreign encodings).
  *  - [[publish]] merges the carried and fresh rows with the live-file
  *    list in driver memory and encodes the result with the same codec;
  *    a one-task Spark write is used only when the merged schema falls
  *    outside the codec's types. The directory lands by tmp + rename.
  *
  * Through Spark, a sidecar costs a read, two joins and a one-task write
  * job per commit and two or three jobs per reader: fixed overhead on
  * every commit and every fresh-version plan, for a manifest-sized file.
  */
object Sidecar {

  private def indexOf(st: StructType, c: String): Option[Int] =
    Some(st.fieldNames.indexOf(c)).filter(_ >= 0)

  /** Version `version`'s sidecar directory. */
  private[lake] def dir(root: String, table: String, version: Long): Path =
    new Path(s"${Snapshots.manifestDir(root, table)}/stats_v$version")

  /** Version `version`'s sidecar, or None when it is absent or
    * unreadable (consumers then skip nothing — conservative).
    */
  def load(spark: SparkSession, root: String, table: String,
      version: Long): Option[Sidecar] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = dir(root, table, version)
    scala.util.Try {
      if (!d.getFileSystem(conf).exists(d)) None
      else scala.util.Try(decode(conf, d)).toOption.flatten.orElse {
        val df = spark.read.parquet(d.toString)
        Some(Sidecar(df.schema, df.collect().toSeq)) // one row per file
      }
    }.toOption.flatten.filter(_.schema.fieldNames.contains("file"))
  }

  /** Publish version `version`'s sidecar: one row per LIVE file of
    * `files` — `fresh` rows for the files the commit added, the previous
    * version's rows for the files it keeps, null stats for files covered
    * by neither (pruned reads open those conservatively). The previous
    * sidecar also carries its columns when no row survives, so a
    * truncated table keeps its tracked stats columns. A column whose
    * type widened between versions (int → long) carries its old bounds
    * cast to the wider type, as a SQL union would. With MOR delete
    * vectors live, carried stats and counts overstate the readable rows
    * — the conservative direction for both skipping and planning.
    *
    * The directory lands by tmp + rename: the sidecar publishes after the
    * manifest, and a reader resolving the new version in between sees
    * the complete sidecar or none (absence degrades conservatively),
    * never a half-written directory.
    */
  private[lake] def publish(spark: SparkSession, root: String, table: String,
      version: Long, files: Seq[String], fresh: Option[Sidecar],
      prevVersion: Option[Long]): Unit = {
    val parts = fresh.toSeq ++ prevVersion.flatMap(load(spark, root, table, _))
    if (parts.isEmpty) return // no stats at all: nothing to publish
    val merged = union(parts)
    val rest = merged.schema.fields.filterNot(_.name == "file").toSeq
    val restIdx = rest.map(fd => merged.schema.fieldIndex(fd.name))
    val out = Sidecar(StructType(StructField("file", StringType) +: rest),
      files.map(p => Row.fromSeq(p +: (merged.byFile.get(p) match {
        case Some(r) => restIdx.map(r.get)
        case None => rest.map(_ => null)
      }))))
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = dir(root, table, version)
    val fs = dst.getFileSystem(conf)
    val tmp = new Path(
      s"$dst.tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    try {
      if (out.schema.fields.forall(f => encodable(f.dataType)))
        encode(conf, tmp, out)
      else spark.createDataFrame(out.entries.asJava, out.schema)
        .coalesce(1) // one row per file: a one-task write
        .write.mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"failed to publish sidecar $dst")
    } finally fs.delete(tmp, true)
  }

  /** Union by column name over sidecar parts: columns in first-seen order,
    * absent columns read null, and a column typed differently across parts
    * takes Spark's wider type (a value with no cast to it reads null — no
    * stats, conservative). */
  private def union(parts: Seq[Sidecar]): Sidecar = {
    val types = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    for (p <- parts; f <- p.schema.fields)
      types(f.name) = types.get(f.name).fold(f.dataType)(t =>
        TypeCoercion.findWiderTypeForTwo(t, f.dataType).getOrElse(t))
    val schema = StructType(types.map { case (n, t) => StructField(n, t) }.toSeq)
    Sidecar(schema, parts.flatMap { p =>
      val cols = schema.fields.toSeq.map(f => indexOf(p.schema, f.name)
        .map(i => (i, cast(p.schema(i).dataType, f.dataType))))
      p.entries.map(r => Row.fromSeq(cols.map {
        case Some((i, conv)) if !r.isNullAt(i) => conv(r.get(i))
        case _ => null
      }))
    })
  }

  /** Spark's own cast of an external value from `from` to `to`. */
  private def cast(from: DataType, to: DataType): Any => Any =
    if (from == to) identity
    else if (!Cast.canCast(from, to)) _ => null
    else {
      val toScala = CatalystTypeConverters.createToScalaConverter(to)
      v => toScala(Cast(Literal.create(v, from), to, Some("UTC")).eval())
    }

  // ---- the codec: flat optional-primitive parquet ----

  private def encodable(t: DataType): Boolean = t match {
    case StringType | LongType | IntegerType | DoubleType | FloatType |
         BooleanType | DateType => true
    case _ => false
  }

  private def toParquet(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t: Type = f.dataType match {
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case LongType => Types.optional(PrimitiveTypeName.INT64).named(f.name)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32).named(f.name)
        case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case FloatType => Types.optional(PrimitiveTypeName.FLOAT).named(f.name)
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case DateType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case other => throw new IllegalStateException(s"unsupported $other")
      }
      b.addField(t)
    }
    b.named("sidecar")
  }

  /** Parquet primitive → Spark type, or None outside the codec's set. */
  private def toSpark(t: Type): Option[DataType] = {
    if (!t.isPrimitive) return None
    val p = t.asPrimitiveType()
    val ann = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.BINARY
          if ann == LogicalTypeAnnotation.stringType() => Some(StringType)
      case PrimitiveTypeName.INT64 if ann == null => Some(LongType)
      case PrimitiveTypeName.INT32
          if ann == LogicalTypeAnnotation.dateType() => Some(DateType)
      case PrimitiveTypeName.INT32 if ann == null => Some(IntegerType)
      case PrimitiveTypeName.DOUBLE => Some(DoubleType)
      case PrimitiveTypeName.FLOAT => Some(FloatType)
      case PrimitiveTypeName.BOOLEAN => Some(BooleanType)
      case _ => None
    }
  }

  /** Every `*.parquet` part under `d`, decoded. None when a part holds a
    * shape outside the codec's set, the parts disagree on schema, or
    * there is no part — the caller then reads through Spark.
    */
  private def decode(conf: Configuration, d: Path): Option[Sidecar] = {
    val fs: FileSystem = d.getFileSystem(conf)
    val parts = fs.listStatus(d).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
    var schema: Option[StructType] = None
    val rows = Seq.newBuilder[Row]
    for (part <- parts) {
      val footer = ParquetFileReader.open(HadoopInputFile.fromPath(part.getPath, conf))
      val msg = try footer.getFooter.getFileMetaData.getSchema
        finally footer.close()
      val fields = (0 until msg.getFieldCount).map(msg.getType)
      val sparkFields = fields.map(f => toSpark(f).map(StructField(f.getName, _)))
      if (sparkFields.exists(_.isEmpty)) return None
      val st = StructType(sparkFields.map(_.get))
      if (schema.exists(_ != st)) return None
      schema = Some(st)
      val reader = ParquetReader
        .builder(new GroupReadSupport(), part.getPath).withConf(conf).build()
      try {
        var g: Group = reader.read()
        while (g != null) {
          rows += Row.fromSeq(st.fields.toSeq.zipWithIndex.map { case (f, i) =>
            if (g.getFieldRepetitionCount(i) == 0) null
            else f.dataType match {
              case StringType => g.getString(i, 0)
              case LongType => g.getLong(i, 0)
              case IntegerType => g.getInteger(i, 0)
              case DoubleType => g.getDouble(i, 0)
              case FloatType => g.getFloat(i, 0)
              case BooleanType => g.getBoolean(i, 0)
              case DateType =>
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
                  g.getInteger(i, 0).toLong))
              case other => throw new IllegalStateException(s"$other")
            }
          })
          g = reader.read()
        }
      } finally reader.close()
    }
    schema.map(Sidecar(_, rows.result()))
  }

  /** Write `sc` as a single-part parquet directory at `d` (the layout
    * Spark's `coalesce(1).write.parquet` produces, minus `_SUCCESS`).
    * Every column must be [[encodable]]. */
  private def encode(conf: Configuration, d: Path, sc: Sidecar): Unit = {
    d.getFileSystem(conf).mkdirs(d)
    val msg = toParquet(sc.schema)
    val factory = new SimpleGroupFactory(msg)
    val c = new Configuration(conf)
    GroupWriteSupport.setSchema(msg, c)
    val writer: ParquetWriter[Group] = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        new Path(d, "part-00000-sidecar.parquet"), c))
      .withConf(c)
      .build()
    try {
      sc.entries.foreach { r =>
        val g = factory.newGroup()
        sc.schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!r.isNullAt(i)) f.dataType match {
            case StringType => g.append(f.name, r.getString(i))
            case LongType => g.append(f.name, r.getLong(i))
            case IntegerType => g.append(f.name, r.getInt(i))
            case DoubleType => g.append(f.name, r.getDouble(i))
            case FloatType => g.append(f.name, r.getFloat(i))
            case BooleanType => g.append(f.name, r.getBoolean(i))
            case DateType => g.append(f.name,
              r.getDate(i).toLocalDate.toEpochDay.toInt)
            case other => throw new IllegalStateException(s"$other")
          }
        }
        writer.write(g)
      }
    } finally writer.close()
  }
}
