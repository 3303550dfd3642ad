package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils._
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** The one partition-directory rule, Spark's own writer rule
  * (`BaseDynamicPartitionDataWriter`): a value is cast to a string under
  * the session time zone, then name and value are Hive-escaped (`a:b` →
  * `a%3Ab`) and a null or empty value becomes [[NullValue]]. Every verb
  * that names the partitions it replaces, and the streaming writer, spell
  * `c=v/` prefixes here, so they match what `df.write.partitionBy` wrote.
  */
private[graft] object PartitionPath {

  val NullValue: String = DEFAULT_PARTITION_NAME

  /** `c=v/d=w/` (empty for no columns) of rows holding the partition
    * columns as INTERNAL values at the given (name, ordinal, type);
    * serializable, so write tasks run it too. */
  def speller(cols: Seq[(String, Int, DataType)],
      timeZone: String): InternalRow => String = {
    val casts = cols.map { case (c, i, dt) =>
      c -> Cast(BoundReference(i, dt, nullable = true), StringType, Some(timeZone))
    }
    row => casts.map { case (c, cast) =>
      getPartitionPathString(c, Option(cast.eval(row)).map(_.toString).orNull) + "/"
    }.mkString
  }

  /** The prefix of one tuple of EXTERNAL values (a collected `Row`'s, a
    * V2 filter's) named and typed by `schema`. */
  def of(spark: SparkSession, schema: StructType, values: Seq[Any]): String =
    speller(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        (f.name, i, f.dataType) }, spark.sessionState.conf.sessionLocalTimeZone)(
      InternalRow.fromSeq(schema.fields.toSeq.zip(values).map { case (f, v) =>
        Literal.create(v, f.dataType).value }))

  /** The directory prefix of a relative file path; None at top level. */
  def dirOf(file: String): Option[String] = file.lastIndexOf('/') match {
    case -1 => None
    case i => Some(file.take(i + 1))
  }

  /** The unescaped (name, value) pairs of a file path's or a prefix's
    * directories; [[NullValue]] reads as null. */
  def layout(path: String): Seq[(String, String)] =
    dirOf(path).toSeq.flatMap(_.split('/')).map { seg =>
      val (c, v) = seg.span(_ != '=') // escaping leaves one raw '='
      unescapePathName(c) -> Option(v.drop(1)).filter(_ != NullValue)
        .map(unescapePathName).orNull
    }

  def holdsNull(prefix: String): Boolean = layout(prefix).exists(_._2 == null)
}
