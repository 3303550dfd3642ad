package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.GroupType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One data file's commit facts, read from its Parquet footer on the
  * driver: its exact row count and, per stats column, its min/max — the
  * min of the row-group minima and the max of the row-group maxima, in the
  * column's Parquet order (signed for ints and dates, unsigned bytes for
  * UTF-8 strings: Spark's own orders for these types).
  *
  * `bounds(i)` is the answer for the i-th requested column:
  *  - `Some((type, min, max))` when the footer gives it exactly — `min`
  *    and `max` are null when the file holds no value of the column, as
  *    Spark's `min()` over it would be;
  *  - `None` when it cannot: a type outside [[Exact]] (timestamps, which
  *    Spark writes as INT96 without statistics; floating point, whose
  *    footer order differs from Spark's for NaN; decimals), a column not
  *    stored in the file (a partition column), a file without Spark's
  *    schema in its footer, or a row group with values but no min/max.
  *    The caller derives those columns from the data.
  */
private[lake] final case class FooterStats(rows: Long,
    bounds: Seq[Option[(DataType, Any, Any)]])

private[lake] object FooterStats {

  /** The Spark types whose footer min/max equal Spark's `min`/`max`,
    * with the Parquet physical type Spark stores them as. */
  private val Exact: Map[DataType, PrimitiveTypeName] = Map(
    LongType -> PrimitiveTypeName.INT64,
    IntegerType -> PrimitiveTypeName.INT32,
    DateType -> PrimitiveTypeName.INT32,
    StringType -> PrimitiveTypeName.BINARY,
    BooleanType -> PrimitiveTypeName.BOOLEAN)

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
  private val LegacyDateKey = "org.apache.spark.legacyDateTime"

  def read(conf: Configuration, file: Path, statsCols: Seq[String]): FooterStats = {
    val footer = try {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try r.getFooter finally r.close()
    } catch {
      case e: Exception => throw new java.io.IOException(
        s"cannot read the Parquet footer of $file: ${e.getMessage}", e)
    }
    val meta = footer.getFileMetaData
    val kv = meta.getKeyValueMetaData.asScala
    // Spark reads a file with the schema it wrote into the footer
    val sparkSchema = kv.get(SparkSchemaKey)
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption).collect {
        case st: StructType => st }
    val blocks = footer.getBlocks.asScala.toSeq
    def chunks(c: String): Seq[ColumnChunkMetaData] = blocks.flatMap(
      _.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(c))))
    FooterStats(blocks.map(_.getRowCount).sum, statsCols.map { c =>
      typeOf(meta.getSchema, sparkSchema, c)
        .filterNot(t => t == DateType && kv.contains(LegacyDateKey))
        .flatMap(t => bounds(t, chunks(c)).map { case (mn, mx) => (t, mn, mx) })
    })
  }

  /** The Spark type `c` reads as, when it is in [[Exact]] and stored as a
    * top-level column of the matching Parquet type. A file without the
    * Spark schema Spark's writer stores in the footer answers nothing. */
  private def typeOf(msg: GroupType, sparkSchema: Option[StructType],
      c: String): Option[DataType] =
    if (!msg.containsField(c) || !msg.getType(c).isPrimitive) None
    else sparkSchema.flatMap(_.find(_.name == c)).map(_.dataType).filter(dt =>
      Exact.get(dt).contains(msg.getType(c).asPrimitiveType.getPrimitiveTypeName))

  /** (min, max) over the column's chunks, (null, null) when none holds a
    * value; None when a chunk with values carries no min/max. */
  private def bounds(t: DataType, chunks: Seq[ColumnChunkMetaData])
      : Option[(Any, Any)] = {
    var lo: Option[Any] = None
    var hi: Option[Any] = None
    for (ch <- chunks) {
      val st: Statistics[_] = ch.getStatistics
      val allNull = ch.getValueCount == 0 ||
        (st != null && st.isNumNullsSet && st.getNumNulls == ch.getValueCount)
      if (st != null && st.hasNonNullValue) {
        val cmp = ch.getPrimitiveType.comparator()
          .asInstanceOf[java.util.Comparator[Any]]
        val (mn, mx) = (st.genericGetMin: Any, st.genericGetMax: Any)
        lo = Some(lo.filter(cmp.compare(_, mn) <= 0).getOrElse(mn))
        hi = Some(hi.filter(cmp.compare(_, mx) >= 0).getOrElse(mx))
      } else if (!allNull) return None
    }
    Some((lo.map(toSpark(t, _)).orNull, hi.map(toSpark(t, _)).orNull))
  }

  /** A Parquet statistics value as the external value Spark collects. */
  private def toSpark(t: DataType, v: Any): Any = t match {
    case DateType => java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Integer].longValue))
    case StringType => v.asInstanceOf[Binary].toStringUsingUTF8
    case _ => v
  }
}
