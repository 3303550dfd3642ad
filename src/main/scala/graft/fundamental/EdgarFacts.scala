package graft.fundamental

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.expressions.Window

/** EDGAR companyfacts JSON → fundamental long table (F5 — reference
  * collection/fundamental.py:47-120 `extract_concept` + storage/pipeline/
  * collectors.py:488-530).
  *
  * Semantics preserved:
  *  - a concept maps to an ordered list of candidate XBRL tags (deprecated →
  *    current transitions, e.g. SalesRevenueNet → Revenues); datapoints from
  *    ALL matching candidates are merged;
  *  - merged datapoints dedup by (accn, frame, filed) keeping the FIRST in
  *    candidate-priority order (reference keeps first occurrence);
  *  - values surface as (cik, concept, unit, value, accn, form, filed,
  *    frame, start, end).
  *
  * Spark-first: the nested dict traversal is `from_json` with map types +
  * three explodes + a broadcast join against the tag-candidate table — a
  * fully distributed parse, no driver-side JSON walking.
  */
object EdgarFacts {

  /** Representative concept → candidate-tag mapping (the reference's
    * approved_mapping.yaml shape; candidates in priority order).
    */
  val defaultMapping: Map[String, Seq[String]] = Map(
    "rev" -> Seq("us-gaap:Revenues", "us-gaap:SalesRevenueNet",
      "us-gaap:RevenueFromContractWithCustomerExcludingAssessedTax"),
    "net_inc" -> Seq("us-gaap:NetIncomeLoss"),
    "ta" -> Seq("us-gaap:Assets"),
    "te" -> Seq("us-gaap:StockholdersEquity",
      "us-gaap:StockholdersEquityIncludingPortionAttributableToNoncontrollingInterest"),
    "cfo" -> Seq("us-gaap:NetCashProvidedByUsedInOperatingActivities"),
    "op_inc" -> Seq("us-gaap:OperatingIncomeLoss"))

  private val factsSchema: DataType = DataType.fromDDL(
    """STRUCT<
      |  cik: LONG,
      |  entityName: STRING,
      |  facts: MAP<STRING, MAP<STRING, STRUCT<
      |    label: STRING,
      |    description: STRING,
      |    units: MAP<STRING, ARRAY<STRUCT<
      |      `val`: DOUBLE, accn: STRING, fy: INT, fp: STRING,
      |      form: STRING, filed: STRING, frame: STRING,
      |      `start`: STRING, `end`: STRING>>>>>>
      |>""".stripMargin)

  /** Parse companyfacts JSON documents (one per row in `jsonCol`) into the
    * fundamental long table.
    */
  def parse(df: DataFrame, jsonCol: String,
      mapping: Map[String, Seq[String]] = defaultMapping): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val candidates = mapping.toSeq
      .flatMap { case (concept, tags) =>
        tags.zipWithIndex.map { case (tag, pri) => (concept, tag, pri) }
      }
      .toDF("concept", "tag", "priority")

    val parsed = df.withColumn("__f", from_json(col(jsonCol), factsSchema))
      .withColumn("cik", lpad(col("__f.cik").cast("string"), 10, "0"))
      .select(col("cik"), explode(col("__f.facts")).as(Seq("prefix", "tags")))
      .select(col("cik"), col("prefix"), explode(col("tags")).as(Seq("local", "data")))
      .withColumn("tag", concat(col("prefix"), lit(":"), col("local")))
      .join(broadcast(candidates), Seq("tag"))
      .select(col("cik"), col("concept"), col("priority"),
        explode(col("data.units")).as(Seq("unit", "dps")))
      .select(col("cik"), col("concept"), col("priority"), col("unit"),
        explode(col("dps")).as("dp"))

    // reference dedup: first (accn, frame, filed) occurrence wins, in
    // candidate-priority order
    val w = Window
      .partitionBy(col("cik"), col("concept"), col("unit"),
        col("dp.accn"), col("dp.frame"), col("dp.filed"))
      .orderBy(col("priority"))
    parsed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(
        col("cik"), col("concept"), col("unit"),
        col("dp.val").as("value"),
        col("dp.accn").as("accn"),
        col("dp.form").as("form"),
        to_date(col("dp.filed")).as("filed"),
        col("dp.frame").as("frame"),
        to_date(col("dp.start")).as("start"),
        to_date(col("dp.end")).as("end"))
  }
}
