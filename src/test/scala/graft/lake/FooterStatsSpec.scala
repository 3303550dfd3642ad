package graft.lake

import graft.SparkTestBase
import org.apache.hadoop.fs.{FSDataInputStream, FilterFileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A `file://` filesystem whose data-file opens fail: the local
  * filesystem, except that opening a `.parquet` file under a table's
  * `data/` directory throws. */
class UnreadableDataFs extends FilterFileSystem(new NoForkLocalFileSystem) {
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    if (p.toString.contains("/data/") && p.getName.endsWith(".parquet"))
      throw new java.io.IOException(s"injected: cannot open $p")
    else super.open(p, bufferSize)
  override def openFile(p: Path): org.apache.hadoop.fs.FutureDataInputStreamBuilder =
    if (p.toString.contains("/data/") && p.getName.endsWith(".parquet"))
      throw new java.io.IOException(s"injected: cannot open $p")
    else super.openFile(p)
}

/** Commit stats from the written files' footers
  * ([[Snapshots.stageFreshStats]] over [[FooterStats]]): for the types a
  * footer answers exactly they must equal the aggregate over the data
  * ([[Snapshots.deriveFileStats]]) row for row; every other stats column
  * must still get its bounds from the aggregate.
  */
class FooterStatsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("footer_stats").toString

  private def fs = org.apache.hadoop.fs.FileSystem.getLocal(
    spark.sparkContext.hadoopConfiguration)

  /** The latest version's files with their byte lengths. */
  private def addedOf(root: String, table: String): Seq[(String, Long)] =
    Snapshots.liveFiles(spark, root, table,
      Snapshots.latestVersion(spark, root, table).get).map { p =>
      p -> fs.getFileStatus(new Path(s"$root/$table/data/$p")).getLen }

  /** With `conf` set on the session's Hadoop configuration. */
  private def withHadoopConf[T](conf: (String, String)*)(body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val before = conf.map { case (k, _) => k -> Option(hc.get(k)) }
    conf.foreach { case (k, v) => hc.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  private val strings = Seq("", "é", "日本", "�", "😀", "z", "A")

  /** 1,200 rows in one file, ordered by `l` so row groups hold different
    * ranges; nulls scattered, `s` null in the first 150 rows, `none`
    * null everywhere. */
  private def exactTypes = spark.range(0, 1200).select(
      when(col("id") % 7 === 3, lit(null)).otherwise(col("id") * 1000 - 600000)
        .as("l"),
      when(col("id") % 5 === 1, lit(null)).otherwise((col("id") % 97 - 40).cast("int"))
        .as("i"),
      when(col("id") % 11 === 2, lit(null))
        .otherwise(date_add(lit("1999-12-30").cast("date"), col("id").cast("int")))
        .as("d"),
      when(col("id") < 150, lit(null))
        .otherwise(element_at(typedLit(strings), (col("id") % strings.size + 1).cast("int")))
        .as("s"),
      when(col("id") % 13 === 0, lit(null)).otherwise(col("id") % 3 === 0).as("b"),
      lit(null).cast("int").as("none"))
    .coalesce(1)

  private val exactCols = Seq("l", "i", "d", "s", "b", "none")

  test("footer stats equal the aggregate's rows for long, int, date, " +
      "string and boolean columns, with nulls and several row groups") {
    val root = freshRoot()
    withHadoopConf("parquet.block.size" -> "2048",
        "parquet.block.size.row.check.min" -> "50",
        "parquet.block.size.row.check.max" -> "50") {
      Snapshots.commit(exactTypes, root, "t", Nil, statsCols = exactCols)
    }
    // a second, small file: one row, every bound from a single value
    Snapshots.commit(Seq((7L, 1, "x")).toDF("l", "i", "s")
      .select($"l", $"i", lit(null).cast("date").as("d"), $"s",
        lit(true).as("b"), lit(null).cast("int").as("none")),
      root, "t", Nil, statsCols = exactCols)
    val added = addedOf(root, "t")
    assert(added.size === 2)
    val groups = added.map { case (p, _) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(s"$root/t/data/$p"), spark.sparkContext.hadoopConfiguration))
      try r.getRowGroups.size finally r.close()
    }
    assert(groups.max > 1, s"row groups per file: $groups")
    val (fromFooters, jobs) = jobsOf("footers")(
      Snapshots.stageFreshStats(spark, root, "t", added, exactCols).get)
    assert(jobs === 0, "every column answered by the footers")
    val agg = Snapshots.deriveFileStats(spark, s"$root/t/data",
      added.map(_._1), exactCols)
    val names = agg.schema.fieldNames.toSeq
    assert(names.map(n => n -> fromFooters.schema(n).dataType) ===
      agg.schema.fields.toSeq.map(f => f.name -> f.dataType))
    def project(rows: Seq[Row], schema: StructType) = rows.map(r =>
      names.map(n => r.get(schema.fieldIndex(n)))).sortBy(_.head.toString)
    assert(project(fromFooters.entries, fromFooters.schema) ===
      project(agg.collect().toSeq, agg.schema))
    assert(fromFooters.bytes === added.toMap)
    // the all-null column has no bounds; the others do
    val big = fromFooters.byFile(added.maxBy(_._2)._1)
    assert(big.isNullAt(fromFooters.schema.fieldIndex("min_none")))
    assert(big.getString(fromFooters.schema.fieldIndex("max_s")) === "😀",
      "strings order by UTF-8 bytes, as Spark's min/max")
  }

  test("timestamp, double and decimal stats columns get bounds through " +
      "the aggregate") {
    val root = freshRoot()
    val df = Seq(
        ("2024-01-02 03:04:05", 1.5, "10.25"),
        ("2023-05-06 07:08:09", -0.5, "-3.10"),
        (null, Double.NaN, null))
      .toDF("ts_s", "x", "dec_s")
      .select(to_timestamp($"ts_s").as("ts"), $"x",
        $"dec_s".cast("decimal(10,2)").as("dec"))
      .coalesce(1)
    Snapshots.commit(df, root, "t", Nil, statsCols = Seq("ts", "x", "dec"))
    val added = addedOf(root, "t")
    val sc = Snapshots.stageFreshStats(spark, root, "t", added,
      Seq("ts", "x", "dec")).get
    val want = Snapshots.deriveFileStats(spark, s"$root/t/data",
      added.map(_._1), Seq("ts", "x", "dec")).collect().head
    val row = sc.entries.head
    for (c <- Seq("min_ts", "max_ts", "min_x", "max_x", "min_dec", "max_dec")) {
      assert(sc.schema(c).dataType === want.schema(c).dataType, c)
      // compared as text: NaN, Spark's greatest double, equals itself
      val got = Option(row.get(sc.schema.fieldIndex(c))).map(_.toString)
      assert(got.nonEmpty, c)
      assert(got === Option(want.getAs[Any](c)).map(_.toString), c)
    }
    assert(row.get(sc.schema.fieldIndex("rows")) === 3L)
    assert(row.get(sc.schema.fieldIndex("bytes")) === added.head._2)
  }

  test("files under a Hive-escaped partition keep their stats, from the " +
      "footers and from the aggregate") {
    val root = freshRoot()
    val df = Seq(("2024-01-02 03:04:05", "a:b", 1L), ("2024-02-03 04:05:06", "a:b", 5L))
      .toDF("ts_s", "p", "k").select(to_timestamp($"ts_s").as("ts"), $"p", $"k")
      .coalesce(1)
    Snapshots.commit(df, root, "t", Seq("p"), statsCols = Seq("ts", "k"))
    val sc = Sidecar.load(spark, root, "t", 1L).get
    val Seq((file, _)) = addedOf(root, "t")
    assert(file.startsWith("p=a%3Ab/"), file)
    val row = sc.byFile(file)
    assert(sc.rows(file) === 2L)
    assert(sc.ranges(file)("k") === ((1L, 5L)))
    assert(row.get(sc.schema.fieldIndex("min_ts")) ===
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
    assert(row.get(sc.schema.fieldIndex("max_ts")) ===
      java.sql.Timestamp.valueOf("2024-02-03 04:05:06"))
  }

  test("a commit with stats columns runs only its write's jobs") {
    val root = freshRoot()
    def day(n: Int) = (0 until 40).map(s => (s.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(n)),
        100.0 + s))
      .toDF("security_id", "date", "close")
      .withColumn("year", year($"date")).withColumn("month", month($"date"))
    Snapshots.commit(day(0), root, "t", Seq("year", "month"),
      statsCols = Seq("security_id", "date"))
    val (_, jobs) = jobsOf("commit")(Snapshots.commit(day(1), root, "t",
      Seq("year", "month"), statsCols = Seq("security_id", "date")))
    info(s"$jobs Spark jobs for one commit with stats columns")
    assert(jobs <= 3, s"$jobs jobs")
    val sc = Sidecar.load(spark, root, "t", 2L).get
    assert(sc.ranges.values.map(_("security_id")).toSet === Set((0L, 39L)))
  }

  test("a commit whose added file's footer cannot be read fails, names " +
      "the file and publishes no version") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 2020)).toDF("id", "year"), root, "t",
      Seq("year"), statsCols = Seq("id"))
    val err = withHadoopConf("fs.file.impl" -> classOf[UnreadableDataFs].getName,
        "fs.file.impl.disable.cache" -> "true") {
      intercept[java.io.IOException] {
        Snapshots.commit(Seq((2L, 2021)).toDF("id", "year"), root, "t",
          Seq("year"), statsCols = Seq("id"))
      }
    }
    assert(err.getMessage.contains("cannot read the Parquet footer of"),
      err.getMessage)
    assert(raw"/t/data/year=2021/[^ ]+\.parquet".r
      .findFirstIn(err.getMessage).nonEmpty, err.getMessage)
    assert(Snapshots.latestVersion(spark, root, "t") === Some(1L))
    assert(Snapshots.readVersion(spark, root, "t", 1L).count() === 1L)
  }
}
