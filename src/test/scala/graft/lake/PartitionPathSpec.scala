package graft.lake

import graft.SparkTestBase
import graft.sql.GraftCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The one partition-directory rule ([[PartitionPath]]) and the verbs
  * that replace partitions through it. Values Hive escapes on disk
  * (`a:b` → `p=a%3Ab/`), a timestamp and an escaped partition NAME must
  * be replaced in place by every verb — a prefix spelled any other way
  * misses the directory, the old files carry forward and rows double.
  */
class PartitionPathSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("partition_path").toString

  /** One partition column `c` of type `dt`: the tricky value `x` (with
    * its SQL literal and its `CAST(… AS STRING)` form) and a plain
    * neighbour partition `y` that every verb must carry untouched. */
  private case class Case(label: String, c: String, dt: DataType, x: Any,
      sqlX: String, strX: String, y: Any, strY: String)

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val cases: Seq[Case] =
    Seq("a:b", "a/b", "a%b", "a=b", "a b").map(v =>
      Case(v, "p", StringType, v, s"'$v'", v, "plain", "plain")) ++ Seq(
      Case("timestamp", "p", TimestampType, ts("2024-01-02 03:04:05"),
        "TIMESTAMP '2024-01-02 03:04:05'", "2024-01-02 03:04:05",
        ts("2024-01-03 00:00:00"), "2024-01-03 00:00:00"),
      Case("name d:p", "d:p", StringType, "n", "'n'", "n", "plain", "plain"))

  private def frame(c: Case, rows: Seq[(Long, Long, Any)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v, p) => Row(k, v, p) }, 2),
      StructType(Seq(StructField("k", LongType), StructField("v", LongType),
        StructField(c.c, c.dt))))

  /** Latest rows as (k, v, partition value as a string). */
  private def rowsOf(root: String, c: Case): Set[(Long, Long, String)] = {
    val latest = Snapshots.latestVersion(spark, root, "t").get
    Snapshots.readVersion(spark, root, "t", latest)
      .select(col("k"), col("v"), col(s"`${c.c}`").cast(StringType))
      .as[(Long, Long, String)].collect().toSet
  }

  test("the rule spells exactly the directories Spark's writer produces " +
      "and reads them back unescaped") {
    cases.foreach { c =>
      val dir = s"${freshRoot()}/w"
      frame(c, Seq((1L, 1L, c.x))).write.partitionBy(c.c).parquet(dir)
      val onDisk = new java.io.File(dir).list().filterNot(_.startsWith("_"))
        .filterNot(_.startsWith(".")).toSeq
      val spelled = PartitionPath.of(spark,
        StructType(Seq(StructField(c.c, c.dt))), Seq(c.x))
      assert(onDisk.map(_ + "/") === Seq(spelled), c.label)
      assert(PartitionPath.layout(s"${spelled}part-0.parquet") ===
        Seq(c.c -> c.strX), c.label)
    }
    assert(PartitionPath.of(spark, StructType(Seq(StructField("p", StringType),
      StructField("q", IntegerType))), Seq("a:b", 3)) === "p=a%3Ab/q=3/")
    assert(PartitionPath.of(spark, new StructType(), Nil) === "")
    val nullDir = PartitionPath.of(spark,
      StructType(Seq(StructField("p", StringType))), Seq(null))
    assert(nullDir === s"p=${PartitionPath.NullValue}/")
    assert(PartitionPath.holdsNull(nullDir) && !PartitionPath.holdsNull("p=a/"))
    assert(PartitionPath.dirOf("p=a%3Ab/part-0.parquet") === Some("p=a%3Ab/"))
    assert(PartitionPath.dirOf("part-0.parquet") === None)
  }

  test("commit twice, UPDATE, MERGE and INSERT OVERWRITE PARTITION each " +
      "leave exactly the model's rows in an escaped partition") {
    cases.zipWithIndex.foreach { case (c, i) =>
      val root = freshRoot()
      val cat = s"gpp$i"
      val q = s"`${c.c}`"
      val y = (3L, 30L, c.strY)
      Snapshots.commit(frame(c, Seq((1L, 10L, c.x), (2L, 20L, c.x),
        (3L, 30L, c.y))), root, "t", Seq(c.c))
      Snapshots.commit(frame(c, Seq((5L, 50L, c.x))), root, "t", Seq(c.c))
      assert(rowsOf(root, c) === Set((5L, 50L, c.strX), y), s"${c.label}: commit")
      GraftCatalog.install(spark, cat, root)

      spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k = 5")
      assert(rowsOf(root, c) === Set((5L, 51L, c.strX), y), s"${c.label}: update")

      frame(c, Seq((5L, 7L, c.x), (6L, 60L, c.x))).createOrReplaceTempView("pp_src")
      spark.sql(s"""MERGE INTO $cat.t AS tgt USING pp_src AS s ON tgt.k = s.k
                    WHEN MATCHED THEN UPDATE SET v = s.v
                    WHEN NOT MATCHED THEN INSERT *""")
      assert(rowsOf(root, c) === Set((5L, 7L, c.strX), (6L, 60L, c.strX), y),
        s"${c.label}: merge")

      spark.sql(s"INSERT OVERWRITE $cat.t PARTITION ($q = ${c.sqlX}) " +
        "SELECT CAST(9 AS BIGINT) AS k, CAST(90 AS BIGINT) AS v")
      assert(rowsOf(root, c) === Set((9L, 90L, c.strX), y),
        s"${c.label}: insert overwrite partition")
      // the recorded layout and every live file agree with the rule
      val latest = Snapshots.latestVersion(spark, root, "t").get
      assert(Snapshots.manifest(spark, root, "t", latest).partitionLayout ===
        Seq(c.c), c.label)
      assert(Snapshots.liveFiles(spark, root, "t", latest)
        .map(f => PartitionPath.layout(f).map(_._2)).toSet ===
        Set(Seq(c.strX), Seq(c.strY)), c.label)
    }
  }

  test("a streaming epoch into an escaped value still lands under Spark's " +
      "directory") {
    val root = freshRoot()
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("p", StringType)))
    Snapshots.createTable(spark, root, "s", schema, Seq("p"))
    GraftCatalog.install(spark, "gppstream", root)
    val src = s"$root/_src"
    Seq((1L, "a:b"), (2L, "a:b")).toDF("k", "p").write.parquet(src)
    spark.readStream.schema(schema).parquet(src).writeStream
      .option("checkpointLocation", s"$root/_cp")
      .trigger(Trigger.AvailableNow()).toTable("gppstream.s")
      .awaitTermination()
    val latest = Snapshots.latestVersion(spark, root, "s").get
    val files = Snapshots.liveFiles(spark, root, "s", latest)
    assert(files.nonEmpty && files.forall(_.startsWith("p=a%3Ab/")), files)
    assert(spark.sql("SELECT k, p FROM gppstream.s").as[(Long, String)]
      .collect().toSet === Set((1L, "a:b"), (2L, "a:b")))
  }

  /** Runs `verb`, expecting the null-partition refusal; no version may be
    * published. */
  private def refusesNull(root: String, verb: String)(body: => Unit): Unit = {
    val before = Snapshots.latestVersion(spark, root, "t")
    val e = intercept[Exception](body)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t => Option(t.getMessage).exists(m =>
      m.contains("null value in partition columns") && m.startsWith(verb))),
      e.toString)
    assert(Snapshots.latestVersion(spark, root, "t") === before, verb)
  }

  test("a null (or empty) partition value is refused by commit, UPDATE " +
      "and MERGE, and publishes no version") {
    val root = freshRoot()
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("p", StringType)))
    def df(rows: (Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, p) => Row(k, p) }, 1),
      schema)
    Snapshots.commit(df((1L, "a"), (2L, "b")), root, "t", Seq("p"))
    GraftCatalog.install(spark, "gppnull", root)
    refusesNull(root, "commit") {
      Snapshots.commit(df((3L, null)), root, "t", Seq("p"))
    }
    // Spark writes an empty string to the same directory and reads it
    // back as null
    refusesNull(root, "commit") {
      Snapshots.commit(df((3L, "")), root, "t", Seq("p"))
    }
    refusesNull(root, "update") {
      spark.sql("UPDATE gppnull.t SET p = NULL WHERE k = 1")
    }
    df((4L, null)).createOrReplaceTempView("pp_null_src")
    refusesNull(root, "merge") {
      spark.sql("""MERGE INTO gppnull.t AS tgt USING pp_null_src AS s
                   ON tgt.k = s.k WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(spark.sql("SELECT k, p FROM gppnull.t").as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("a dynamic-overwrite commit onto a partitioned table runs its " +
      "input plan once: the replaced set comes from the written files") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "p"), root, "t",
      Seq("p"))
    val sc = spark.sparkContext
    val evaluated = sc.longAccumulator("partition-path-input-rows")
    val mark = udf { (p: String) => evaluated.add(1); p }.asNondeterministic()
    val input = Seq((3L, "a"), (4L, "c")).toDF("k", "p0")
      .select(col("k"), mark(col("p0")).as("p"))
    val (_, jobs) = jobsOf("commit")(Snapshots.commit(input, root, "t", Seq("p")))
    info(s"$jobs Spark jobs for one commit")
    // the input plan runs once, inside the write: each row is evaluated
    // once, and the commit runs only the write's own jobs (the
    // clustering shuffle and the file write)
    assert(evaluated.value === 2L)
    assert(jobs <= 2, s"$jobs jobs for one commit")
    assert(Snapshots.readVersion(spark, root, "t", 2L).as[(Long, String)]
      .collect().toSet === Set((3L, "a"), (2L, "b"), (4L, "c")))
  }
}
