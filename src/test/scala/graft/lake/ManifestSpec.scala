package graft.lake

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The manifest codec without Spark: the golden files under
  * `src/test/resources/graft/lake/manifest_golden/` were written by the
  * engine's earlier hand-rolled string writer (`legacy_no_committed_at`
  * is its output with `committedAtMillis` removed, the shape of
  * manifests that predate the field), so every lake already on disk
  * must parse to the values below.
  */
class ManifestSpec extends AnyFunSuite {

  private def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/lake/manifest_golden/$name.json")
    assert(in != null, s"missing golden $name")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private val tricky = StructType(Seq(
    StructField("files", LongType, nullable = false),
    StructField("q\"uote", StringType),
    StructField("back\\slash", StringType),
    StructField("new\nline", IntegerType),
    StructField("café_日本", DoubleType, nullable = true,
      new MetadataBuilder().putString("graft.physical", "files")
        .putString("note", "quote \" back \\ nl \n é 日本").build())))

  private val expected: Seq[(String, Manifest)] = Seq(
    "files_only" -> Manifest(committedAtMillis = Some(1792415400574L),
      files = Seq("a.parquet", "year=2020/part-00000-x.c000.snappy.parquet"),
      addedAt = Seq(0L, 0L)),
    "legacy_no_committed_at" -> Manifest(
      files = Seq("part-0.parquet", "part-1.parquet"), addedAt = Seq(1L, 1L)),
    "tricky_schema" -> Manifest(committedAtMillis = Some(1792415400909L),
      schema = Some(tricky), files = Seq("files", "we\"ird\\name é.parquet"),
      addedAt = Seq(2L, 3L)),
    "deletes_multi_col" -> Manifest(committedAtMillis = Some(1792415400933L),
      deletes = Seq(DeleteVector("del-abc.parquet", Seq("id", "v"), 3L),
        DeleteVector("del-def.parquet", Seq("k"), 5L)),
      files = Seq("a.parquet", "b.parquet"), addedAt = Seq(1L, 4L)),
    "added_at_short" -> Manifest(committedAtMillis = Some(1792415400985L),
      files = Seq("a.parquet", "b.parquet", "c.parquet"),
      addedAt = Seq(7L, 0L, 0L)),
    "operation_partition_cols" -> Manifest(
      committedAtMillis = Some(1792415401012L), operation = Some("merge"),
      partitionCols = Seq("y", "m"), files = Seq("y=2020/m=1/a.parquet"),
      addedAt = Seq(2L)),
    "stream_epochs" -> Manifest(committedAtMillis = Some(1792415401033L),
      operation = Some("stream"), streamEpoch = Some(("q-1", 7L)),
      epochs = Map("q-0" -> 12L, "q-1" -> 7L), files = Seq("a.parquet"),
      addedAt = Seq(1L)),
    "change_files_empty" -> Manifest(committedAtMillis = Some(1792415401050L),
      operation = Some("update"), changeFiles = Some(Nil),
      files = Seq("a.parquet"), addedAt = Seq(0L)),
    "change_files" -> Manifest(committedAtMillis = Some(1792415401070L),
      operation = Some("update"),
      changeFiles = Some(Seq("chg-abc-00000.parquet", "chg-abc-00001.parquet")),
      files = Seq("a.parquet"), addedAt = Seq(0L)),
    "dropped_physical" -> Manifest(committedAtMillis = Some(1792415401107L),
      operation = Some("drop-column"), droppedPhysical = Seq("old", "older"),
      schema = Some(StructType(Seq(StructField("id", LongType)))),
      files = Seq("a.parquet"), addedAt = Seq(0L)))

  test("every golden manifest of the earlier writer parses to its value") {
    expected.foreach { case (name, m) =>
      assert(Manifest.fromJson(golden(name)) === m, name)
    }
  }

  test("fromJson(toJson(m)) == m for every shape; Some(Nil) change files " +
      "and empty epochs survive") {
    val shapes = expected.map(_._2) ++ Seq(Manifest(),
      Manifest(files = Seq("a"), addedAt = Seq(1L), changeFiles = Some(Nil)))
    shapes.foreach(m => assert(Manifest.fromJson(m.toJson) === m, m.toJson))
    val captured = Manifest(files = Seq("a"), addedAt = Seq(1L),
      changeFiles = Some(Nil))
    assert(captured.toJson === """{"changeFiles":[],"addedAt":[1],"files":["a"]}""")
    assert(Manifest.fromJson(captured.copy(changeFiles = None).toJson)
      .changeFiles === None)
    assert(Manifest.fromJson(Manifest(files = Seq("a")).toJson).epochs.isEmpty)
  }

  test("a non-integer number, a missing files key or a non-object top " +
      "level fails with an IllegalArgumentException naming the field") {
    def failure(json: String): String =
      intercept[IllegalArgumentException](Manifest.fromJson(json)).getMessage
    assert(failure("""{"committedAtMillis": 1.5, "files": []}""")
      .contains("'committedAtMillis'"))
    assert(failure("""{"addedAt": [1, 2.0], "files": ["a", "b"]}""")
      .contains("'addedAt'"))
    assert(failure("""{"epochs": {"q": 1e3}, "files": []}""")
      .contains("'epochs.q'"))
    assert(failure(
      """{"deletes": [{"file": "d", "cols": ["a"], "v": 0.5}], "files": []}""")
      .contains("'deletes.v'"))
    assert(failure("""{"committedAtMillis": 99999999999999999999, "files": []}""")
      .contains("'committedAtMillis'"))
    assert(failure("""{"operation": "merge"}""").contains("'files'"))
    assert(failure("""{"files": "a.parquet"}""").contains("'files'"))
    assert(failure("""[{"files": []}]""").contains("top level"))
    assert(failure("""{"files": [] """).contains("not valid JSON"))
  }

  test("a pre-tracking manifest's layout reads escaped partition names " +
      "through the partition-path rule") {
    assert(Manifest(files = Seq("d%3Ap=1/part-0.parquet")).partitionLayout ===
      Seq("d:p"))
    assert(Manifest(files = Seq("y=2020/m=1/a.parquet")).partitionLayout ===
      Seq("y", "m"))
    assert(Manifest(files = Seq("a.parquet")).partitionLayout === Nil)
    // a recorded layout wins over the file paths
    assert(Manifest(partitionCols = Seq("d:p"),
      files = Seq("d%3Ap=1/a.parquet")).partitionLayout === Seq("d:p"))
  }

  test("next carries what describes the table and resets what describes " +
      "one version") {
    val full = expected.toMap.apply("tricky_schema").copy(
      deletes = Seq(DeleteVector("d.parquet", Seq("files"), 3L)),
      operation = Some("update"), partitionCols = Seq("files"),
      streamEpoch = Some(("q", 4L)), epochs = Map("q" -> 4L),
      changeFiles = Some(Seq("chg.parquet")), droppedPhysical = Seq("x"))
    assert(full.next("evolve") === Manifest(schema = full.schema,
      deletes = full.deletes, addedAt = full.addedAt, files = full.files,
      operation = Some("evolve"), partitionCols = full.partitionCols,
      epochs = full.epochs, droppedPhysical = full.droppedPhysical))
  }
}
