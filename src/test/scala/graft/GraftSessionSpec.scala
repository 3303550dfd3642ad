package graft

/** The test session is the engine's session: built by [[GraftSession]] with
  * every posture conf, and shared rather than rebuilt on a second call. */
class GraftSessionSpec extends SparkTestBase {

  test("the shared test session carries the engine posture") {
    val conf = spark.sparkContext.getConf
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(conf.get("spark.master") === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.extensions") === "graft.expressions.GraftExtensions")
    assert(hadoop.get("fs.file.impl") === "graft.lake.NoForkLocalFileSystem")
    assert(hadoop.get("fs.AbstractFileSystem.file.impl") === "graft.lake.NoForkLocalFs")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.local.dir") === LocalScratch.dir())
  }

  test("a second create returns the live session") {
    assert(GraftSession.create(threads = 4) eq spark)
  }
}
