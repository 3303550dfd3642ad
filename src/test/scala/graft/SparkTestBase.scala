package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, ANSI off matches the
  * reference's null-on-bad-arithmetic semantics where relevant (we still
  * guard division explicitly in SafeArith).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** `body`'s result and the Spark jobs it started on this thread (scoped
    * by a job group; a drain job flushes the listener bus first). */
  def jobsOf[T](tag: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-$tag-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == group) jobs.incrementAndGet()
            if (g == s"$group-drain") drained.countDown()
          }
    }
    def inGroup[R](g: String)(b: => R): R = {
      sc.setJobGroup(g, tag)
      try b finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val out = inGroup(group)(body)
      // the listener bus delivers in order: once the drain job's start is
      // seen, every job above has been counted
      inGroup(s"$group-drain")(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  /** Built by the engine's own factory; four threads keep the suite's
    * plans and timings independent of the host's core count. */
  lazy val session: SparkSession = GraftSession.create(threads = 4)
}
