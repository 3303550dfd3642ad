package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** [[DriverPool]]: every leg is awaited before a failure surfaces, and
  * legs run under the caller's Spark local properties. */
class DriverPoolSpec extends SparkTestBase {

  test("a failing leg surfaces only after every other leg has finished") {
    val running = new AtomicInteger()
    val finished = new AtomicInteger()
    val started = new CountDownLatch(4)
    val boom = new IllegalStateException("leg 0 failed")
    val err = intercept[IllegalStateException] {
      DriverPool.map(spark, 0 until 4) { i =>
        running.incrementAndGet()
        started.countDown()
        try {
          // every leg is in flight before the failure is thrown
          assert(started.await(30, TimeUnit.SECONDS))
          if (i == 0) throw boom
          Thread.sleep(300)
          finished.incrementAndGet()
        } finally running.decrementAndGet()
      }
    }
    assert(err eq boom)
    assert(running.get === 0, "a leg was still running when the error surfaced")
    assert(finished.get === 3)
  }

  test("every failure is kept: the first in leg order, the rest suppressed") {
    val err = intercept[RuntimeException] {
      DriverPool.map(spark, Seq(1, 2, 3)) { i =>
        if (i > 1) throw new RuntimeException(s"leg $i") else i
      }
    }
    assert(err.getMessage === "leg 2")
    assert(err.getSuppressed.map(_.getMessage).toSeq === Seq("leg 3"))
  }

  test("legs run off the caller's thread under its job group, results in order") {
    val sc = spark.sparkContext
    val group = s"driver-pool-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    sc.setJobGroup(group, "legs")
    val out = try DriverPool.map(spark, 1 to 6) { i =>
      seen.add((Thread.currentThread.getName,
        sc.getLocalProperty("spark.jobGroup.id")))
      sc.parallelize(1 to i, 1).count()
    } finally sc.clearJobGroup()
    assert(out === (1 to 6).map(_.toLong))
    assert(seen.asScala.forall(_._1.startsWith("graft-driver-")))
    assert(seen.asScala.forall(_._2 == group))
    // the pool threads keep no caller's properties between calls
    val after = DriverPool.map(spark, 1 to 6)(_ =>
      Option(sc.getLocalProperty("spark.jobGroup.id")))
    assert(after.forall(_.isEmpty))
  }

  test("a leg that fans out runs its own legs inline") {
    val out = DriverPool.map(spark, 1 to 2 * DriverPool.Threads) { i =>
      DriverPool.map(spark, 1 to 3)(j => (Thread.currentThread.getName, i * j))
    }
    assert(out.flatten.map(_._2) ===
      (1 to 2 * DriverPool.Threads).flatMap(i => (1 to 3).map(i * _)))
    assert(out.forall(legs => legs.map(_._1).distinct.size == 1))
  }
}
