package graft

import java.util.concurrent.{ExecutionException, Executors, Future, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge

/** The one helper for driver-side concurrency: independent legs (Spark
  * actions, footer reads) run on a bounded pool of daemon threads owned by
  * the engine, never on `ExecutionContext.global`.
  *
  *  - Every leg is awaited before anything is raised: when legs fail, the
  *    first failure in leg order surfaces (the others as suppressed) only
  *    after no leg is still running, so a caller that retries or cleans up
  *    cannot race a leg that is still writing.
  *  - Each leg runs under the caller's Spark local properties (job group,
  *    description, scheduler pool) and active session, as if the caller
  *    had run it on its own thread, and restores the pool thread's own
  *    afterwards.
  *  - A leg that itself fans out runs its legs inline, in order: pool
  *    threads never wait on the pool, so nesting cannot deadlock it.
  */
object DriverPool {

  /** Pool size: enough for a commit's footer reads and a few concurrent
    * Spark jobs; more legs queue. */
  val Threads = 8

  private final class Worker(r: Runnable, name: String) extends Thread(r, name)

  private lazy val pool = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(Threads, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Worker(r, s"graft-driver-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
  }

  /** `f` over `xs`, concurrently; results in the order of `xs`. */
  def map[A, B](spark: SparkSession, xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1 || Thread.currentThread.isInstanceOf[Worker]) xs.map(f)
    else {
      val sc = spark.sparkContext
      val props = bridge.localProperties(sc)
      val legs: Seq[Future[B]] = xs.map(x => pool.submit(() => {
        val ownProps = bridge.localProperties(sc)
        val ownSession = SparkSession.getActiveSession
        bridge.setLocalProperties(sc, props)
        SparkSession.setActiveSession(spark)
        try f(x)
        finally {
          bridge.setLocalProperties(sc, ownProps)
          ownSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        }
      }))
      val outcomes = try legs.map { leg =>
        try Right(leg.get()) catch { case e: ExecutionException => Left(e.getCause) }
      } catch {
        case e: InterruptedException =>
          legs.foreach(_.cancel(true))
          throw e
      }
      outcomes.collectFirst { case Left(first) =>
        outcomes.collect { case Left(e) if e ne first => e }.foreach(first.addSuppressed)
        throw first
      }
      outcomes.map(_.toOption.get)
    }

  /** Run independent legs concurrently; their results in order. */
  def all[A](spark: SparkSession)(legs: (() => A)*): Seq[A] =
    map(spark, legs)(_())
}
