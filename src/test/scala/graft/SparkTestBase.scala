package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, ANSI off matches the
  * reference's null-on-bad-arithmetic semantics where relevant (we still
  * guard division explicitly in SafeArith).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  /** Built by the engine's own factory; four threads keep the suite's
    * plans and timings independent of the host's core count. */
  lazy val session: SparkSession = GraftSession.create(threads = 4)
}
