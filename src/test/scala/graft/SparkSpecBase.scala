package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session): the
 * drivers' [[Harness.session]] on 4 cores. */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.session(4)
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** What ran while `body` ran ([[Harness.measure]] on the test session). */
  protected def measure[T](body: => T): (T, Harness.Counters) =
    Harness.measure(spark)(body)
}
