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

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at `bytes`; the
   * session's setting is restored after. */
  protected def withBroadcastThreshold[T](bytes: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` with the broadcast threshold at -1, so
   * [[operators.Dedup.clusterPairs]] runs its min-label loop whatever
   * the size of its input. */
  protected def onTheLoop[T](body: => T): T = withBroadcastThreshold("-1")(body)
}
