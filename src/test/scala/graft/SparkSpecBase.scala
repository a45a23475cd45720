package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with `l` attached; every event it posted is delivered
   * before this returns. */
  protected def listening[T](l: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftListenerBridge.drainListenerBus(sc)
      out
    } finally sc.removeSparkListener(l)
  }

  /** Characters of physical plan description posted while `body` runs:
   * each SQL execution's start plus every AQE re-plan update. */
  protected def planChars[T](body: => T): (Long, T) = {
    val chars = new AtomicLong()
    val out = listening(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          chars.addAndGet(s.physicalPlanDescription.length)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          chars.addAndGet(u.physicalPlanDescription.length)
        case _ => ()
      }
    })(body)
    (chars.get, out)
  }
}
