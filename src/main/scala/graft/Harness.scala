package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/**
 * What every driver main and spec shares: the one session builder, the
 * one per-body metrics listener and the one query-name check. A number a
 * driver prints and the bound a spec asserts therefore come from the same
 * session config and the same counters.
 */
object Harness {

  /** A local session on `cores` threads with graft's SQL functions and
   * optimizer rule ([[GraftExtensions]]). events.parquet carries
   * TIMESTAMP(NANOS): `nanosAsLong` reads it as a long, which
   * [[Tables.events]] converts back to a timestamp. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // 52 queries × several codegen stages each exceed the default
      // 100-entry generated-class cache; sized to hold the whole workload
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The session of a driver main: `SPARK_GRAFT_CPUS` cores, else the
   * machine's. The bounded single-partition windows (the ≤k-row
   * centroid-init ranks of [[operators.Similarity]], the cardinality-
   * gated KS cumulative of [[operators.Quality.ksTest]]) are the intended
   * plans, but WindowExec logs "No Partition Defined" on every
   * (re)planning, 50+ identical lines per bench run. A literal partition
   * key cannot silence it (Spark 4 folds foldable partition specs away),
   * so mains quiet that one logger. Specs do not: a newly introduced
   * unpartitioned window still warns in `sbt test`. */
  def driverSession(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = session(cores)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** What ran while one body ran. `cpuNanos` is executor CPU; byte
   * counts are from task metrics; `planChars` is the physical plan
   * text posted at each SQL execution's start and every AQE re-plan. */
  final case class Counters(jobs: Long, stages: Long, tasks: Long,
                            cpuNanos: Long, shuffleWriteBytes: Long,
                            spillBytes: Long, inputBytes: Long,
                            planChars: Long) {
    def cpuMs: Long = cpuNanos / 1000000L
  }

  private final class Listener extends SparkListener {
    private val jobs, stages, tasks, cpu, shuffle, spill, input, chars =
      new AtomicLong()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpu.addAndGet(m.executorCpuTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        chars.addAndGet(s.physicalPlanDescription.length): Unit
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        chars.addAndGet(u.physicalPlanDescription.length): Unit
      case _ => ()
    }
    def counters: Counters = Counters(jobs.get, stages.get, tasks.get,
      cpu.get, shuffle.get, spill.get, input.get, chars.get)
  }

  /** Run `body` with a fresh listener attached and return what it counted.
   * Events post asynchronously, so the bus is drained before attaching
   * (nothing earlier is counted) and after `body` (all of its own events
   * are). The listener is session-global: work another thread runs
   * meanwhile is counted too. */
  def measure[T](spark: SparkSession)(body: => T): (T, Counters) = {
    val sc = spark.sparkContext
    val l = new Listener
    GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftListenerBridge.drainListenerBus(sc)
      (out, l.counters)
    } finally sc.removeSparkListener(l)
  }

  /** `names`, each checked against [[SparkEntry.queries]]: a misspelt
   * name fails here instead of selecting nothing. */
  def queryNames(source: String, names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"$source names unknown queries: ${unknown.mkString(",")}")
    names
  }
}
