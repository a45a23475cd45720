package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

import org.apache.spark.PerfbenchBus

/** One traced call into a layer. Times are nanoTime; `parent` is 0 at the
 * root of a pass. Counters are filled by [[Tracer]]'s listeners. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val pass: Int, val startNs: Long) {
  var endNs: Long = 0L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Span recorder for the traced run. Around each benchmark call into a
 * layer, [[span]] records name, start, end and parent, and tags every
 * Spark job the call submits with the span id through `setJobGroup`. A
 * scheduler listener then credits jobs, stages, tasks and task metrics to
 * the span whose group submitted them, and a query-execution listener
 * credits the Catalyst phase times of `queryExecution.tracker`. Spans
 * stay in memory; the caller writes them out at the end.
 *
 * When disabled, [[span]] only runs its body: untraced passes pay
 * nothing but a flag test.
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var enabled = false
  private var nextId = 1L
  private var stack: List[Span] = Nil
  private var pass = 0
  private var lastClosed: Option[Span] = None
  // cached RDD blocks (block id -> bytes) and, per pass, the peak footprint
  // and the RDDs that cached at least one block
  private val rddBlocks = mutable.HashMap[String, Long]()
  private var cachedBytes = 0L
  var peakCachedBytes = 0L
  val persistedRdds: mutable.Set[Int] = mutable.Set()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  // phase times arrive on the listener bus; they are credited to the
  // innermost span open when the bus is drained at that span's end
  private val pendingPhases = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-"))
      .flatMap(g => Option(byId.get(g.stripPrefix("span-").toLong)))

  private val schedListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(s => s.synchronized(s.add("jobs", 1)))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        s.synchronized(s.add("stages", 1))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.add("tasks", 1)
        s.add("exec_cpu_ns", m.executorCpuTime.toDouble)
        s.add("exec_run_ms", m.executorRunTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("input_records", m.inputMetrics.recordsRead.toDouble)
        s.add("output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.foreach { rdd =>
        Tracer.this.synchronized {
          val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
          cachedBytes += bytes - rddBlocks.getOrElse(rdd.name, 0L)
          if (bytes > 0) { rddBlocks(rdd.name) = bytes; persistedRdds += rdd.rddId }
          else rddBlocks.remove(rdd.name)
          peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      pendingPhases.add(Seq("analysis", "optimization", "planning")
        .map(k => k -> ph.get(k).map(_.durationMs).getOrElse(0L)).toMap)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Turn tracing on for the passes that follow (and off again). */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    enabled = on
    if (on) {
      sc.addSparkListener(schedListener)
      spark.listenerManager.register(qeListener)
    } else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(schedListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def isEnabled: Boolean = enabled

  def startPass(i: Int): Unit = synchronized {
    pass = i
    // blocks cached before the pass are not counted: a removal of an
    // unknown block changes nothing
    rddBlocks.clear()
    cachedBytes = 0L
    peakCachedBytes = 0L
    persistedRdds.clear()
  }

  /** Add a counter to the innermost open span. */
  def annotateCurrent(k: String, v: Double): Unit = stack.headOption.foreach(_.add(k, v))

  /** Add a counter to the span that closed most recently. */
  def annotateLast(k: String, v: Double): Unit = lastClosed.foreach(_.add(k, v))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, name, stack.headOption.fold(0L)(_.id), pass,
        System.nanoTime())
      nextId += 1
      byId.put(s.id, s)
      spans += s
      // phases of queries that ran before this span opened belong to the
      // enclosing span, not to this one
      PerfbenchBus.drain(sc)
      creditPhases(stack.headOption)
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        PerfbenchBus.drain(sc)
        creditPhases(Some(s))
        s.endNs = System.nanoTime()
        lastClosed = Some(s)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def creditPhases(to: Option[Span]): Unit = {
    var ph = pendingPhases.poll()
    while (ph != null) {
      to.foreach { s =>
        s.add("analysis_ms", ph("analysis").toDouble)
        s.add("optimizer_ms", ph("optimization").toDouble)
        s.add("physical_ms", ph("planning").toDouble)
      }
      ph = pendingPhases.poll()
    }
  }

  /** Self time: the span's duration minus the part its children cover
   * (children of one span never overlap: the client is single-threaded). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
