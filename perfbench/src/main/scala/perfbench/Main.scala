package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** One operation of a pass: a call the client made and waited for. */
final case class Op(name: String, key: String, ms: Double, ok: Boolean, error: String)

/** The ops and timings of one pass. */
final class Pass(val index: Int, tracer: Tracer) {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer()
  var wallS = 0.0
  var cpuS = 0.0
  var traced = false
  var persistedFrames = 0
  var cachePeakBytes = 0L

  /** Run one operation: time it, trace it, and count a throw as a failed
   * operation. A failed operation is never retried. */
  def op(name: String, key: String = "")(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val err =
      try { tracer.span(name)(body); "" }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[perfbench]     at $f"))
        s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    System.err.println(f"[perfbench] pass $index $name $key ${ms}%.1f ms")
    ops += Op(name, key, ms, err.isEmpty, err)
  }
}

/** A workload: set-up, then passes the closed-loop client repeats. */
trait Workload {
  def setup(): Unit
  def pass(p: Pass): Unit
  /** SparkEntry queries the workload runs (for the per-query trace metrics). */
  def queryNames: Seq[String] = Nil
  /** Inputs and outputs the checker needs, written into the result. */
  def report(): Map[String, Any]
}

/**
 * Benchmark harness, one JVM per run. Usage:
 * `perfbench.Main --workload W --data DIR --seconds S --trace 0|1 --out FILE`.
 *
 * Set-up (session start, workload set-up, one untimed warm-up pass) is
 * followed by a closed loop: a single client runs passes back to back
 * until `seconds` have elapsed (at least one pass). With `--trace 1`,
 * untraced and traced passes alternate, so the tracing overhead is
 * measured in the same JVM.
 */
object Main {
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def session(cores: Int, data: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$data/spark-local")
      .config("spark.sql.warehouse.dir", s"$data/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val sessionT0 = System.currentTimeMillis()
    val spark = session(cores, data)
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, data, Json.read(s"$data/manifest.json"), tracer, cores)
    val w: Workload = opt("workload") match {
      case "lake_backfill" => new LakeBackfill(ctx)
      case "lake_daily" => new LakeDaily(ctx)
      case "graph_iter" => new GraphIter(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    // one warm-up pass; the pass after it is still warming up (JIT), so a
    // traced run warms up once more, lest the tracing overhead, measured
    // against the untraced passes around a traced one, absorb that drift
    val warmups = Seq.fill(if (trace) 2 else 1)(new Pass(0, tracer))
    warmups.foreach(w.pass)
    val setupDoneMs = System.currentTimeMillis()

    val passes = mutable.ArrayBuffer[Pass]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run alternates untraced and traced passes and ends on an
    // untraced one, so each traced pass has an untraced pass on each side
    def more = passes.isEmpty || System.nanoTime() < deadline ||
      (trace && (passes.size < 3 || passes.last.traced))
    while (more) {
      val p = new Pass(passes.size + 1, tracer)
      p.traced = trace && passes.size % 2 == 1
      tracer.setEnabled(p.traced)
      tracer.startPass(p.index)
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      w.pass(p)
      p.wallS = (System.nanoTime() - t0) / 1e9
      p.cpuS = (cpuNs() - c0) / 1e9
      tracer.setEnabled(false)
      if (p.traced) {
        p.persistedFrames = tracer.persistedRdds.size
        p.cachePeakBytes = tracer.peakCachedBytes
      }
      passes += p
    }

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"),
      "cores" -> cores,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_start_ms" -> sessionT0,
      "session_ready_ms" -> sessionReadyMs,
      "setup_done_ms" -> setupDoneMs,
      "warmups" -> warmups.map(passJson),
      "passes" -> passes.map(passJson).toSeq,
      "peak_rss_mb" -> vmHwmMb(),
      "run_record" -> Map(
        "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.runtime.version"),
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "master" -> spark.sparkContext.master),
      "workload_report" -> w.report())
    if (trace) rec("trace") = TraceReport(tracer, passes.toSeq, cores, w.queryNames)
    Json.write(opt("out"), rec)
    spark.stop()
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "index" -> p.index, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
    "traced" -> p.traced,
    "ops" -> p.ops.map(o => Map("name" -> o.name, "key" -> o.key, "ms" -> o.ms,
      "ok" -> o.ok, "error" -> o.error)).toSeq)

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
