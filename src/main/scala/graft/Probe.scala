package graft

import org.apache.spark.sql.SparkSession

/** One-off perf/plan probe: time one SparkEntry query and print its plan,
  * with the SAME per-rep accounting as [[Bench]] (CacheScope per rep,
  * shuffle/spill/CPU from task metrics) so a probe number is directly
  * comparable to a bench_out.json entry.
  * Usage: runMain graft.Probe <queryName> [sfDir] [--explain] [--build] */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_dedup_jaccard")
    val sfDir = args.filterNot(_.startsWith("--")).lift(1)
      .getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogQuiet.windowExec()
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("--explain")) df.explain("formatted")
    // warm scans
    Seq("events", "documents", "embeddings").foreach(t =>
      try Tables.table(spark, sfDir, t).count() catch { case _: Throwable => })

    val shuffleAcc = new java.util.concurrent.atomic.AtomicLong
    val spillAcc = new java.util.concurrent.atomic.AtomicLong
    val cpuAcc = new java.util.concurrent.atomic.AtomicLong
    // job/stage/task counts alongside the byte metrics: a query whose
    // wall exceeds its cpu at every core count is STAGE-LATENCY bound
    // (iterative fixtures run hundreds of tiny stages), and the counts
    // say whether an optimization actually removed scheduling work
    val jobAcc = new java.util.concurrent.atomic.AtomicLong
    val stageAcc = new java.util.concurrent.atomic.AtomicLong
    val taskAcc = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageAcc.incrementAndGet()
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskAcc.incrementAndGet()
        val m = te.taskMetrics
        if (m != null) {
          shuffleAcc.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillAcc.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          cpuAcc.addAndGet(m.executorCpuTime)
        }
      }
      // GRAFT_LOOP_DEBUG: per-job wall + root-callsite histogram, the
      // "where do 150 jobs come from" answer for stage-latency-bound
      // queries (jobs are the unit the driver pays for, not stages)
      private val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobAcc.incrementAndGet()
        if (Fixpoint.debug)
          jobT0.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = jobT0.remove(j.jobId)
        if (t0 != 0L && Fixpoint.debug)
          System.err.println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e3}%8.0f us")
      }
    })
    def measured(label: String)(body: => Long): Unit = {
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      val (s0, p0, c0) = (shuffleAcc.get, spillAcc.get, cpuAcc.get)
      val (j0, g0, k0) = (jobAcc.get, stageAcc.get, taskAcc.get)
      val t0 = System.nanoTime()
      val n = body
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s wall, " +
        f"${(cpuAcc.get - c0) / 1e9}%.2f s cpu, " +
        f"${(shuffleAcc.get - s0) / 1e6}%.3f MB shuffle, " +
        f"${(spillAcc.get - p0) / 1e6}%.3f MB spill, $n rows, " +
        s"${jobAcc.get - j0} jobs, ${stageAcc.get - g0} stages, " +
        s"${taskAcc.get - k0} tasks")
    }
    // mirror Bench's _shared_stage_build so per-rep numbers below are the
    // same amortized steady-state costs the bench reports
    if (args.contains("--build")) measured("_shared_stage_build") {
      CacheScope.scoped {
        for (q <- Seq("q_dedup_cluster", "q_bm25", "q_trgm_search"))
          try SparkEntry.queries(q)(spark, sfDir).count(): Unit
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[probe] build ($q) failed: ${e.getMessage}") }
      }
      0L
    }
    for (i <- 1 to 3) measured(s"$name run$i") {
      CacheScope.scoped { SparkEntry.queries(name)(spark, sfDir).count() }
    }
    spark.stop()
  }
}
