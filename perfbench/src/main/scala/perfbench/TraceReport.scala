package perfbench

/**
 * Per-layer metrics of a traced run: each traced pass's spans are summed
 * into the named metrics, and each metric is the median over traced
 * passes. A metric a workload never exercises reads 0.
 */
object TraceReport {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def passMetrics(t: Tracer, p: Pass, cores: Int,
                          queryNames: Seq[String]): Map[String, Double] = {
    val spans = t.spans.filter(_.pass == p.index).toSeq
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def sum(k: String, ss: Seq[Span] = spans) = ss.map(_.counters.getOrElse(k, 0.0)).sum
    def secs(pred: String => Boolean) = spans.filter(s => pred(s.name)).map(_.seconds).sum
    val execRun = sum("exec_run_ms") / 1e3
    val mb = 1024.0 * 1024.0

    // raw CSV scans: input read under the spans that land the feed,
    // against the bytes of the CSV files those spans were given
    val csvRoots = spans.filter(_.counters.contains("csv_file_bytes"))
    val csvRead = csvRoots.flatMap(subtree).filterNot(csvRoots.contains)
      .map(_.counters.getOrElse("input_bytes", 0.0)).sum
    val csvGiven = sum("csv_file_bytes", csvRoots)
    val stagingWrites = spans.filter(_.name == "sources.lake.write:staging")
    val builders = spans.filter(s => s.name.startsWith("query.") &&
      (CorpusCurate.Builders ++ GraphIter.Builders)(s.name.stripPrefix("query.")))

    Map(
      "plan.analysis_ms" -> sum("analysis_ms"),
      "plan.optimizer_ms" -> sum("optimizer_ms"),
      "plan.physical_ms" -> sum("physical_ms"),
      "sched.jobs" -> sum("jobs"),
      "sched.stages" -> sum("stages"),
      "sched.tasks" -> sum("tasks"),
      "sched.driver_idle_s" -> (p.wallS - execRun / cores),
      "exec.cpu_s" -> sum("exec_cpu_ns") / 1e9,
      "exec.run_s" -> execRun,
      "exec.gc_s" -> sum("gc_ms") / 1e3,
      "shuffle.write_mb" -> sum("shuffle_write_bytes") / mb,
      "shuffle.read_mb" -> sum("shuffle_read_bytes") / mb,
      "shuffle.fetch_wait_ms" -> sum("fetch_wait_ms"),
      "spill.mb" -> sum("spill_bytes") / mb,
      "scan.input_mb" -> sum("input_bytes") / mb,
      "scan.records" -> sum("input_records"),
      "sources.lake.write_s" -> secs(_.startsWith("sources.lake.write:")),
      "sources.lake.files_written" -> sum("files_written"),
      "sources.lake.bytes_written" -> sum("bytes_written"),
      "sources.csv.raw_scan_ratio" -> (if (csvGiven > 0) csvRead / csvGiven else 0.0),
      "pipelines.raw_to_staging.s" -> secs(_.startsWith("pipelines.raw_to_staging")),
      "pipelines.staging_to_curated.s" -> secs(_ == "pipelines.staging_to_curated"),
      "pipelines.validation.s" -> secs(_.startsWith("pipelines.validation:")),
      "pipelines.curate_documents.s" -> secs(_ == "pipelines.curate_documents"),
      "pipelines.raw_to_staging.kept_ratio" -> {
        val read = sum("input_records", stagingWrites)
        if (read > 0) sum("output_records", stagingWrites) / read else 0.0
      },
      "cache.persisted_frames" -> p.persistedFrames.toDouble,
      "cache.peak_mb" -> p.cachePeakBytes / mb,
      "cache.shared_build_s" -> builders.map(_.seconds).sum
    ) ++ queryNames.flatMap { q =>
      val qs = spans.filter(_.name == s"query.$q")
      Seq(s"query.$q.s" -> qs.map(_.seconds).sum,
        s"query.$q.jobs" -> sum("jobs", qs.flatMap(subtree)))
    }
  }

  /** `query.<name>` metrics cover the corpus_curate family in every
   * workload, so every workload reports the same metric names, plus the
   * workload's own queries. */
  def apply(t: Tracer, passes: Seq[Pass], cores: Int,
            ownQueries: Seq[String]): Map[String, Any] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val names = (CorpusCurate.Names ++ ownQueries).distinct
    val per = traced.map(passMetrics(t, _, cores, names))
    val metrics = per.headOption.fold(Map.empty[String, Double])(_.keys.map(k =>
      k -> median(per.map(_(k)))).toMap)
    // each traced pass against the mean of the untraced passes on either
    // side, which cancels a steady warm-up drift
    val overhead = median(traced.map { p =>
      val i = passes.indexOf(p)
      p.wallS - (passes(i - 1).wallS + passes(i + 1).wallS) / 2
    })
    val t0 = t.spans.headOption.fold(0L)(_.startNs)
    Map(
      "per_layer" -> (metrics + ("trace.overhead_s" -> overhead)),
      "traced_passes" -> traced.size,
      "untraced_passes" -> untraced.size,
      "spans" -> t.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> t.selfSeconds(s), "counters" -> s.counters.toMap)).toSeq)
  }
}
