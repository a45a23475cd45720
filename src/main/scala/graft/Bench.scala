package graft

import scala.util.control.NonFatal

/** Driver-run benchmark: every SparkEntry query timed on SPARK_GRAFT_SF_DIR,
  * one JSON line to stdout, per-query detail (seconds, CPU, shuffle,
  * spill, jobs, stages, tasks) to SPARK_GRAFT_BENCH_OUT.
  * `SPARK_GRAFT_ONLY=<q>` times one query the same way. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated query subset (scale-tier probes of the
    // shuffle leaders, one query's counts); empty = the full workload
    val only = Harness.queryNames("SPARK_GRAFT_ONLY", sys.env.get("SPARK_GRAFT_ONLY")
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)).toSet
    val spark = Harness.driverSession()

    // Warm up JIT/codegen/parquet-footer paths untimed: one full pass of
    // every query at the smallest scale factor. The plans are structurally
    // identical to the timed ones (only the input path differs), so every
    // generated class is compiled, JIT'd, and cached before the clock
    // starts — the timed pass measures execution, not compiler warm-up.
    // (Requires spark.sql.codegen.cache.maxEntries sized to the workload;
    // with the default 100-entry cache this warmup used to THRASH and
    // measure slower.)
    Seq("events", "documents", "embeddings", "lineitem", "customer",
      "nation", "region").foreach(t => Tables.table(spark, sfDir, t).count())
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // a missing warmup dir would silently downgrade every query to a cold
    // (mis-)measurement while still reporting it as warm — fail fast
    if (!new java.io.File(warmDir).isDirectory)
      sys.error(s"[bench] warmup dataset dir does not exist: $warmDir " +
        "(set SPARK_GRAFT_WARM_DIR); refusing to time cold plans as warm")
    // NonFatal only: an OOM or interrupt during warmup must abort the
    // bench, not be swallowed and mis-measured
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1).foreach { case (name, fn) =>
      CacheScope.scoped {
        try fn(spark, warmDir).count() catch { case NonFatal(e) =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
      }
    }
    // release warmup-dir shared stages (pair joins, cluster labels): the
    // timed pass must pay its own one-time materialization, not inherit
    // a warm cache keyed to a different input dir
    SharedStage.clear()

    // Each entry is billed with the counters of [[Harness.measure]]:
    // PlanSpec locks plan SHAPE, shuffle-write and spill bytes catch
    // VOLUME regressions (a join that silently started shuffling 10x, a
    // window that began spilling) as round-over-round diffable numbers.
    // On a loaded shared machine wall-clock inflates with scheduler
    // queueing while task CPU stays flat, so cpu_ms is the primary
    // cross-round signal and wall is advisory. Jobs, stages and tasks say
    // whether a change removed scheduling work: a query whose wall exceeds
    // its cpu at every core count is stage-latency bound.
    final case class Entry(name: String, sec: Double, c: Harness.Counters)
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // median of 3 timed passes per query: single-pass timings on a shared
    // machine wobbled by ±0.5 s round-over-round on sub-second queries
    // with unchanged plans; the median is robust to one noisy pass
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    def median[N: Ordering](xs: Seq[N]): N = xs.sorted.apply(xs.length / 2)
    // per-rep counters are medianed field by field like the timings: the
    // last rep alone could absorb a concurrent job's tasks (the listener
    // is session-global) and misreport the query's own volume
    def medianCounters(cs: Seq[Harness.Counters]): Harness.Counters =
      if (cs.isEmpty) Harness.Counters(0, 0, 0, 0, 0, 0, 0, 0)
      else Harness.Counters(median(cs.map(_.jobs)), median(cs.map(_.stages)),
        median(cs.map(_.tasks)), median(cs.map(_.cpuNanos)),
        median(cs.map(_.shuffleWriteBytes)), median(cs.map(_.spillBytes)),
        median(cs.map(_.inputBytes)), median(cs.map(_.planChars)))
    // The SharedStage materializations (near-dup pair join + CC labels,
    // and the BM25 postings index) are measured ONCE as their own entry:
    // the per-query medians below are amortized steady-state costs —
    // later reps and later family members ride the cache — so without
    // this row a regression in ANY shared build would move NO reported
    // number (median-of-3 discards the single cold rep). Driving
    // q_dedup_cluster cold materializes the dedup stages, q_bm25 the
    // retrieval index, q_er_agreement the four ER stages (both match
    // frames + both entity CC labelings — it transitively touches every
    // one), q_ft_classify the NB classifier's trained-and-scored corpus
    // frame (5 consumers), and q_ann_ivfpq the IVFADC index (coarse
    // cells + codebooks + code table, also scored by q_knn_label_ann);
    // their own medians below then read the warm cache, which is
    // exactly the pipeline cost model.
    val buildQs = Seq("q_dedup_cluster", "q_bm25", "q_trgm_search",
        "q_er_agreement", "q_ft_classify", "q_ann_ivfpq")
      .filter(q => only.isEmpty || only(q))
    // per-stage build accounting: a swallowed build failure used to
    // degrade every dependent query's median to a silent full rebuild
    // with NO recorded signal (the r15 verdict's 32-core dedup-trio
    // anomaly was unattributable for exactly this reason). Each build
    // query now gets its own ok/seconds row in the JSON, and a failed
    // build lands in `failed` so failed_count is nonzero — loud in every
    // artifact — while the remaining builds still run (one broken family
    // must not hide the other families' numbers).
    val buildStages = scala.collection.mutable.ArrayBuffer[(String, Double, Boolean)]()
    val buildT0 = System.nanoTime()
    val (_, buildC) = Harness.measure(spark) {
      CacheScope.scoped {
        for (q <- buildQs) {
          val t0 = System.nanoTime()
          val ok =
            try { SparkEntry.queries(q)(spark, sfDir).count(); true }
            catch { case NonFatal(e) =>
              System.err.println(s"[bench] shared-stage build ($q) failed: ${e.getMessage}")
              failed += s"_build:$q"
              false
            }
          buildStages += ((q, (System.nanoTime() - t0) / 1e9, ok))
        }
      }
    }
    val buildEntry = Entry("_shared_stage_build",
      (System.nanoTime() - buildT0) / 1e9, buildC)
    // a subset run that excludes every build query must NOT emit the
    // build row: its near-zero value would poison any best-of cpu
    // history it is (mistakenly) fed into, flagging every future full
    // run's real build as a regression
    val buildEntries = if (buildQs.nonEmpty) Seq(buildEntry) else Seq.empty
    // deterministic execution order: rounds compare like-for-like and the
    // first-query session-warmup penalty always lands on the same query
    val results = buildEntries ++ SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1).map { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      val counters = scala.collection.mutable.ArrayBuffer[Harness.Counters]()
      var firstFailure = 0.0
      (1 to reps).foreach { _ =>
        if (firstFailure == 0.0) {
          val t0 = System.nanoTime()
          val (ok, c) = Harness.measure(spark) {
            CacheScope.scoped {
              try { fn(spark, sfDir).count(); true } catch { case NonFatal(e) =>
                System.err.println(s"[bench] $name failed: ${e.getMessage}")
                failed += name
                false
              }
            }
          }
          val dt = (System.nanoTime() - t0) / 1e9
          // failures are marked with negative elapsed so they can never be
          // mistaken for a fast success downstream
          if (ok) { times += dt; counters += c }
          else firstFailure = -dt
        }
      }
      Entry(name, if (firstFailure != 0.0) firstFailure else median(times.toSeq),
        medianCounters(counters.toSeq))
    }
    def perEntry(f: Entry => Any): String =
      results.map(e => s"\"${e.name}\":${f(e)}").mkString("{", ",", "}")
    // totals and counts bill QUERIES only: the one-time _shared_stage_build
    // row stays in the per-entry maps (it is real pipeline cost) but is
    // reported as its own build_* fields so round-over-round total/count
    // diffs compare query work against query work
    val queryResults = results.filterNot(_.name == "_shared_stage_build")
    val total = queryResults.map(_.sec).sum
    val totalCpuSec = queryResults.map(_.c.cpuMs).sum / 1e3
    // minimal JSON string escaping for names/paths we embed verbatim
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val failedJson = failed.map(jstr).mkString("[", ",", "]")
    // subset runs are tagged so bench_diff --cpu refuses to mix them
    // into a best-of history (their per-query numbers are real, but the
    // artifact is not a full-workload peer)
    val onlyJson = if (only.isEmpty) ""
      else s""""only":${only.toSeq.sorted.map(jstr).mkString("[", ",", "]")},"""
    // subset runs that exclude every build query drop the row above —
    // mirror that in the top-level fields: null, not the bogus ~0-cost
    // buildEntry, so tooling reading build_* directly can't mistake a
    // build-free artifact for a free build
    val (buildSec, buildShB, buildCpuMs) =
      if (buildQs.nonEmpty) (buildEntry.sec.toString,
        buildC.shuffleWriteBytes.toString, buildC.cpuMs.toString)
      else ("null", "null", "null")
    // per-stage build rows (name → seconds, ok) and the build-inclusive
    // total: the r15 round moved real cost INTO the excluded build row,
    // which made round-over-round "total" diffs flattering — bill both
    // views so no re-billing can hide in the accounting
    val buildStagesJson = buildStages
      .map { case (q, s, ok) => s"""${jstr(q)}:{"sec":$s,"ok":$ok}""" }
      .mkString("{", ",", "}")
    val totalWithBuild =
      if (buildQs.nonEmpty) total + buildEntry.sec else total
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",$onlyJson"queries":${perEntry(_.sec)},""" +
        s""""n_queries":${queryResults.size},"n_entries":${results.size},""" +
        s""""build_sec":$buildSec,"build_shuffle_bytes":$buildShB,""" +
        s""""build_cpu_ms":$buildCpuMs,"build_stages":$buildStagesJson,""" +
        s""""total_with_build":$totalWithBuild,"cpu_sec":$totalCpuSec,""" +
        s""""shuffle_bytes":${perEntry(_.c.shuffleWriteBytes)},""" +
        s""""spill_bytes":${perEntry(_.c.spillBytes)},"cpu_ms":${perEntry(_.c.cpuMs)},""" +
        s""""jobs":${perEntry(_.c.jobs)},"stages":${perEntry(_.c.stages)},""" +
        s""""tasks":${perEntry(_.c.tasks)},""" +
        s""""failed":$failedJson,"sf":${jstr(sfDir)}}"""
    // Full per-query detail lands in a file; stdout gets a COMPACT line.
    // The harness that collects BENCH_r{N}.json keeps only the last ~2000
    // chars of stdout and parses the JSON line out of that tail — the
    // full line is ~10 KB and has therefore NEVER parsed (six rounds of
    // `parsed: null`). The stdout line is capped to the headline subset
    // below (~1.2 KB incl. the sbt "[success]" trailer that follows it).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // headline queries: the heaviest / most representative of each family
    // (iterative graph, near-dup joins, ANN, streaming-adjacent state,
    // text, trajectory). Fixed list so rounds compare like-for-like.
    val headline = Seq(
      "q_pagerank", "q_dedup_cluster", "q_dedup_minhash", "q_triangles",
      "q_editdist", "q_containment", "q_multimodal_frames", "q_encounters",
      "q_kmeans", "q_ann_pq", "q_ann_ivf", "q_ann_ivfpq", "q_tfidf",
      "q_lang_id", "q_monthly", "q_sessionize", "q_state_merge",
      "q_dup_spans", "q_semdedup", "q_dsir", "q_cube", "q_interval_overlap",
      "q_scd2", "q_vocab", "q_traj_sample", "q_dedup_jaccard",
      "q_suffix_spans",
      // r16 additions (additions only — the original 27 stay): the r15
      // round's big movers, so the driver's PERF diff can see them
      "q_dendrogram", "q_louvain", "q_leiden", "q_ft_eval",
      "q_er_agreement", "q_dedup_wminhash")
    // explicit ROOT locale: the f"" interpolator formats with the JVM
    // default locale, which under e.g. de_DE emits "1,234" and breaks the
    // JSON parse downstream
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val byName = results.map(e => e.name -> e).toMap
    val headQs = headline.flatMap(byName.get)
      .map(e => s"\"${e.name}\":${r3(e.sec)}")
      .mkString("{", ",", "}")
    val shuffleMb = queryResults.map(_.c.shuffleWriteBytes).sum / 1e6
    val spillMb = queryResults.map(_.c.spillBytes).sum / 1e6
    // cap the failed list on the compact line: it must stay inside the
    // harness's ~2000-char stdout tail even when dozens of queries fail —
    // exactly the rounds where the signal matters most. Full list is in
    // the bench_out.json artifact.
    val failedCompact = failed.take(8).map(jstr).mkString("[", ",", "]")
    val buildSecCompact = if (buildQs.nonEmpty) r3(buildEntry.sec) else "null"
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
        s""""cpu_sec":${r3(totalCpuSec)},""" +
        s""""sf":${jstr(sfDir)},"n_queries":${queryResults.size},""" +
        s""""n_entries":${results.size},"build_sec":$buildSecCompact,""" +
        s""""total_with_build":${r3(totalWithBuild)},""" +
        s""""shuffle_mb":${r3(shuffleMb)},"spill_mb":${r3(spillMb)},""" +
        s""""failed_count":${failed.size},"failed":$failedCompact,""" +
        s""""queries":$headQs,"full":${jstr(outPath)}}"""
    println(compact)
    spark.stop()
  }
}
