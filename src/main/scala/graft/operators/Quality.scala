package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-quality counters (reference: utils/common_functions_raw.py:182
 * compute_summary_stats). Single-pass aggregation — at scale this is one
 * job with partial aggregation, never a driver-side loop.
 */
object Quality {

  /** Total rows, distinct entities, and null counts for the given columns. */
  def summaryStats(df: DataFrame, entityCol: String, nullCheckCols: Seq[String]): DataFrame = {
    val nullCounts = nullCheckCols.map(c =>
      count(when(col(c).isNull, 1)).as(s"null_$c"))
    df.agg(
      count(lit(1)).as("total_records"),
      (countDistinct(col(entityCol)).as(s"unique_$entityCol") +: nullCounts): _*)
  }

  /**
   * Measured accuracy gate for sketch-based profiling: at 100 TB the DQ
   * pass uses `approx_count_distinct` (HyperLogLog++ — constant memory,
   * one pass, mergeable), and this operator PROVES the sketch is within
   * `tolerance` of the exact answer on gate data instead of trusting the
   * rsd parameter. Emits one row per column: the exact distinct count
   * (oracle-checkable) and the in-tolerance bit (oracle asserts TRUE).
   *
   * One UNION branch per column, NOT one agg with 2·|cols| measures:
   * several distinct-aggregates in a single aggregation make Catalyst
   * plan an Expand (input ×2·|cols| before any combine) while a
   * single-column branch gets a pruned one-column scan and a clean
   * two-phase distinct — measured 5.5 s → sub-second on the gate data.
   */
  def approxDistinctGate(df: DataFrame, cols: Seq[String],
                         rsd: Double = 0.01,
                         tolerance: Double = 0.05): DataFrame =
    cols.map { c =>
      df.select(col(c)).agg(
          countDistinct(col(c)).as("n_exact"),
          approx_count_distinct(col(c), rsd).as("n_approx"))
        .select(lit(c).as("col_name"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <=
            col("n_exact").cast("double") * tolerance).as("approx_ok"))
    }.reduce(_ unionAll _)

  /**
   * Per-group WEIGHTED median: the smallest value whose cumulative
   * weight reaches half the group's total — the location statistic for
   * weighted corpora (mixture-weighted doc length, importance-weighted
   * latency) where the plain median over-counts down-weighted rows.
   * Non-positive/null weights are dropped (they carry no mass, and a
   * negative weight makes the crossing undefined). One (group, value)
   * window for the running weight + one group total window on the same
   * partitioning (no second shuffle), then a partial-agg'd min over the
   * crossing rows. Exact, order-insensitive under value ties (the
   * crossing VALUE is unique even when cum order among equals is not).
   */
  def weightedMedian(df: DataFrame, groupCols: Seq[String],
                     valueCol: String, weightCol: String): DataFrame = {
    val gw = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val ow = gw.orderBy(col(valueCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.filter(col(weightCol) > 0)
      .withColumn("_cum", sum(col(weightCol).cast("double")).over(ow))
      .withColumn("_tot", sum(col(weightCol).cast("double")).over(gw))
      .filter(col("_cum") >= col("_tot") / 2)
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(valueCol)).as("weighted_median"))
  }

  /**
   * Count–min-sketch heavy-hitter gate, the frequency twin of
   * [[approxDistinctGate]]: top-`k` keys by exact count next to the
   * one-pass CMS estimate, asserting the sketch's guarantee
   * exact ≤ estimate ≤ exact + ε·N on real data. The sketch (one
   * mergeable `count_min_sketch` aggregate, ~e/ε × ln(1/δ) counters) is
   * what a 100 TB feed keeps PER PARTITION/HOUR when a full groupBy per
   * window is too expensive — merge sketches, probe candidates; this
   * gate measures what that buys on gate data instead of trusting ε.
   * The probe ([[graft.expressions.CmsEstimate]]) runs over the k
   * candidate rows only, against the broadcast one-row sketch. Output
   * (key, n_exact, cms_ok) — exact side + verdict are oracle-checkable.
   * Keys are cast to long: estimate and update must hash identically.
   */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, k: Int,
                      eps: Double = 0.001, confidence: Double = 0.99,
                      seed: Int = 7): DataFrame = {
    require(k >= 1 && eps > 0 && confidence > 0 && confidence < 1,
      "cmsHeavyHitters needs k >= 1, eps > 0, confidence in (0,1)")
    import org.apache.spark.sql.GraftBridge
    val keyL = col(keyCol).cast("long")
    val sketch = df.select(keyL.as("_k")).agg(
      expr(s"count_min_sketch(_k, ${eps}d, ${confidence}d, $seed)").as("_sk"),
      count(col("_k")).as("n_total"))
    val top = df.select(keyL.as("key")).filter(col("key").isNotNull)
      .groupBy("key").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("key").asc).limit(k)
    top.crossJoin(broadcast(sketch))
      .withColumn("n_cms", GraftBridge.column(graft.expressions.CmsEstimate(
        GraftBridge.expression(col("_sk")), GraftBridge.expression(col("key")))))
      .select(col("key"), col("n_exact"),
        (col("n_cms") >= col("n_exact") &&
          col("n_cms") <= col("n_exact") + ceil(lit(eps) * col("n_total")).cast("long"))
          .as("cms_ok"))
  }

  /**
   * Exact grouped quantiles (linear interpolation at rank (n-1)·p — the
   * same definition as DuckDB's `quantile_cont`, so results are
   * oracle-comparable). Exact, not approx_percentile: profile
   * distributions feed filter thresholds, where sketch error bites.
   */
  def quantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                ps: Seq[Double]): DataFrame = {
    val aggs = ps.map(p =>
      expr(s"percentile($valueCol, $p)").as(s"p${math.round(p * 100)}"))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Per-group winsorization: clip a value to its group's [pLow, pHigh]
   * quantile band — the standard outlier guard before z-scoring or
   * export. Reuses the exact [[quantiles]] aggregation; the clip is a
   * join back on the group key (both sides shuffle once on a
   * high-cardinality key; small group-count quantile frames broadcast).
   */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                pLow: Double, pHigh: Double,
                outCol: String = "winsorized"): DataFrame = {
    val lo = s"p${math.round(pLow * 100)}"
    val hi = s"p${math.round(pHigh * 100)}"
    val q = quantiles(df, groupCols, valueCol, Seq(pLow, pHigh))
    df.join(q, groupCols)
      .withColumn(outCol,
        when(col(valueCol) < col(lo), col(lo))
          .when(col(valueCol) > col(hi), col(hi))
          .otherwise(col(valueCol)))
  }

  /**
   * Measured accuracy gate for sketch-based quantiles, the grouped twin
   * of [[approxDistinctGate]]: per group, `approx_percentile` (a
   * KLL/GK-style rank sketch whose rank error is ≤ 1/accuracy) is
   * asserted to land inside the EXACT [p−tol, p+tol] quantile bracket,
   * computed in the same aggregation. The emitted row carries the exact
   * quantiles (cross-engine comparable) plus one boolean per p — an
   * engine-computed invariant an external oracle asserts TRUE without
   * replicating the sketch. At 100 TB the sketch is the only affordable
   * option (bounded memory, one pass, mergeable partials); this gate is
   * what licenses swapping it in for the exact percentile.
   */
  def approxQuantileGate(df: DataFrame, groupCols: Seq[String], valueCol: String,
                         ps: Seq[Double], accuracy: Int = 1000,
                         tol: Double = 0.02): DataFrame = {
    require(tol >= 1.0 / accuracy,
      s"tolerance $tol is tighter than the sketch's rank-error bound ${1.0 / accuracy}")
    val aggs = ps.flatMap { p =>
      val tag = s"p${math.round(p * 100)}"
      val lo = math.max(0.0, p - tol)
      val hi = math.min(1.0, p + tol)
      Seq(
        expr(s"percentile($valueCol, $p)").as(tag),
        (expr(s"approx_percentile($valueCol, $p, $accuracy)")
          .between(expr(s"percentile($valueCol, $lo)"),
            expr(s"percentile($valueCol, $hi)"))).as(s"ok_$tag"))
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Population-stability-index drift between a BASELINE window and a
   * CURRENT window of the same metric — the distribution-drift alarm a
   * continuously-ingesting pipeline runs day over day (PSI ≳ 0.2 is the
   * conventional "investigate" line).
   *
   * Bin edges are fixed-width over the BASELINE's [min, max] (computed
   * as a one-row aggregate and broadcast, so current-day outliers clamp
   * into the edge bins instead of silently re-binning history). Counts
   * are Laplace-smoothed (+0.5 per bin) so an empty bin cannot produce
   * ±∞; psi = Σ (p_cur − p_base)·ln(p_cur/p_base). Two partial-agg'd
   * groupBys and a ≤nBins-row join — nothing scales with row count but
   * the scans.
   */
  def psiDrift(baseline: DataFrame, current: DataFrame, valueCol: String,
               nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "psiDrift needs at least 2 bins")
    val edges = baseline.agg(min(col(valueCol)).cast("double").as("lo"),
      max(col(valueCol)).cast("double").as("hi"))
    def binned(df: DataFrame) = df
      .crossJoin(broadcast(edges))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0)) // degenerate: single bin
          .otherwise(least(greatest(
            floor((col(valueCol) - col("lo")) * nBins / (col("hi") - col("lo"))),
            lit(0)), lit(nBins - 1))).cast("int"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val b = binned(baseline).withColumnRenamed("n", "n_base")
    val c = binned(current).withColumnRenamed("n", "n_cur")
    // dense bin frame so bins empty on BOTH sides still smooth identically
    val bins = edges.sparkSession.range(nBins).select(col("id").cast("int").as("bin"))
    val perBin = bins.join(b, Seq("bin"), "left").join(c, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = perBin.agg(sum("n_base").as("t_base"), sum("n_cur").as("t_cur"))
    val pb = (col("n_base") + 0.5) / (col("t_base") + 0.5 * nBins)
    val pc = (col("n_cur") + 0.5) / (col("t_cur") + 0.5 * nBins)
    perBin.crossJoin(broadcast(totals))
      .agg(max("t_base").as("n_base"), max("t_cur").as("n_cur"),
        sum((pc - pb) * log(pc / pb)).as("psi"))
  }

  /**
   * Two-sample Kolmogorov–Smirnov statistic between two groups of a
   * numeric metric: D = sup_v |F_a(v) − F_b(v)| — the EXACT,
   * binning-free companion to [[psiDrift]] (PSI depends on bin choice;
   * KS does not, and feeds the standard √((n_a+n_b)/(n_a·n_b))
   * significance thresholds). Emits one row: (ks_d, n_a, n_b); null D
   * when either group is empty.
   *
   * Shape: per-value counts are one partial-agg'd groupBy; the
   * cumulative sums then run over the DISTINCT value set — fine for
   * the metrics this screens (scores, lengths, counts have bounded
   * cardinality). That contract is ENFORCED, not just documented: an
   * approximate distinct count refuses (like simhashParity's maxDocs
   * gate) when the value set would overflow `maxDistinct` into one
   * giant single-key window. For a continuous metric, pass
   * `quantizeStep` — values snap to that grid first (the statistic
   * becomes KS of the gridded metric: D shifts by at most the CDF mass
   * inside one step, which is the resolution you chose to care about).
   */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             groupA: String, groupB: String,
             maxDistinct: Long = 2000000L,
             quantizeStep: Option[Double] = None): DataFrame = {
    require(maxDistinct > 0, "ksTest needs a positive maxDistinct")
    quantizeStep.foreach(s => require(s > 0, "ksTest quantizeStep must be > 0"))
    val v = quantizeStep
      .map(s => floor(col(valueCol).cast("double") / s + 0.5) * s)
      .getOrElse(col(valueCol))
    val inScope = df.filter(col(groupCol).isin(groupA, groupB))
    // cardinality gate: one cheap approx-distinct action (±~2%); the
    // margin below absorbs the estimator error at the boundary
    val approxN = inScope.agg(
      approx_count_distinct(v, 0.02).as("n")).head.getLong(0)
    require(approxN <= maxDistinct + maxDistinct / 10,
      s"ksTest: ~$approxN distinct values of '$valueCol' exceeds " +
        s"maxDistinct=$maxDistinct — the cumulative window would see them " +
        "all in one task. Pass quantizeStep to grid the metric, or raise " +
        "the ceiling deliberately.")
    val counts = inScope
      .groupBy(v.as("v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    // the single-task cumulative pass IS the CDF's plan — its size is
    // enforced by the cardinality gate above, so WindowExec's empty-spec
    // warning is benign here (driver mains quiet that logger, Harness.driverSession)
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = counts.agg(sum("ca").cast("double").as("na"),
      sum("cb").cast("double").as("nb"))
    counts
      .withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
      .crossJoin(broadcast(tot))
      .agg(
        max(when(col("na") > 0 && col("nb") > 0,
          abs(col("cuma") / col("na") - col("cumb") / col("nb")))).as("ks_d"),
        max(col("na")).cast("long").as("n_a"),
        max(col("nb")).cast("long").as("n_b"))
  }

  /**
   * Mann–Whitney U (Wilcoxon rank-sum) two-sample test with the normal
   * approximation and EXACT tie correction — the location-shift
   * companion to [[ksTest]] (KS asks "are the distributions different
   * anywhere"; U asks the release-gate question "did the metric
   * systematically SHIFT between control and treatment / yesterday and
   * today", robustly, with no normality assumption). U = R_a −
   * n_a(n_a+1)/2 from tie-AVERAGED ranks; z = (U − n_a·n_b/2)/σ with
   * σ² = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1))) over tie-group sizes t.
   *
   * Same plan discipline and the same ENFORCED cardinality gate as
   * ksTest: one partial-agg'd groupBy onto distinct values (per-group
   * counts ride along), the rank window runs over distinct-value rows
   * only, everything downstream is a 1-row rollup. All-tied input
   * (σ = 0) and empty groups surface null z — undefined, not 0.
   */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
                   groupA: String, groupB: String,
                   maxDistinct: Long = 2000000L,
                   quantizeStep: Option[Double] = None): DataFrame = {
    require(maxDistinct > 0, "mannWhitneyU needs a positive maxDistinct")
    quantizeStep.foreach(s => require(s > 0, "quantizeStep must be > 0"))
    val v = quantizeStep
      .map(s => floor(col(valueCol).cast("double") / s + 0.5) * s)
      .getOrElse(col(valueCol))
    val inScope = df.filter(col(groupCol).isin(groupA, groupB) &&
      col(valueCol).isNotNull)
    val approxN = inScope.agg(
      approx_count_distinct(v, 0.02).as("n")).head.getLong(0)
    require(approxN <= maxDistinct + maxDistinct / 10,
      s"mannWhitneyU: ~$approxN distinct values of '$valueCol' exceeds " +
        s"maxDistinct=$maxDistinct — pass quantizeStep or raise the " +
        "ceiling deliberately.")
    val counts = inScope
      .groupBy(v.as("v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val t = col("ca") + col("cb")
    val ranked = counts
      .withColumn("_cum", coalesce(sum(col("ca") + col("cb")).over(w), lit(0L)))
      .withColumn("_rk", col("_cum") + (t + 1) / lit(2.0))
    ranked.agg(
        sum(col("ca")).cast("double").as("na"),
        sum(col("cb")).cast("double").as("nb"),
        sum(col("ca") * col("_rk")).as("ra"),
        sum(t * t * t - t).cast("double").as("ties"))
      .select(
        when(col("na") === 0 || col("nb") === 0, lit(null))
          .otherwise(col("ra") - col("na") * (col("na") + 1) / 2).as("u"),
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        when(col("na") === 0 || col("nb") === 0, lit(null)).otherwise({
          val n = col("na") + col("nb")
          val varU = col("na") * col("nb") / 12.0 *
            ((n + 1) - col("ties") / (n * (n - 1)))
          when(varU <= 0, lit(null))
            .otherwise((col("ra") - col("na") * (col("na") + 1) / 2 -
              col("na") * col("nb") / 2) / sqrt(varU))
        }).as("z"))
  }

  /**
   * Isotonic regression per group by pool-adjacent-violators — the
   * monotone calibration-curve fit (a classifier's score→probability
   * map must be nondecreasing or a threshold means nothing; the
   * binned reliability table of calibrationBins DESCRIBES miscalibration,
   * this FIXES it). Points with equal x pool to their weighted mean
   * first (one partial-agg'd groupBy — PAV's required tie treatment),
   * then PAV runs per group via `mapGroups` — like mmrRerank, by
   * necessity: a stack of merging blocks has no Catalyst form, and
   * groups parallelize independently with no shuffle beyond the
   * group-by. The per-group contract is ENFORCED: distinct-x count per
   * group refuses past `maxGroup` (score-cardinality-sized in the
   * calibration use; pass parity-rounded scores). Output: one row per
   * (group, distinct x) with the pooled mean and the fitted
   * nondecreasing value.
   */
  def isotonicFit(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String, maxGroup: Long = 1000000L): DataFrame = {
    require(maxGroup > 0, "isotonicFit needs a positive maxGroup")
    val spark = df.sparkSession
    import spark.implicits._
    val pooled = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol), col(xCol).cast("double").as("_x"))
      .agg(sum(col(yCol).cast("double")).as("_sy"), count(lit(1)).as("_n"))
    val biggest = pooled.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .agg(max("n")).head.get(0)
    val biggestN = Option(biggest).fold(0L)(_.asInstanceOf[Long])
    require(biggestN <= maxGroup,
      s"isotonicFit: a group holds $biggestN distinct x values > " +
        s"maxGroup=$maxGroup — round the x axis (calibration passes " +
        "parity-rounded scores) or raise the ceiling deliberately")
    val fit = pooled
      .select(col(groupCol).cast("string").as("_g"), col("_x"),
        col("_sy"), col("_n"))
      .as[(String, Double, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val pts = it.toArray.sortBy(_._2)
        // PAV stack: blocks of (weight, ysum, span); merge while the top
        // block's mean undercuts its predecessor's
        val w = new scala.collection.mutable.ArrayBuffer[Double]
        val s = new scala.collection.mutable.ArrayBuffer[Double]
        val span = new scala.collection.mutable.ArrayBuffer[Int]
        pts.foreach { case (_, _, sy, n) =>
          w += n.toDouble; s += sy; span += 1
          while (w.length >= 2 &&
            s(s.length - 1) / w(w.length - 1) <
              s(s.length - 2) / w(w.length - 2)) {
            val i = w.length - 2
            w(i) += w.remove(i + 1); s(i) += s.remove(i + 1)
            span(i) += span.remove(i + 1)
          }
        }
        val out = new scala.collection.mutable.ArrayBuffer[(String, Double, Double)]
        var idx = 0
        for (b <- w.indices; _ <- 0 until span(b)) {
          out += ((g, pts(idx)._2, s(b) / w(b)))
          idx += 1
        }
        out
      }
      .toDF("_g", "_x", "y_fit")
    pooled
      .withColumn("_g", col(groupCol).cast("string"))
      .join(fit, Seq("_g", "_x"))
      .select(col(groupCol), col("_x").as(xCol),
        col("_n").as("n"), (col("_sy") / col("_n")).as("y_mean"),
        col("y_fit"))
  }

  /**
   * One-step HUBER robust mean per group (W-estimator from the median):
   * the location number that survives the corrupted rows a plain mean
   * cannot and keeps the efficiency a plain median throws away. Start
   * at the group median, scale by the NORMALIZED MAD — σ̂ = MAD/0.6745,
   * the consistent Gaussian σ estimate, which is the unit the default
   * k = 1.345 (the 95%-efficiency Huber constant) is calibrated in (raw
   * MAD would downweight ~48% more aggressively than the cited
   * estimator) — downweight each point by the Huber ψ —
   * w = min(1, k·σ̂/|v − med|) — and report the weighted mean (one reweighting step: deterministic, engine-replayable, and
   * already 90%+ of the full IRLS estimator's benefit). Median and MAD
   * are positional (average of the two middle order statistics — the
   * theilSen convention) over group-partitioned windows; a zero-MAD
   * group (≥half the points identical) returns the median itself.
   * Two window passes + one partial-agg'd rollup, all partitioned by
   * the group keys.
   */
  def huberMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                k: Double = 1.345): DataFrame = {
    require(groupCols.nonEmpty, "huberMean needs group keys (lit-tag one)")
    require(k > 0, s"huberMean needs k > 0, got $k")
    val gks = groupCols.map(col)
    val v = col(valueCol).cast("double")
    def positionalMedian(in: DataFrame, c: Column, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(gks: _*).orderBy(c)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(gks: _*)
      in.withColumn("_mrn", row_number().over(w))
        .withColumn("_mn", count(c).over(wAll))
        .withColumn(out,
          avg(when(col("_mrn") === floor((col("_mn") + 1) / 2.0) ||
            col("_mrn") === floor(col("_mn") / 2.0) + 1, c)).over(wAll))
        .drop("_mrn", "_mn")
    }
    val withMed = positionalMedian(df.filter(v.isNotNull), v, "_med")
    val withMad = positionalMedian(withMed, abs(v - col("_med")), "_mad")
    withMad
      .withColumn("_w",
        // ANSI guards: a point AT the median gets full weight (its
        // residual is 0 — the k·MAD/0 division must never evaluate)
        when(col("_mad") === 0.0 || abs(v - col("_med")) === 0.0, lit(1.0))
          .otherwise(least(lit(1.0),
            lit(k) * (col("_mad") / lit(0.6745)) / abs(v - col("_med")))))
      .groupBy(gks: _*)
      .agg(count(lit(1)).as("n"),
        max(col("_med")).as("median"),
        max(col("_mad")).as("mad"),
        when(max(col("_mad")) === 0.0, max(col("_med")))
          .otherwise(sum(col("_w") * v) / sum(col("_w"))).as("huber_mean"))
  }

  /**
   * Welch's t-test between two groups of a numeric metric — the
   * parametric companion to [[mannWhitneyU]] (U detects any location
   * shift; Welch's t quantifies the MEAN difference in its own units
   * with unequal variances allowed — the form that is safe when the
   * two sides have different spread, which control/treatment and
   * yesterday/today almost always do). t = (x̄_a − x̄_b)/√(s²_a/n_a +
   * s²_b/n_b), with the Welch–Satterthwaite effective degrees of
   * freedom riding along. Moments come from ONE partial-agg'd pass of
   * explicit sums (the zscore discipline: sum / sum-of-squares / count
   * reproduce identical doubles in any engine; engine-native variance
   * does not). Undefined cases surface null: a side with n < 2, or
   * both variances exactly 0.
   */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val isA = col(groupCol) === groupA
    val m = df.filter(col(groupCol).isin(groupA, groupB) && v.isNotNull)
      .agg(
        sum(when(isA, v)).as("sa"), sum(when(isA, v * v)).as("qa"),
        count(when(isA, v)).cast("double").as("na"),
        sum(when(!isA, v)).as("sb"), sum(when(!isA, v * v)).as("qb"),
        count(when(!isA, v)).cast("double").as("nb"))
    val va = (col("qa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)
    val vb = (col("qb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
    val sea = va / col("na")
    val seb = vb / col("nb")
    val defined = col("na") >= 2 && col("nb") >= 2
    m.select(
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      when(col("na") > 0, col("sa") / col("na")).as("mean_a"),
      when(col("nb") > 0, col("sb") / col("nb")).as("mean_b"),
      when(defined && (sea + seb) > 0,
        (col("sa") / col("na") - col("sb") / col("nb")) / sqrt(sea + seb))
        .as("t"),
      when(defined && sea + seb > 0 &&
        (sea * sea / (col("na") - 1) + seb * seb / (col("nb") - 1)) > 0,
        (sea + seb) * (sea + seb) /
          (sea * sea / (col("na") - 1) + seb * seb / (col("nb") - 1)))
        .as("dof"))
  }

  /**
   * Jensen–Shannon divergence between two categorical distributions —
   * the bounded, symmetric drift number for DISCRETE mixes (event
   * types, languages, sources) where [[psiDrift]]'s binning and
   * smoothing don't apply: JSD = ½KL(p‖m) + ½KL(q‖m), m = (p+q)/2,
   * always finite (a category present on one side only contributes
   * ½p·ln2, never infinity — the property KL itself lacks), 0 =
   * identical, ln 2 = disjoint support. Emitted in nats with the
   * bits twin riding along (mixture-design papers quote bits).
   * One partial-agg'd groupBy onto categories with per-side counts,
   * margin-sized rollups after; empty sides surface null.
   */
  def jsDivergence(df: DataFrame, keyCol: String, groupCol: String,
                   groupA: String, groupB: String): DataFrame = {
    val counts = df.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(keyCol).as("k"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum("ca").cast("double").as("na"),
      sum("cb").cast("double").as("nb"))
    counts.crossJoin(broadcast(tot))
      // ANSI guard: an empty side would divide by zero here; the final
      // aggregate nulls the divergence in that case anyway
      .withColumn("p", when(col("na") > 0, col("ca") / col("na")))
      .withColumn("q", when(col("nb") > 0, col("cb") / col("nb")))
      .withColumn("m", (col("p") + col("q")) / 2)
      .agg(
        max(col("na")).cast("long").as("n_a"),
        max(col("nb")).cast("long").as("n_b"),
        when(max(col("na")) === 0 || max(col("nb")) === 0, lit(null))
          .otherwise(
            sum(when(col("p") > 0, col("p") * log(col("p") / col("m")))
              .otherwise(0.0)) / 2 +
              sum(when(col("q") > 0, col("q") * log(col("q") / col("m")))
                .otherwise(0.0)) / 2).as("jsd"))
      .withColumn("jsd_bits", col("jsd") / math.log(2.0))
  }

  /**
   * Keyed reconciliation diff between two table snapshots: row counts by
   * status — `only_left` / `only_right` / `changed` / `same` — via ONE
   * full-outer join on the key with null-safe payload comparison (the
   * migration/backfill validation the reference runs as paired Athena
   * count scripts, generalized to row granularity).
   */
  def tableDiff(left: DataFrame, right: DataFrame, keys: Seq[String],
                compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "tableDiff needs at least one compare column")
    val l = left.select((keys ++ compareCols).map(col): _*).alias("l")
    val r = right.select((keys ++ compareCols).map(col): _*).alias("r")
    val joined = l.join(r, keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _),
      "full_outer")
    val lKey = col(s"l.${keys.head}")
    val rKey = col(s"r.${keys.head}")
    val same = compareCols.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _)
    joined.select(
        when(rKey.isNull && lKey.isNotNull, "only_left")
          .when(lKey.isNull && rKey.isNotNull, "only_right")
          .when(same, "same").otherwise("changed").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_rows"))
  }

  /**
   * Per-group robust outlier flag via median absolute deviation — the
   * MAD test survives the very outliers it hunts (mean/stddev z-scores
   * get dragged by them; reference's clamping at
   * common_functions_raw.py:103 is the fixed-band cousin). A value is
   * flagged when |x − median| > k·1.4826·MAD (1.4826 scales MAD to σ
   * under normality; k=3 is the usual line). MAD = 0 (over half the
   * group identical) degenerates to "anything ≠ median is an outlier",
   * the standard convention.
   *
   * Two exact grouped percentiles and two key-joins — both shuffles key
   * on the (high-cardinality) group columns; nothing is driver-side.
   * Same interpolation as DuckDB `quantile_cont`, so oracle-comparable.
   */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Double = 3.0): DataFrame = {
    val gc = groupCols.map(col)
    val med = df.groupBy(gc: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val withDev = df.join(med, groupCols)
      .withColumn("abs_dev", abs(col(valueCol) - col("med")))
    val mad = withDev.groupBy(gc: _*)
      .agg(expr("percentile(abs_dev, 0.5)").as("mad"))
    withDev.join(mad, groupCols)
      .withColumn("is_outlier", col("abs_dev") > lit(k * 1.4826) * col("mad"))
  }

  /**
   * Per-column profile — the "what is in this table" pass a pipeline
   * runs before trusting a new feed: rows, nulls, distincts, and a
   * min/max/avg summary (of the value for numeric columns, of the
   * string length for text columns — length is engine-portable where
   * float formatting is not).
   *
   * One UNION branch per column (same Expand-avoidance rationale as
   * [[approxDistinctGate]]): each branch is a pruned single-column scan
   * with a clean two-phase distinct. |cols| passes, each reading one
   * column's pages — at 100 TB this is the cheapest exact shape.
   */
  def columnProfile(df: DataFrame, numericCols: Seq[String],
                    stringCols: Seq[String]): DataFrame = {
    def branch(c: String, measure: org.apache.spark.sql.Column) =
      df.select(measure.as("m"), col(c).as("raw"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("raw").isNull, 1)).as("n_null"),
          countDistinct(col("raw")).as("n_distinct"),
          min(col("m")).as("min_v"),
          max(col("m")).as("max_v"),
          avg(col("m")).as("avg_v"))
        .select(lit(c).as("col_name") +: Seq("n_rows", "n_null",
          "n_distinct", "min_v", "max_v", "avg_v").map(col): _*)
    val branches =
      numericCols.map(c => branch(c, col(c).cast("double"))) ++
        stringCols.map(c => branch(c, length(col(c)).cast("double")))
    require(branches.nonEmpty, "columnProfile needs at least one column")
    branches.reduce(_ unionAll _)
  }

  /**
   * Piggyback DQ counters onto an existing job via `observe`: row count
   * and per-column null counts are collected as the frame's consumer
   * action runs — NO extra pass over the data (the reference recomputes
   * its summary stats with a second scan; at 100 TB that scan is free
   * here). Read the metrics from the [[org.apache.spark.sql.Observation]]
   * after any action on the returned frame.
   */
  def observed(df: DataFrame, observation: org.apache.spark.sql.Observation,
               nullCheckCols: Seq[String]): DataFrame = {
    val metrics = count(lit(1)).as("n_rows") +:
      nullCheckCols.map(c => count(when(col(c).isNull, 1)).as(s"null_$c"))
    df.observe(observation, metrics.head, metrics.tail: _*)
  }

  /**
   * Sketch rollup: distinct-count re-aggregation WITHOUT rescanning raw
   * data — per-day DataSketches HLL sketches union up to per-month
   * counts. This is the 100 TB reporting pattern the raw→curated
   * pipelines feed: the fact table keeps a few-KB sketch per (day,
   * dimension) and every coarser rollup (month, quarter, ad-hoc date
   * range) is a sketch UNION over already-aggregated rows — the raw
   * events are read exactly once, ever.
   *
   * The gate PROVES the algebra instead of trusting it. HLL merge is
   * lossless at the REGISTER level (union takes the per-register max —
   * the same state one pass builds), but the ESTIMATE is not identical:
   * a sketch built by direct updates keeps its HIP (historical inverse
   * probability) estimator, while a union must fall back to the
   * composite estimator (measured here: 1494 vs 1488 on 1500 true
   * distincts — both well inside the lgK=12 rsd). So `rollup_ok`
   * asserts the unioned estimate agrees with the single-pass estimate
   * within `mergeTolerance` (far tighter than the sketch's own error
   * bound — a broken merge path diverges wildly, an estimator switch
   * does not), and `approx_ok` bounds the estimate against the exact
   * distinct count computed on gate data only.
   */
  def sketchRollup(df: DataFrame, tsCol: String, keyCol: String,
                   dims: Seq[String] = Nil,
                   lgK: Int = 12, tolerance: Double = 0.05,
                   mergeTolerance: Double = 0.02): DataFrame = {
    val days = df
      .withColumn("month", date_trunc("month", col(tsCol)).cast("date"))
      .withColumn("day", to_date(col(tsCol)))
    val coarse = ("month" +: dims).map(col)
    val daily = days.groupBy((col("day") +: coarse): _*)
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("sk"))
    val rolled = daily.groupBy(coarse: _*)
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), lit(false))).as("n_rollup"))
    val direct = days.groupBy(coarse: _*)
      .agg(hll_sketch_estimate(
          hll_sketch_agg(col(keyCol), lit(lgK))).as("n_direct"),
        countDistinct(col(keyCol)).as("n_exact"))
    // null-SAFE join keys: a NULL dimension value is a legitimate group
    // (both aggregates emit it) — an EqualTo join would silently drop
    // its rollup row, undercounting exactly the bucket most likely to
    // hide data-quality problems. Both sides share the `days` lineage,
    // so qualify them through explicit aliases: `rolled(c) <=> direct(c)`
    // would resolve only via Spark's plan-id disambiguation (and logs a
    // "trivially true equals predicate" warning per key).
    val cond = ("month" +: dims)
      .map(c => col(s"r.$c") <=> col(s"d.$c")).reduce(_ && _)
    rolled.alias("r").join(direct.alias("d"), cond)
      .select((("month" +: dims).map(c => col(s"r.$c")) :+ col("n_exact") :+
        (abs(col("n_rollup") - col("n_direct")) <=
          greatest(col("n_direct").cast("double") * mergeTolerance, lit(1.0)))
          .as("rollup_ok") :+
        (abs(col("n_rollup") - col("n_exact")) <=
          col("n_exact").cast("double") * tolerance).as("approx_ok")): _*)
  }

  /**
   * Quantile rollup — the percentile twin of [[sketchRollup]]: per-(day,
   * dim) KLL sketches (a few KB each) merge up to per-(month, dim)
   * quantile estimates WITHOUT rescanning raw rows. Spark's own
   * `approx_percentile` state is not re-aggregatable, so without this a
   * monthly p95 over a 100 TB fact table re-reads the raw events; with
   * it the month (or quarter, or ad-hoc range) is a sketch union over
   * day rows.
   *
   * The gate is a RANK band, which is what KLL actually guarantees
   * (normalized rank error, not value error): each rolled estimate for
   * quantile q must land between the EXACT percentiles at q∓`eps`. KLL
   * compaction is randomized, so estimates vary run to run within the
   * bound — the gate bits are stable, the estimates are not
   * oracle-hashable (exact values + TRUE bits go to the oracle, the
   * [[sketchRollup]] contract).
   */
  def quantileRollup(df: DataFrame, tsCol: String, valueCol: String,
                     dims: Seq[String] = Nil,
                     qs: Seq[Double] = Seq(0.5, 0.95),
                     k: Int = 200, eps: Double = 0.05): DataFrame = {
    import graft.expressions.{KllMergeAgg, KllSketchAgg, KllQuantile}
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    val days = df
      .withColumn("month", date_trunc("month", col(tsCol)).cast("date"))
      .withColumn("day", to_date(col(tsCol)))
    val coarse = ("month" +: dims).map(col)
    val daily = days.groupBy((col("day") +: coarse): _*)
      .agg(GraftBridge.column(
        KllSketchAgg(GraftBridge.expression(col(valueCol).cast("double")), k)
          .toAggregateExpression()).as("sk"))
    val rolled = daily.groupBy(coarse: _*)
      .agg(GraftBridge.column(
        KllMergeAgg(GraftBridge.expression(col("sk")), k)
          .toAggregateExpression()).as("msk"))
      .select(coarse ++ qs.map { q =>
        GraftBridge.column(KllQuantile(GraftBridge.expression(col("msk")),
          Literal(q))).as(s"est_p${math.round(q * 100)}")
      }: _*)
    val exactAggs = qs.flatMap { q =>
      val lo = math.max(q - eps, 0.0); val hi = math.min(q + eps, 1.0)
      val p = math.round(q * 100)
      Seq(expr(s"percentile($valueCol, $q)").as(s"p${p}_exact"),
        expr(s"percentile($valueCol, $lo)").as(s"_p${p}_lo"),
        expr(s"percentile($valueCol, $hi)").as(s"_p${p}_hi"))
    }
    val direct = days.groupBy(coarse: _*)
      .agg(exactAggs.head, exactAggs.tail: _*)
    // null-safe dim join: the sketchRollup contract — a NULL dim value
    // is a legitimate group both sides emit; aliased for the same
    // shared-lineage reason as sketchRollup's gate join
    val cond = ("month" +: dims)
      .map(c => col(s"r.$c") <=> col(s"d.$c")).reduce(_ && _)
    rolled.alias("r").join(direct.alias("d"), cond)
      .select(("month" +: dims).map(c => col(s"r.$c")) ++ qs.flatMap { q =>
        val p = math.round(q * 100)
        Seq(col(s"p${p}_exact"),
          (col(s"est_p$p") >= col(s"_p${p}_lo") &&
            col(s"est_p$p") <= col(s"_p${p}_hi")).as(s"p${p}_ok"))
      }: _*)
  }

  /** 2^60 as a double — the hash-space size of the 15-hex-char (60-bit)
   * prefix both engines read off an md5. */
  private val HashSpace60 = 1152921504606846976.0d

  /**
   * KMV (bottom-k / k-minimum-values) distinct sketch: the `k`
   * lexicographically smallest md5 hashes of the column's DISTINCT
   * values (fixed-width hex compares as the 128-bit integer). Unlike
   * HLL, KMV supports set INTERSECTION estimation (Beyer et al.,
   * "On synopses for distinct-value estimation under multiset
   * operations", SIGMOD'07), which is what cross-corpus overlap needs —
   * and md5 makes the sketch bit-identical across engines (the
   * [[Sampling.hashBucket]] portability contract), so a DuckDB/Trino
   * consumer reproduces the exact same k hashes.
   *
   * Scale shape: a per-partition bounded TreeSet keeps at most `k`
   * distinct hashes per task (the same kernel as RDD.takeOrdered), so
   * the exchange moves ≤ k·numPartitions 32-char rows — the corpus is
   * scanned once, map-only, and never shuffled. mapPartitions is used
   * deliberately: a declarative bottom-k-distinct would need a window
   * over spark_partition_id(), which plans a full exchange.
   */
  def kmvSketch(df: DataFrame, elemCol: String, k: Int = 512): DataFrame = {
    val ss = df.sparkSession
    import ss.implicits._
    val hashed = df.select(md5(col(elemCol).cast("string")).as("h"))
      .filter(col("h").isNotNull).as[String]
    val kk = k
    val localTopK = hashed.mapPartitions { it =>
      val set = new java.util.TreeSet[String]()
      it.foreach { h =>
        if (!set.contains(h)) {
          if (set.size < kk) { set.add(h); () }
          else if (h.compareTo(set.last) < 0) { set.add(h); set.pollLast(); () }
        }
      }
      scala.jdk.CollectionConverters.IteratorHasAsScala(set.iterator()).asScala
    }
    localTopK.toDF("h").distinct().orderBy("h").limit(k)
  }

  /** Merge KMV sketches (same `k`): bottom-k of the union — the
   * re-aggregation path (per-shard or per-day sketches roll up without
   * rescanning raw data, the [[sketchRollup]] algebra for KMV). */
  def kmvMerge(sketches: Seq[DataFrame], k: Int = 512): DataFrame =
    sketches.reduce(_ unionAll _).distinct().orderBy("h").limit(k)

  /**
   * Overlap estimates from two KMV sketches: estimated distinct union,
   * intersection, and Jaccard. Estimator (Beyer et al. '07): with
   * `ku` = bottom-k of the sketch union, `ρ = |ku ∩ ka ∩ kb| / |ku|`
   * estimates Jaccard, and `D_union = (k−1) / U_(k)` where `U_(k)` is
   * the k-th smallest hash as a fraction of the hash space (read off
   * the first 60 bits of the md5); when the union sketch holds fewer
   * than `k` hashes it IS the distinct union, so the estimate is exact.
   * Everything is integer-derived IEEE math on bit-identical inputs —
   * a DuckDB replay produces the same doubles.
   */
  def kmvOverlapEstimate(ska: DataFrame, skb: DataFrame, k: Int = 512): DataFrame = {
    val ku = kmvMerge(Seq(ska, skb), k)
    // one membership-classified pass over the ≤k union hashes: the same
    // ρ machinery yields intersection AND both set differences (|A\B| is
    // the "how much of A is new" number a corpus-mixing decision needs)
    val flagged = ku
      .join(ska.withColumn("_a", lit(1)), Seq("h"), "left")
      .join(skb.withColumn("_b", lit(1)), Seq("h"), "left")
    val m = flagged.agg(
      count(when(col("_a") === 1 && col("_b") === 1, 1)).as("m"),
      count(when(col("_a") === 1 && col("_b").isNull, 1)).as("m_a"),
      count(when(col("_b") === 1 && col("_a").isNull, 1)).as("m_b"))
    val uagg = ku.agg(count(lit(1)).as("n_sk"), max("h").as("kth"))
    val frac = conv(substring(col("kth"), 1, 15), 16, 10).cast("long") /
      lit(HashSpace60)
    def ratio(c: org.apache.spark.sql.Column) =
      when(col("n_sk") === 0, lit(0.0))
        .otherwise(c.cast("double") / col("n_sk").cast("double"))
    m.crossJoin(uagg)
      .withColumn("d_union_raw",
        when(col("n_sk") < k, col("n_sk").cast("double"))
          .otherwise((col("n_sk") - 1).cast("double") / frac))
      .withColumn("jac_raw", ratio(col("m")))
      .select(
        floor(col("d_union_raw") + 0.5).cast("long").as("union_est"),
        floor(col("jac_raw") * col("d_union_raw") + 0.5).cast("long")
          .as("inter_est"),
        floor(ratio(col("m_a")) * col("d_union_raw") + 0.5).cast("long")
          .as("a_only_est"),
        floor(ratio(col("m_b")) * col("d_union_raw") + 0.5).cast("long")
          .as("b_only_est"),
        col("jac_raw"), col("m"), col("n_sk"))
  }

  /**
   * Measured accuracy gate for KMV overlap (the [[approxDistinctGate]]
   * pattern): exact distinct counts and intersection next to the sketch
   * estimates, plus in-tolerance bits the oracle asserts TRUE. The
   * exact side pays the distinct shuffle + join — that is the gate
   * harness; the 100 TB production path is [[kmvSketch]] per corpus
   * (map-only, k rows out) + [[kmvOverlapEstimate]] (k-row joins).
   */
  def kmvOverlapGate(a: DataFrame, b: DataFrame, elemCol: String,
                     k: Int = 512,
                     unionTolRel: Double = 0.10,
                     interTolRel: Double = 0.20,
                     jacTolAbs: Double = 0.05): DataFrame = {
    val da = a.select(md5(col(elemCol).cast("string")).as("h"))
      .filter(col("h").isNotNull).distinct()
    val db = b.select(md5(col(elemCol).cast("string")).as("h"))
      .filter(col("h").isNotNull).distinct()
    val exact = da.agg(count(lit(1)).as("n_a"))
      .crossJoin(db.agg(count(lit(1)).as("n_b")))
      .crossJoin(da.join(db, "h").agg(count(lit(1)).as("n_inter")))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
    val est = kmvOverlapEstimate(kmvSketch(a, elemCol, k),
      kmvSketch(b, elemCol, k), k)
    val r3 = (c: org.apache.spark.sql.Column) =>
      floor(c * 1000 + 0.5) / 1000
    // empty-union guard (ANSI division): both corpora empty → Jaccard 0
    // by convention, every gate trivially holds. The oracle needn't
    // mirror the guard — it only fires when there is no data to compare.
    val jacExact = when(col("n_union") === 0, lit(0.0))
      .otherwise(col("n_inter").cast("double") / col("n_union"))
    exact.crossJoin(est).select(
      col("n_a"), col("n_b"), col("n_inter"), col("n_union"),
      col("union_est"), col("inter_est"),
      col("a_only_est"), col("b_only_est"),
      r3(jacExact).as("jaccard_exact"),
      r3(col("jac_raw")).as("jaccard_est"),
      (abs(col("union_est") - col("n_union")) <=
        col("n_union").cast("double") * unionTolRel).as("union_ok"),
      (abs(col("inter_est") - col("n_inter")) <=
        greatest(col("n_inter").cast("double") * interTolRel,
          col("n_union").cast("double") / k)).as("inter_ok"),
      (abs(r3(col("jac_raw")) - jacExact) <= jacTolAbs).as("jac_ok"))
  }

  /**
   * N-WAY corpus overlap MATRIX — [[kmvOverlapEstimate]] generalized
   * from one snapshot pair to ALL pairs of a corpus-keyed table (the
   * mixture-design question is never "do A and B overlap" but "which of
   * my N sources duplicate each other"). One grouped pass builds every
   * per-corpus bottom-k sketch via the [[graft.expressions.KmvSketchAgg]]
   * kernel (the raw table is scanned ONCE, partial-agg'd, ≤ k hashes of
   * state per corpus), then the n·(n−1)/2 pair estimates are pure array
   * expressions over the k-row sketches — union bottom-k by
   * array_union + sort + slice, ρ = |ku∩a∩b|/|ku|, D_union = (k−1)/U_(k)
   * (Beyer et al. '07, the same estimator [[kmvOverlapEstimate]] uses,
   * exact whenever the union sketch is under-full). The pair join is an
   * explicit broadcast of the n-row sketch table against itself —
   * quadratic only in the CORPUS count (tens), never in the data, and
   * the md5 contract keeps every number engine-replayable.
   */
  def overlapMatrix(df: DataFrame, corpusCol: String, elemCol: String,
                    k: Int = 512): DataFrame = {
    require(k >= 2, "overlapMatrix needs k >= 2")
    import graft.expressions.KmvSketchAgg
    import org.apache.spark.sql.GraftBridge
    val sk = df
      .select(col(corpusCol).cast("string").as("corpus"),
        md5(col(elemCol).cast("string")).as("h"))
      .filter(col("corpus").isNotNull && col("h").isNotNull)
      .groupBy("corpus")
      .agg(GraftBridge.column(
        KmvSketchAgg(GraftBridge.expression(col("h")), k)
          .toAggregateExpression()).as("sk"))
    val pairs = sk.select(col("corpus").as("corpus_a"), col("sk").as("ska"))
      .join(broadcast(sk.select(col("corpus").as("corpus_b"),
        col("sk").as("skb"))), col("corpus_a") < col("corpus_b"))
      .withColumn("ku",
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("n_sk", size(col("ku")))
      .withColumn("m", size(array_intersect(
        array_intersect(col("ku"), col("ska")), col("skb"))))
    val frac = conv(substring(element_at(col("ku"), col("n_sk")), 1, 15),
      16, 10).cast("long") / lit(HashSpace60)
    pairs
      .withColumn("d_union_raw",
        when(col("n_sk") < k, col("n_sk").cast("double"))
          .otherwise((col("n_sk") - 1).cast("double") / frac))
      .withColumn("jac_raw",
        when(col("n_sk") === 0, lit(0.0))
          .otherwise(col("m").cast("double") / col("n_sk").cast("double")))
      .select(col("corpus_a"), col("corpus_b"), col("n_sk"),
        floor(col("d_union_raw") + 0.5).cast("long").as("union_est"),
        floor(col("jac_raw") * col("d_union_raw") + 0.5).cast("long")
          .as("inter_est"),
        col("jac_raw"))
  }

  /**
   * ROLLING-window distinct count — the SLIDING twin of [[sketchRollup]]
   * and the query shape behind every "7-day active users" tile: daily
   * HLL sketches union-merge over a CALENDAR range frame (rangeBetween
   * on the epoch-day ordering, so a gap in the data cannot silently
   * widen the window the way a rows frame would), giving each day its
   * trailing-window distinct estimate from day-sketch rows alone — raw
   * events are scanned once for the daily sketches, never per window.
   * A COUNT DISTINCT cannot do this (distinct state is not mergeable);
   * the sketch algebra is the entire point. The exact truth side
   * (events fan out to the ≤ `windowDays` windows covering their day —
   * a bounded w× expansion, the gate harness) rides along with an
   * in-tolerance bit, [[sketchRollup]]'s gate convention.
   *
   * Output: `(dims..., day, n_days, n_exact, approx_ok)` — `n_days`
   * counts the days PRESENT in the window (head windows are partial).
   *
   * `dims`: optional dimension keys for PER-DIMENSION rolling actives
   * ("7-day actives per country/app/plan"). The sketch window is
   * PARTITIONED BY the dims — without them the frame is a single
   * global ordering, fine for one sketch row per day but a
   * single-partition funnel the moment a dimension multiplies the
   * day rows (the `WindowExec: No Partition Defined` trap). With dims
   * the window state is (dim)-local: day-sketch rows shuffle once by
   * dim, each dim's ≤ windowDays-deep frame merges independently, and
   * the operator scales with the dimension cardinality instead of
   * serializing on one task.
   */
  def rollingDistinct(df: DataFrame, tsCol: String, keyCol: String,
                      windowDays: Int = 7, lgK: Int = 12,
                      tolerance: Double = 0.05,
                      dims: Seq[String] = Nil): DataFrame = {
    require(windowDays >= 1, s"rollingDistinct needs windowDays >= 1")
    val dimCols = dims.map(col)
    val days = df.filter(col(tsCol).isNotNull)
      .withColumn("day", to_date(col(tsCol)))
    val daily = days.groupBy(dimCols :+ col("day"): _*)
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("sk"))
      .withColumn("day_num", datediff(col("day"), to_date(lit("1970-01-01"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dimCols: _*).orderBy("day_num")
      .rangeBetween(-(windowDays - 1).toLong, 0)
    val rolled = daily
      .withColumn("n_rolling",
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)).over(w)))
      .withColumn("n_days", count(lit(1)).over(w))
    val wndKeys = dims.map(d => col(d).as(s"_w_$d")) :+ col("day")
    val evKeys = dims.map(d => col(d).as(s"_e_$d")) :+
      col("day").as("eday") :+ col(keyCol).as("k")
    val joinCond = dims.map(d => col(s"wnd._w_$d") === col(s"ev._e_$d"))
      .foldLeft(col("eday").between(date_sub(col("wnd.day"), windowDays - 1),
        col("wnd.day")))(_ && _)
    val spans = days.select(wndKeys: _*).distinct().alias("wnd")
      .join(days.select(evKeys: _*).alias("ev"), joinCond)
      .groupBy(dims.map(d => col(s"_w_$d").as(d)) :+ col("wnd.day").as("day"): _*)
      .agg(countDistinct(col("k")).as("n_exact"))
    val matchCond = dims.map(d => col(s"r.$d") === col(s"x.$d"))
      .foldLeft(col("r.day") === col("x.day"))(_ && _)
    rolled.alias("r").join(spans.alias("x"), matchCond)
      .select(dims.map(d => col(s"r.$d").as(d)) ++ Seq(
        col("r.day").as("day"), col("n_days"), col("n_exact"),
        (abs(col("n_rolling") - col("n_exact")) <=
          greatest(col("n_exact").cast("double") * tolerance, lit(1.0)))
          .as("approx_ok")): _*)
  }

  /**
   * Declarative CHECK-constraint EXPECTATIONS — the Delta/DLT
   * constraint model on plain frames: each named check is a boolean
   * Column, and a row VIOLATES a check only when it evaluates to
   * literal FALSE (SQL CHECK three-valued logic: NULL passes — "value
   * >= 0" does not condemn a null value; add an explicit IS NOT NULL
   * check when null is unacceptable).
   *
   * [[expectationsSplit]] routes rows: clean rows keep their schema,
   * quarantined rows carry a `_violations` name array — the
   * write-with-expectations pattern (write clean, land quarantine for
   * triage; compose with any LakeWriter path). One map-only pass, no
   * shuffle: the checks are row-local expressions.
   */
  def expectationsSplit(df: DataFrame, checks: Seq[(String, Column)])
      : (DataFrame, DataFrame) = {
    require(checks.nonEmpty, "expectationsSplit needs at least one check")
    val viol = array(checks.map { case (name, c) =>
      when(coalesce(c, lit(true)), lit(null)).otherwise(lit(name))
    }: _*)
    val tagged = df.withColumn("_violations", filter(viol, _.isNotNull))
    (tagged.filter(size(col("_violations")) === 0).drop("_violations"),
      tagged.filter(size(col("_violations")) > 0))
  }

  /**
   * Per-constraint violation report — `(check_name, n_violations,
   * n_rows)`, one partial-agg'd pass over the data (a 1-row aggregate
   * unpivoted driver-side into constraint rows; the data is never
   * scanned per check).
   */
  def expectationsReport(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "expectationsReport needs at least one check")
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = count(lit(1)).as("_n") +: checks.map { case (name, c) =>
      sum(when(coalesce(c, lit(true)), 0L).otherwise(1L)).as(s"_v_$name")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    checks.zipWithIndex.map { case ((name, _), i) =>
      (name, Option(row.get(i + 1)).fold(0L)(_.asInstanceOf[Long]), n)
    }.toDF("check_name", "n_violations", "n_rows")
  }

  /**
   * Benford first-digit conformance screen per group — the fabricated-
   * data / broken-feed detector for naturally-spanning positive metrics
   * (transaction amounts, file sizes, durations): organic multi-scale
   * data leads with digit d at probability log₁₀(1+1/d), while
   * hand-entered, capped, or unit-confused feeds don't. Emits per
   * group the sample size, χ² against the Benford expectation (all 9
   * digit cells, zero-observed included), and Nigrini's MAD (mean
   * |observed − expected| proportion — size-independent where χ² flags
   * everything at large n; audit folklore: MAD > 0.015 = nonconformity
   * for first digits).
   *
   * First digit = ⌊x / 10^⌊log₁₀ x⌋⌋ with the =10 wraparound clamped to
   * 1 — ⌊log₁₀ 1000⌋ evaluates to 2 in IEEE (log10 returns
   * 2.9999999999999996), making the quotient 10; the true leading digit
   * in exactly that case IS 1. Non-positive and null values drop (Benford
   * is undefined there; a feed full of zeros should fail a different
   * check). One partial-agg'd groupBy onto (group, digit) then a 9-cell
   * per-group rollup — nothing downstream scales with the data.
   */
  /**
   * LAZY twin of [[expectationsReport]] for composition inside
   * pipelines: the same `(check_name, n_violations, n_rows)` rows as a
   * plan, not an action — check names come from a literal local frame
   * (so zero-violation checks still report 0), counts from one
   * partial-agg'd pass, n_rows from a 1-row broadcast the plan already
   * pays for. Use this wherever a report frame is returned to a caller
   * who decides when (or whether) to run it; the eager variant scans at
   * call time, which a lazy pipeline must not.
   */
  def expectationsReportPlan(df: DataFrame,
                             checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "expectationsReportPlan needs at least one check")
    val spark = df.sparkSession
    import spark.implicits._
    val names = checks.map(_._1).toDF("check_name")
    val viol = array(checks.map { case (name, c) =>
      when(coalesce(c, lit(true)), lit(null)).otherwise(lit(name))
    }: _*)
    val counts = df.select(explode(filter(viol, _.isNotNull)).as("check_name"))
      .groupBy("check_name").agg(count(lit(1)).as("_nv"))
    names.join(counts, Seq("check_name"), "left")
      .crossJoin(broadcast(df.agg(count(lit(1)).as("n_rows"))))
      .select(col("check_name"),
        coalesce(col("_nv"), lit(0L)).as("n_violations"), col("n_rows"))
  }

  def benford(df: DataFrame, groupCols: Seq[String],
              valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "benford needs group keys (lit-tag one)")
    val gks = groupCols.map(col)
    val x = col(valueCol).cast("double")
    val rawD = floor(x / pow(lit(10.0), floor(log10(x))))
    val digits = df.filter(x > 0.0)
      .withColumn("_d", when(rawD === 10, lit(1)).otherwise(rawD).cast("int"))
      .groupBy(gks :+ col("_d"): _*).agg(count(lit(1)).as("_nd"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(gks: _*)
    // expected proportion per digit; zero-observed digits never appear in
    // the grouped frame, so fold their expected mass analytically:
    // chi2 = n·Σ_d (p_d − e_d)²/e_d where missing d contributes n·e_d,
    // i.e. chi2 = Σ_observed (n_d − n·e_d)²/(n·e_d) + n·Σ_missing e_d.
    // Rather than reconstruct missing digits, cross-join the 9-digit
    // frame per group — 9 rows per group, margin-sized.
    val n = sum(col("_nd")).over(wg)
    val obs = digits.withColumn("_n", n)
    val allDigits = obs.select((gks :+ col("_n")): _*).distinct()
      .crossJoin(broadcast(
        df.sparkSession.range(1, 10).select(col("id").cast("int").as("_d"))))
    val eD = log(10.0, lit(1.0) + lit(1.0) / col("_d"))
    allDigits.join(digits, groupCols :+ "_d", "left")
      .withColumn("_o", coalesce(col("_nd").cast("double"), lit(0.0)))
      .withColumn("_e", eD * col("_n"))
      .groupBy(gks: _*)
      .agg(max(col("_n")).as("n"),
        sum((col("_o") - col("_e")) * (col("_o") - col("_e")) / col("_e"))
          .as("chi2"),
        (sum(abs(col("_o") / col("_n") - eD)) / 9.0).as("mad"))
  }

  /**
   * k-anonymity risk profile over quasi-identifier columns — the
   * re-identification screen a training-data release runs BEFORE the
   * PII regexes are trusted (row 47 scrubs direct identifiers; this
   * measures whether the INDIRECT ones — zip × birth-year × segment —
   * still single people out): every row must share its full QI
   * combination with ≥ k−1 others or it is linkable. One partial-agg'd
   * groupBy onto the QI equivalence classes, then a class-frame rollup
   * (class-count-sized, never row-sized): rows at risk, classes at
   * risk, the minimum class size (the dataset's actual k), and — when a
   * sensitive column is supplied — the count of classes failing
   * l-diversity (a k-anonymous class with ONE sensitive value still
   * leaks it to anyone who can place a person in the class). NULL QI
   * values form their own class (null is a visible value to a linker).
   */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Int,
                 sensitiveCol: Option[String] = None,
                 l: Int = 2): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymity needs quasi-identifier columns")
    require(k >= 2, s"kAnonymity needs k >= 2, got $k")
    val base = sensitiveCol match {
      case Some(sc) =>
        df.groupBy(qiCols.map(col): _*)
          .agg(count(lit(1)).as("_sz"),
            countDistinct(col(sc)).as("_ls"))
      case None =>
        df.groupBy(qiCols.map(col): _*)
          .agg(count(lit(1)).as("_sz"), lit(null).cast("long").as("_ls"))
    }
    base.agg(
      lit(k).as("k"),
      sum(col("_sz")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      sum(when(col("_sz") < k, 1L).otherwise(0L)).as("risky_classes"),
      sum(when(col("_sz") < k, col("_sz")).otherwise(0L)).as("risky_rows"),
      min(col("_sz")).as("min_class_size"),
      (sensitiveCol match {
        case Some(_) => sum(when(col("_ls") < l, 1L).otherwise(0L))
        case None => lit(null).cast("long")
      }).as("low_diversity_classes"))
  }
}
