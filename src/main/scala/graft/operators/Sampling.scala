package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic, engine-portable sampling for training-data pipelines.
 *
 * `sample(fraction)` is seed- and partitioning-dependent — rerunning a
 * 100 TB job must select the SAME rows, and a DuckDB/Trino consumer must
 * be able to reproduce the split. So the sampling decision is a pure
 * function of the row key: bucket = first 32 bits of md5(key) mod
 * `buckets`; keep when bucket < fraction·buckets. md5 (unlike xxhash64)
 * is bit-identical across engines.
 */
object Sampling {

  val DefaultBuckets = 10000

  /** Stable bucket in [0, buckets) from a key column. */
  def hashBucket(key: Column, buckets: Int = DefaultBuckets): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Keep a deterministic `fraction` of rows by key hash. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
                 buckets: Int = DefaultBuckets): DataFrame =
    df.filter(hashBucket(col(keyCol), buckets) < (fraction * buckets).toLong)

  /**
   * Per-stratum deterministic sampling: each stratum value gets its own
   * keep-fraction (e.g. downsample dominant languages, keep all of rare
   * ones). Missing strata keep `defaultFraction`. The fraction lookup is
   * a literal when-chain — no join, stays in codegen.
   */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
                           fractions: Map[String, Double],
                           defaultFraction: Double = 1.0,
                           buckets: Int = DefaultBuckets): DataFrame = {
    val cut = fractions.foldLeft(lit((defaultFraction * buckets).toLong)) {
      case (els, (stratum, frac)) =>
        when(col(stratumCol) === stratum, lit((frac * buckets).toLong)).otherwise(els)
    }
    df.filter(hashBucket(col(keyCol), buckets) < cut)
  }

  /**
   * Train/validation/test split by key hash: adds a `split` column
   * ("train" / "val" / "test") that is stable across runs and engines.
   */
  def splitAssign(df: DataFrame, keyCol: String, valFraction: Double,
                  testFraction: Double, buckets: Int = DefaultBuckets): DataFrame = {
    val b = hashBucket(col(keyCol), buckets)
    val valCut = (valFraction * buckets).toLong
    val testCut = valCut + (testFraction * buckets).toLong
    df.withColumn("split",
      when(b < valCut, "val").when(b < testCut, "test").otherwise("train"))
  }

  /**
   * Leakage-safe train/val/test split: near-duplicate documents must
   * land in the SAME split — a train/val pair of near-copies leaks
   * evaluation data into training, and a doc-id-hashed split
   * ([[splitAssign]]) scatters a duplicate cluster across splits with
   * probability ≈ 1 − (1−v−t)^(k−1) per k-cluster. The split key is
   * therefore the doc's cluster id from
   * [[graft.operators.Dedup.clusterPairs]] (singletons key by their own
   * id), hashed with the exact [[splitAssign]] rule — so the split is
   * still deterministic, engine-stable, and fraction-accurate over
   * clusters.
   */
  def leakFreeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                    valFraction: Double, testFraction: Double,
                    buckets: Int = DefaultBuckets): DataFrame = {
    val cl = clusters.select(col("id").as(idCol), col("cluster_id"))
    val keyed = df.join(cl, Seq(idCol), "left")
      .withColumn("_skey", coalesce(col("cluster_id"), col(idCol)))
    splitAssign(keyed, "_skey", valFraction, testFraction, buckets)
      .drop("_skey", "cluster_id")
  }

  /**
   * Token-budget corpus selection: keep the highest-`scoreCol` documents
   * whose cumulative `weightCol` (token counts) stays within `budget` —
   * "the best N-token subset", the selection a fixed-budget training run
   * makes. Semantics are the exact greedy prefix of the global
   * (score desc, id asc) order; rows with null score or non-positive
   * weight are excluded up front.
   *
   * The naive plan is a GLOBAL ordered cumulative window — a 100 TB
   * non-starter. The scale shape here is threshold + boundary: scores
   * (expected in [0,1]; out-of-range clamps) quantize into `nBuckets`
   * buckets whose token mass pre-aggregates map-side to ≤ nBuckets rows;
   * the bucket cumsums broadcast back; every doc in a bucket that fits
   * entirely under the remaining budget is taken EN MASSE with no
   * ordering at all; only the single cutoff bucket — 1/nBuckets of the
   * corpus in expectation, ceiling ENFORCED via `maxBoundaryRows` like
   * ksTest's cardinality gate — pays an ordered prefix window to fill
   * the remainder. Bucketing is monotone in score, so the result equals
   * the global prefix row-for-row (Round8Spec asserts the equality).
   *
   * Fully lazy: constructing the frame triggers NO Spark job. The
   * `maxBoundaryRows` ceiling is an in-plan `assert_true` on the cutoff
   * bucket's broadcast row count, raised when the caller's ACTION runs
   * (surfaced inside the task failure's cause chain).
   */
  def budgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                   weightCol: String, budget: Long, nBuckets: Int = 1000,
                   maxBoundaryRows: Long = 10000000L): DataFrame = {
    require(budget >= 0 && nBuckets >= 1 && maxBoundaryRows >= 1,
      "budgetSelect needs budget >= 0, nBuckets >= 1, maxBoundaryRows >= 1")
    val W = org.apache.spark.sql.expressions.Window
    // persisted: the bucket aggregate plus BOTH selection branches read
    // this frame — without the persist the input is scanned three times
    val b = graft.CacheScope.persist(
      df.filter(col(weightCol) > 0 && col(scoreCol).isNotNull)
        .withColumn("_bk", least(greatest(floor(col(scoreCol) * nBuckets),
          lit(0.0)), lit((nBuckets - 1).toDouble)).cast("int")))
    val cum = b.groupBy("_bk")
      .agg(sum(col(weightCol)).as("_bw"), count(lit(1)).as("_bn"))
      // strictly-higher buckets' mass: ≤ nBuckets rows, benign bounded
      // single-partition window (see Harness.driverSession)
      .withColumn("_above", coalesce(sum(col("_bw")).over(
        W.orderBy(col("_bk").desc).rowsBetween(W.unboundedPreceding, -1)),
        lit(0L)))
    val tagged = b.join(broadcast(cum), "_bk")
    val full = tagged.filter(col("_above") + col("_bw") <= budget)
    // the boundary-size ceiling RIDES THE ACTION instead of running an
    // eager driver job at plan-build time (constructing this frame must
    // trigger no Spark job — the operator stays lazily composable): every
    // cutoff-bucket row carries its bucket's count `_bn` from the
    // broadcast aggregate and asserts it under the cap as it flows into
    // the prefix window. assert_true yields NULL on pass, so the isNull
    // filter keeps all rows while forcing the check to stay in the plan.
    val boundary = tagged.filter(col("_above") < budget &&
        col("_above") + col("_bw") > budget)
      .withColumn("_gate", assert_true(col("_bn") <= maxBoundaryRows,
        concat(lit("budgetSelect: cutoff bucket holds "), col("_bn"),
          lit(s" rows > maxBoundaryRows=$maxBoundaryRows — the boundary " +
            "prefix window would see them all in one task; raise nBuckets " +
            "(score ties are collapsing into one bucket) or the ceiling " +
            "deliberately"))))
      .filter(col("_gate").isNull).drop("_gate")
    val wIn = W.partitionBy("_bk")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(W.unboundedPreceding, 0)
    val bsel = boundary
      .withColumn("_cum", sum(col(weightCol)).over(wIn))
      .filter(col("_above") + col("_cum") <= budget)
      .drop("_cum")
    full.unionByName(bsel).select(df.columns.map(col): _*)
  }

  /**
   * Deterministic per-stratum cap: keep at most `maxPerStratum` rows of
   * each stratum, chosen by md5-hash order of the key — the "no more
   * than N docs per domain" guard against a single hot source flooding
   * the corpus. Hash order makes the selection a pure function of the
   * keys: stable across runs, partitionings, and engines (unlike LIMIT
   * inside a group, which is arrival-order nondeterminism).
   */
  def capPerStratum(df: DataFrame, keyCol: String, stratumCol: String,
                    maxPerStratum: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(md5(col(keyCol).cast("string")))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerStratum)
      .drop("__rn")
  }

  /**
   * [[capPerStratum]] with a PER-STRATUM cap table instead of one
   * constant — the crawl-frontier shape: caps come from a planning
   * frame (e.g. [[graft.operators.Dedup.domainDedupProfile]] mapped
   * through a budget rule — duplicate-heavy domains get smaller caps),
   * not a global knob. Same deterministic md5-of-key order within each
   * stratum, so a rerun — or the DuckDB oracle — keeps the exact same
   * rows. `caps` carries `(stratumCol, capCol)` and is
   * stratum-cardinality-sized → broadcast; strata absent from `caps`
   * are DROPPED (an unbudgeted domain keeps nothing — the explicit
   * frontier contract, not a silent default).
   */
  def capPerStratumBy(df: DataFrame, keyCol: String, stratumCol: String,
                      caps: DataFrame, capCol: String = "cap"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(md5(col(keyCol).cast("string")))
    df.withColumn("__rn", row_number().over(w))
      .join(broadcast(caps.select(col(stratumCol), col(capCol).as("__cap"))),
        Seq(stratumCol))
      .filter(col("__rn") <= col("__cap"))
      .drop("__rn", "__cap")
  }

  /**
   * Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
   * deterministic): each row gets the key ln(u)/w — a monotone transform
   * of the classic u^(1/w) — with u derived from md5 of the row key
   * (never a seed-and-partitioning-dependent rand()), and the k largest
   * keys win. P(row selected) ∝ weight, yet a rerun — or a DuckDB
   * consumer — picks the exact same rows. This is how a token-budget
   * corpus draw favors long documents without giving up reproducibility.
   *
   * Global draw (strataCols empty) plans as TakeOrderedAndProject —
   * per-partition top-k then a k-row driver merge, no full sort, no
   * single-partition window. Per-stratum draw uses a row_number window
   * keyed on the strata.
   */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, strataCols: Seq[String] = Nil,
                     buckets: Int = DefaultBuckets): DataFrame = {
    // +0.5 keeps u in (0,1): ln(0) is -inf and would make weights moot
    val u = (hashBucket(col(keyCol), buckets) + 0.5) / buckets
    val esKey = log(u) / col(weightCol).cast("double")
    val keyed = df.filter(col(weightCol) > 0).withColumn("__es", esKey)
    val picked =
      if (strataCols.isEmpty) keyed.orderBy(desc("__es"), col(keyCol)).limit(k)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(strataCols.map(col): _*)
          .orderBy(desc("__es"), col(keyCol))
        keyed.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= k).drop("__rn")
      }
    picked.drop("__es")
  }

  /**
   * PRIORITY SAMPLING (Duffield–Lund–Thorup 2007): a k-row sample that
   * gives an UNBIASED estimate of ANY subset's weight sum — the sketch
   * you keep when tomorrow's question ("how many tokens from domain X
   * in language Y?") is not known when the sample is drawn. Each row
   * gets priority q = w / u with u an md5-derived uniform in (0,1)
   * (the engine-portable sampling contract — a rerun or an external
   * engine draws the same sample); the k highest priorities win, the
   * threshold τ is the (k+1)-th priority, and each sampled row carries
   * the estimator weight ŵ = max(w, τ). For any subset S,
   * E[Σ_{i∈S∩sample} ŵ_i] = Σ_{i∈S} w_i — sum ŵ over the matching
   * sample rows and the expectation is exact; no other k-row scheme
   * has lower variance for subset sums (within a factor of the
   * optimum).
   *
   * Plan shape: one TakeOrderedAndProject for the top k+1 (per-partition
   * top-k then a (k+1)-row merge — no global sort, no single-task
   * window); τ and the final k-row cut are array math over those ≤ k+1
   * rows. Fewer than k+1 positive-weight rows → the whole input is the
   * sample and τ = 0 (ŵ = w exactly, zero estimation error —
   * census, not sample). Rows with weight ≤ 0 are excluded (they can
   * never carry estimator mass).
   */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, buckets: Int = DefaultBuckets): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (hashBucket(col(keyCol), buckets) + 0.5) / buckets
    val keyed = df.filter(col(weightCol) > 0)
      .withColumn("__q", col(weightCol).cast("double") / u)
    // ONE top-(k+1) pass; everything after is ≤ k+1 rows
    val top = graft.CacheScope.persist(
      keyed.orderBy(desc("__q"), col(keyCol)).limit(k + 1))
    val tau = top.agg(
      when(count(lit(1)) < k + 1, lit(0.0))
        .otherwise(min(col("__q"))).as("__tau"))
    top.orderBy(desc("__q"), col(keyCol)).limit(k)
      .crossJoin(broadcast(tau))
      .withColumn("w_hat",
        greatest(col(weightCol).cast("double"), col("__tau")))
      .drop("__q", "__tau")
  }

  /**
   * Data-mixing plan: the per-stratum keep fractions that turn the
   * corpus into the target mixture at the LARGEST achievable size —
   * T = min_d(n_d / w_d) rows total, stratum d keeping w_d·T of its n_d
   * (the stratum that binds keeps everything). This is how a pre-training
   * run hits "50% web / 30% code / 20% books" from skewed raw pools.
   * Strata missing from `weights` are excluded. Emits one row per
   * stratum: (stratum, n_docs, fraction).
   */
  def mixturePlan(df: DataFrame, stratumCol: String,
                  weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be positive")
    val wCol = weights.foldLeft(lit(null).cast("double")) {
      case (els, (s, w)) => when(col(stratumCol) === s, lit(w)).otherwise(els)
    }
    val counts = df.filter(col(stratumCol).isin(weights.keys.toSeq: _*))
      .groupBy(stratumCol).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", wCol)
    val tMax = counts.agg(min(col("n_docs") / col("weight")).as("t_max"))
    // clamp: the binding stratum computes w·(n/w)/n which FP-rounds to
    // 1 ± 1ulp; a fraction must never exceed 1
    counts.crossJoin(broadcast(tMax))
      .select(col(stratumCol), col("n_docs"),
        least(lit(1.0), col("weight") * col("t_max") / col("n_docs")).as("fraction"))
  }

  /**
   * Temperature (α) mixture weights over strata — the multilingual /
   * multi-source sampling rule (Devlin et al. mBERT; Conneau et al.
   * XLM-R; Raffel et al. mT5): sampling probability p_s ∝ n_s^α, α < 1
   * flattening the head so low-resource strata are not drowned by raw
   * frequency. Emits per stratum the observed share `p_raw = n_s / N`,
   * the tempered target share `p_temp = n_s^α / Σ n_t^α`, and the
   * per-document oversampling factor `boost = p_temp / p_raw` (> 1 =
   * upsample; feed `p_temp` into [[mixturePlan]]/[[mixtureSample]] or
   * `boost` into a repeat-factor loader).
   *
   * One partial-agg'd count per stratum; the Σ n^α normalizer rides a
   * broadcast single-row frame — |strata| rows end to end, any corpus
   * size.
   */
  def temperatureMixture(df: DataFrame, stratumCol: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val counts = df.filter(col(stratumCol).isNotNull)
      .groupBy(stratumCol).agg(count(lit(1)).as("n_docs"))
    val totals = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(pow(col("n_docs").cast("double"), alpha)).as("z"))
    counts.crossJoin(broadcast(totals))
      .withColumn("p_raw", col("n_docs").cast("double") / col("n_total"))
      .withColumn("p_temp",
        pow(col("n_docs").cast("double"), alpha) / col("z"))
      .withColumn("boost", col("p_temp") / col("p_raw"))
      .select(col(stratumCol), col("n_docs"), col("p_raw"), col("p_temp"),
        col("boost"))
  }

  /**
   * Apply a [[mixturePlan]]: deterministic md5-bucket sampling with each
   * stratum's computed fraction (broadcast join — the plan is |strata|
   * rows). Reproducible cross-engine like every sampler here.
   */
  def mixtureSample(df: DataFrame, keyCol: String, stratumCol: String,
                    weights: Map[String, Double],
                    buckets: Int = DefaultBuckets): DataFrame = {
    val plan = mixturePlan(df, stratumCol, weights)
      .select(col(stratumCol), col("fraction"))
    // floor, not cast: engines disagree on double→int rounding, floor is
    // floor everywhere
    df.join(broadcast(plan), Seq(stratumCol))
      .filter(hashBucket(col(keyCol), buckets) <
        floor(col("fraction") * buckets))
      .drop("fraction")
  }

  /**
   * Stratified snake-draft sharding: deal each stratum's rows into
   * `nShards` shards so every shard gets a near-equal share of
   * `weightCol` (token counts) — the training-shard writer's balance
   * problem (hash sharding balances COUNTS; a shard that drew the long
   * documents still trains slower). Rows are ranked by (weight desc,
   * id) within their stratum and dealt serpentine (1..n, n..1, …), so
   * each full round adds one row to every shard and the heaviest rows
   * spread first — per-shard weight sums differ by at most one round's
   * spread, regardless of the weight distribution's skew.
   *
   * The rank window is keyed per stratum (no global window); the
   * assignment is pure arithmetic on the rank. Deterministic and
   * engine-portable like every assignment here.
   */
  def snakeShards(df: DataFrame, idCol: String, weightCol: String,
                  strataCols: Seq[String], nShards: Int): DataFrame = {
    require(nShards >= 1, "snakeShards needs nShards >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(col(weightCol).desc, col(idCol).asc)
    val rn = row_number().over(w) - 1
    val round = floor(rn / nShards)
    val pos = rn % nShards
    df.withColumn("shard",
      when(round % 2 === 0, pos).otherwise(lit(nShards - 1) - pos).cast("int"))
  }

  /**
   * Seeded EPOCH-SHUFFLE training order: a deterministic global
   * permutation of the corpus — "reshuffle the data every epoch" at a
   * scale where collecting and shuffling is impossible. The permutation
   * key is md5(epoch:key), engine-portable like every sampling decision
   * here (a DuckDB/Trino consumer reproduces the exact order), different
   * per epoch, and uncorrelated with the corpus layout. The global rank
   * rides [[Analytics.globalRowNumber]] — a range-partitioned
   * distributed sort with per-partition index assignment, NEVER a
   * single-task unpartitioned window — and `shard = (rank−1) mod
   * nShards` deals consecutive ranks round-robin into equal-size output
   * shards, so EVERY shard is itself an unbiased shuffled sample: a
   * trainer streaming shard files in any order still sees
   * epoch-shuffled data. Output: input columns + (rank, shard).
   */
  def epochOrder(df: DataFrame, keyCol: String, epoch: Int,
                 nShards: Int = 32): DataFrame = {
    require(nShards >= 1, "epochOrder needs nShards >= 1")
    val h = md5(concat_ws(":", lit(epoch.toString), col(keyCol).cast("string")))
    Analytics.globalRowNumber(df.withColumn("_eo_h", h),
        Seq(col("_eo_h"), col(keyCol)), "rank")
      .withColumn("shard", ((col("rank") - 1) % nShards).cast("int"))
      .drop("_eo_h")
  }

  /**
   * DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
   * arXiv:2302.03169): pick the `k` raw-pool documents whose hashed
   * token distribution looks most like a target domain. Features are
   * md5-hashed tokens in `nFeatures` buckets (the paper's hashed
   * n-grams); target and raw pools each fit an add-1-smoothed
   * multinomial over the buckets; a doc's importance weight is
   * Σ_tokens [ln p̂_tgt(feat) − ln p̂_raw(feat)]; the draw is Gumbel
   * top-k — g = −ln(−ln u) with u an md5 uniform of the doc key, so the
   * "random" resample is deterministic and engine-reproducible like
   * every sampler here.
   *
   * Scale shape: tokenize once; the feature model is ≤ `nFeatures` rows
   * (one partial-agg'd groupBy over the corpus, both pools counted in
   * the same pass) and joins back BROADCAST; the per-doc sum is the
   * corpus' one shuffle; the final draw is orderBy+limit — Spark plans
   * TakeOrderedAndProject (per-partition top-k, k-row driver merge), no
   * full sort. Nothing scales with corpus size except the two
   * token-keyed passes.
   */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, k: Int, nFeatures: Int = 1024,
                 buckets: Int = DefaultBuckets): DataFrame = {
    val toks = docs.select(col(idCol).as("_id"), isTarget.as("_tgt"),
      explode(split(col(textCol), " ")).as("_token"))
      .withColumn("_feat", hashBucket(col("_token"), nFeatures))
    // persisted: ≤ nFeatures rows, but its subtree is the full corpus
    // tokenization — without the persist the totals branch and the lr
    // branch EACH replay that scan (3 corpus passes instead of the
    // fit+score 2 the technique needs)
    val feats = graft.CacheScope.persist(toks.groupBy("_feat").agg(
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("_tc"),
      sum(when(col("_tgt"), 0L).otherwise(1L)).as("_rc")))
    val totals = feats.agg(sum("_tc").as("_tt"), sum("_rc").as("_rt"))
    val lr = feats.crossJoin(broadcast(totals)).select(col("_feat"),
      (log((col("_tc") + 1.0) / (col("_tt") + nFeatures)) -
        log((col("_rc") + 1.0) / (col("_rt") + nFeatures))).as("_lr"))
    val logw = toks.filter(!col("_tgt"))
      .join(broadcast(lr), "_feat")
      .groupBy("_id").agg(sum("_lr").as("logw"))
    val u = (hashBucket(col("_id"), buckets) + 0.5) / buckets
    logw.withColumn("_gk", col("logw") - log(-log(u)))
      .orderBy(desc("_gk"), col("_id")).limit(k)
      .select(col("_id").as(idCol), col("logw"))
  }

  /**
   * DETERMINISTIC negative sampling from the smoothed unigram
   * distribution (word2vec's freq^0.75 — Mikolov '13) — the
   * contrastive-training data op: every positive (anchor, item) pair
   * gets `k` negatives drawn ∝ freq^α, deterministic via the
   * md5 sampling contract so a rerun or an external engine regenerates
   * the exact training set. Draw machinery is EXACT-INTEGER end to
   * end: item weights are milli-scaled ⌊freq^α·1000+½⌋ longs, the
   * cumulative table assigns each item a [from, to) slot, and draw j
   * for a pair targets md5(anchor:item:j) mod total — a range join
   * against the cumulative table whose engine parity cannot drift
   * (floating cum-sums would put slot BOUNDARIES at ulp mercy).
   *
   * Scale shape: the vocabulary table (item, weight, cum) is
   * vocab-sized and BROADCASTS into the range join; the cum-sum window
   * runs over distinct items only (the groupedAuc bounded-cardinality
   * discipline — a vocab is bounded by construction). Accidental hits
   * (negative == the pair's positive item) are kept — the standard
   * word2vec treatment (dropping them skews the draw; at realistic
   * vocab sizes they are rare) — but FLAGGED so a caller can filter.
   */
  def negativeSample(pairs: DataFrame, anchorCol: String, itemCol: String,
                     freqs: DataFrame, freqItemCol: String,
                     freqCol: String, k: Int,
                     alpha: Double = 0.75): DataFrame = {
    require(k >= 1, s"negativeSample needs k >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(freqItemCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val slots = freqs
      .filter(col(freqCol) > 0)
      .withColumn("_w",
        floor(pow(col(freqCol).cast("double"), alpha) * 1000 + 0.5)
          .cast("long"))
      .filter(col("_w") > 0)
      .withColumn("_from", coalesce(sum(col("_w")).over(w), lit(0L)))
      .select(col(freqItemCol).as("_neg"), col("_from"),
        (col("_from") + col("_w")).as("_to"))
    val total = slots.agg(max(col("_to")).as("_total"))
    val draws = pairs
      .select(col(anchorCol).as("_a"), col(itemCol).as("_i"))
      .crossJoin(broadcast(
        pairs.sparkSession.range(1, k + 1).select(col("id").as("_j"))))
      .crossJoin(broadcast(total))
      .withColumn("_u",
        pmod(conv(substring(md5(concat_ws(":", col("_a"), col("_i"),
          col("_j"))), 1, 15), 16, 10).cast("long"), col("_total")))
    draws.join(broadcast(slots),
        col("_u") >= col("_from") && col("_u") < col("_to"))
      .select(col("_a").as(anchorCol), col("_i").as(itemCol),
        col("_j").as("draw"), col("_neg").as("negative"),
        (col("_neg") === col("_i")).as("accidental_hit"))
  }
}
