package graft

import graft.functions.Geo
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver contract: named queries (one per SURVEY.md §2 operator) and their
 * DuckDB oracle SQL. Column names/aliases match between the two exactly.
 *
 * Data mapping (SURVEY.md §3): events.user_id ≈ MMSI, ts ≈ BaseDateTime,
 * value ≈ SOG; lat/lon derived deterministically from value so the geo
 * operators are exercised on the synthetic tables.
 *
 * Cross-engine parity rules (SURVEY.md §5): timestamps surfaced as
 * floored epoch seconds (BIGINT both sides); aggregated doubles rounded;
 * all per-entity windows ordered by (ts_sec, event_id).
 */
object SparkEntry {

  /** 3-hour session gap, in seconds (reference 3h rule). */
  private val GapSec = 10800L
  /** Movement threshold on `value` (maps the reference's SOG 0.5 kn cutoff
   * onto the synthetic value distribution). */
  private val SpeedThreshold = 50.0
  /** Incremental-window boundary (2024-01-15 UTC; data spans Jan 2024). */
  private val CutoffSec = 1705276800L
  private val CutoffDay = "2024-01-15"
  /** k·1.4826 MAD outlier cut, computed ONCE and interpolated into the
   * oracle SQL so both engines compare against the bit-identical double
   * (Scala's Double.toString round-trips; a hand-written 4.4478 literal
   * could differ by an ulp from 3.0*1.4826). */
  private val MadCut = 3.0 * 1.4826
  /** JL gate line for the 64→16 projection: distortion σ ≈ 1/√16 = 0.25,
   * and the gate takes a MAX over ~n_cands deviations, so the observed
   * max on random vectors sits around 3–4σ. The gate measures it;
   * this is the alarm line, not the expectation. */
  private val RandProjEps = 1.0
  // synthetic (untrained) embeddings truncate badly — the gate still
  // verifies the MEASUREMENT cross-engine; both sides share this eps
  private val MrlEps = 1.0

  /** Parity-safe 3-decimal rounding: floor(x*1000 + 0.5)/1000 is pure IEEE
   * arithmetic, bit-identical in Spark and DuckDB (Spark's `round` is
   * decimal HALF_UP, DuckDB's is binary — they disagree on .xxx5 values). */
  private def r3(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 1000 + 0.5) / 1000

  /** events + epoch-second and derived geo columns. */
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ts_sec", unix_timestamp(col("ts")))
      .withColumn("lat", col("value") % 180 - 90)
      .withColumn("lon", (col("value") * 7) % 360 - 180)

  /** DuckDB twin of [[ev]] used as a CTE prefix in oracle SQL. */
  private val EvCte =
    """WITH e AS (
      |  SELECT *,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      |         fmod(value, 180) - 90 AS lat,
      |         fmod(value * 7, 360) - 180 AS lon
      |  FROM events
      |)""".stripMargin

  /** DuckDB twin of the PCM fixture → [[graft.operators.Multimodal.audioFrames]]
   * path, shared by the audio oracle rows: exposes
   * `af(doc_id, frame, n_samples, energy, peak, silent)` — integer-exact
   * analytic replay of decode→frame→aggregate. */
  private val AudioFrameCte =
    """d AS (SELECT doc_id, 192 + doc_id % 192 AS n FROM documents),
      |k AS (SELECT doc_id, unnest(range(0, n)) AS k FROM d),
      |s AS (
      |  SELECT doc_id, CAST(k // 64 AS INT) AS frame,
      |         CASE WHEN doc_id % 8 = 0 OR (doc_id + k // 64) % 4 = 0
      |              THEN (doc_id * 7 + k * k) % 64 - 32
      |              ELSE (doc_id * 7 + k * k) % 4096 - 2048 END AS smp
      |  FROM k),
      |af AS (
      |  SELECT doc_id, frame, CAST(COUNT(*) AS INT) AS n_samples,
      |         CAST(SUM(smp * smp) AS BIGINT) AS energy,
      |         CAST(MAX(ABS(smp)) AS INT) AS peak,
      |         SUM(smp * smp) < COUNT(*) * 10000 AS silent
      |  FROM s GROUP BY 1, 2)""".stripMargin

  private def sessions(s: SparkSession, dir: String): DataFrame =
    Sessionize(ev(s, dir), "user_id", "ts_sec", GapSec, tieBreak = Seq("event_id"))

  /** Near-dup PPJoin pairs over documents, materialized ONCE per input dir
   * via [[SharedStage]]: five queries consume this frame (jaccard /
   * cluster / canonical / profile / leak-free split). At 100 TB the pair
   * join is a stage you run once and persist; recomputing it per consumer
   * — what these queries did through round 7 — quadruples the dominant
   * cost for identical output. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, "jaccard_pairs:documents:n=3:t=0.7")(
      Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.7))

  /** BM25 postings-with-stats index over documents, materialized ONCE
   * per input dir (q_bm25 + q_rrf_hybrid's sparse branch). */
  private def bm25SharedIndex(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, "bm25_index:documents")(
      Text.bm25Index(Tables.documents(s, dir), "doc_id", "text"))

  /** Trigram posting index, shared like [[bm25SharedIndex]]: the index
   * is a build-once probe-many artifact (that is its entire point — a
   * substring query should touch |pat|−2 posting buckets, not pay a
   * full corpus tokenization), so its build cost sits with the other
   * index builds in `_shared_stage_build`. */
  private def trgmSharedIndex(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, "trgm_index:documents")(
      Text.trigramIndex(Tables.documents(s, dir), "doc_id", "text"))

  /** Connected-component cluster labels over [[jaccardPairs]], shared the
   * same way (three consumers: cluster / canonical / split). While the
   * pairs fit under the broadcast threshold, [[Dedup.clusterPairs]]
   * answers in one union-find task over their cut and the shared stage
   * caches that task's rows; no label round runs. */
  private def dupClusters(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, "dup_clusters:documents:n=3:t=0.7")(
      Dedup.clusterPairs(jaccardPairs(s, dir), "id_a", "id_b"))

  /** Minimum spanning forest of the weighted mod-97 fixture graph,
   * materialized ONCE per input dir: the forest is the compute-once
   * read-many artifact of the single-linkage family (its entire point —
   * q_single_link cuts it at one threshold, q_dendrogram at a ladder;
   * at 100 TB you run Borůvka once and every dendrogram question is an
   * O(V) cut). */
  private def fixtureMsf(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, "msf:events_mod97:w=u7v13mod20")({
      val u = ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
        col("user_id"))
      val edges = u.select(col("a"), pmod(col("user_id") * 31 + 7, lit(97)).as("b"))
        .union(u.select(col("a"), pmod(col("user_id") * 57 + 13, lit(97)).as("b")))
      val und = edges.select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull &&
          col("u") =!= col("v")).distinct()
      val wed = und.withColumn("w",
        pmod(col("u") * 7 + col("v") * 13, lit(20)))
      Analytics.minimumSpanningForest(wed, "u", "v", "w")
    })

  // --- entity resolution over customer: weights/threshold shared between
  // the Spark queries and their oracle SQL. The total weight is the
  // EXACT Scala double (0.5+0.2+0.3 is 0.9999999999999999, not 1.0 —
  // interpolating anything else would shift every score by an ulp and
  // flip threshold-boundary pairs between engines).
  private val ErWName = 0.5
  private val ErWSeg = 0.2
  private val ErWBal = 0.3
  private val ErBalScale = 1000.0
  private val ErTotW = ErWName + ErWSeg + ErWBal
  private val ErThreshold = 0.85
  private val ErMaxBlock = 500

  /** customer + the name-prefix blocking key (first 14 chars ≈
   * "Customer#0000x" — a zip-code-like key whose cardinality grows with
   * the data, the regime where blocking stays linear). */
  private def erRecords(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .withColumn("name_blk", substring(col("c_name"), 1, 14))

  private val ErBlockCols = Seq("c_nationkey", "c_mktsegment", "name_blk")

  /** Blocked ER candidate pairs. Deliberately NOT a SharedStage: the
   * pair frame is the one ER intermediate that scales as Σ b² (5M rows
   * at sf1) and pinning it in cache is resident memory spent to save a
   * cheap block-keyed self-join — the sf1 drive OOM'd exactly there.
   * The expensive shared artifact is the SCORED-and-thresholded match
   * set ([[erMatchPairs]]), which is small by construction. */
  private def erCandidates(s: SparkSession, dir: String): DataFrame =
    EntityResolution.blockCandidates(erRecords(s, dir), "c_custkey",
      ErBlockCols, maxBlock = ErMaxBlock)

  /** Scored ER match pairs (shared by q_er_matches / q_er_entities). */
  private def erMatchPairs(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, s"er_matches:customer:t=$ErThreshold")(
      EntityResolution.matches(erRecords(s, dir), erCandidates(s, dir),
        "c_custkey", ErThreshold,
        stringCols = Seq("c_name" -> ErWName),
        exactCols = Seq("c_mktsegment" -> ErWSeg),
        numericCols = Seq(("c_acctbal", ErWBal, ErBalScale))))

  /** Scored SNM-side ER match pairs — the sorted-neighborhood twin of
   * [[erMatchPairs]], shared the same way: the fixture is deterministic
   * per dir (same records, same window, same weights/threshold), so a
   * second SharedStage key is sound, and without it q_er_agreement
   * rebuilt the entire snmCandidates→scorePairs→matches pipeline on
   * every run while the blocking side read from cache. */
  private def erSnmMatchPairs(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, s"er_matches_snm:customer:w=5:t=$ErThreshold")(
      EntityResolution.matches(Tables.customer(s, dir),
        EntityResolution.snmCandidates(Tables.customer(s, dir), "c_custkey",
          Seq("c_name", "c_custkey"), window = 5),
        "c_custkey", ErThreshold,
        stringCols = Seq("c_name" -> ErWName),
        exactCols = Seq("c_mktsegment" -> ErWSeg),
        numericCols = Seq(("c_acctbal", ErWBal, ErBalScale))))

  /** Transitive ER entity labelings, one per candidate strategy — the
   * EXPENSIVE half of the ER read path (each is a clusterPairs CC loop:
   * rounds × job latency, the cost no plan tweak removes), shared on the
   * same determinism argument as the match frames. Three consumers read
   * them — q_er_entities' collapse profile and q_er_agreement's two
   * sides — so without the stage q_er_agreement re-paid BOTH loops on
   * every run (measured ~8.5 s warm at sf0.1, two loops of it). */
  private def erBlockEntities(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, s"er_entities:customer:t=$ErThreshold")(
      EntityResolution.entities(Tables.customer(s, dir),
        erMatchPairs(s, dir).select("id_a", "id_b"), "c_custkey"))

  private def erSnmEntities(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, s"er_entities_snm:customer:w=5:t=$ErThreshold")(
      EntityResolution.entities(Tables.customer(s, dir),
        erSnmMatchPairs(s, dir).select("id_a", "id_b"), "c_custkey"))

  /** Corpus-wide NB classifier scores with labels attached — the frame
   * the whole q_ft_* read family consumes (classify / eval / auc /
   * calibration / ece). One trained model + ONE scored corpus serve all
   * five: before this stage each query re-ran BOTH full
   * tokenize+hash+explode passes (train) and the map-only score fold —
   * five trainings of the IDENTICAL model per workload (same corpus,
   * same positive rule, same buckets — deterministic per dir, the
   * [[erMatchPairs]] sharing argument verbatim). At 100 TB this IS the
   * pipeline shape: the nightly model trains once, inference
   * materializes once, and every eval/calibration/report reads the
   * scored table. `is_pos`/`source` ride along (id-unique 1:1 join,
   * row-count unchanged) so consumers also skip their per-query label
   * joins. q_curate_scored deliberately NOT on this stage: it trains on
   * the SEED slice (a different model by construction). */
  private def ftScored(s: SparkSession, dir: String): DataFrame =
    SharedStage.get(dir, "ft_scored:documents:pos=lang_en:b=1024")({
      val docs = Tables.documents(s, dir)
      val model = Text.linearClassifierTrain(docs, "text",
        col("lang") === "en", buckets = 1024)
      Text.linearClassifierScore(docs, model, "doc_id", "text", buckets = 1024)
        .join(docs.select(col("doc_id").as("id"), col("source"),
          (col("lang") === "en").as("is_pos")), Seq("id"))
    })

  /** The workload's IVFADC index over the embeddings corpus — ONE build
   * (coarse cells + residual codebooks + code table, each a SharedStage
   * entry keyed by the full parameter tuple) serving both consumers:
   * q_ann_ivfpq's recall gate and q_knn_label_ann's vote tail use
   * IDENTICAL index parameters by design, yet each used to re-train the
   * codebooks (2 Lloyd iterations × 8 subspaces, ~14 s cpu each at
   * sf0.1) inside its own query. The deployment this models trains the
   * index nightly and serves every retrieval batch from the frozen
   * artifact — the [[Similarity.pqIndexBuild]] contract, now applied to
   * the IVF-PQ shape. Scoring is [[Similarity.ivfPqScore]], expression-
   * identical to the fused ivfPqTopK, so both oracles replay unchanged. */
  private def ivfPqSharedIdx(s: SparkSession, dir: String): Similarity.IvfPqIndex = {
    // ONE snapshot signature for all three index frames: three
    // independent get() calls would each re-sign the dir, and a rewrite
    // landing between them could combine cached and rebuilt frames from
    // DIFFERENT snapshots into an internally inconsistent index
    val sig = SharedStage.snapshotSig(dir)
    Similarity.ivfPqIndexBuild(Tables.embeddings(s, dir), "vec_id",
      "embedding", dim = 64, nCells = 16, m = 8, ks = 64, iters = 2,
      share = (part, f) => SharedStage.getPinned(dir,
        s"ivfpq:embeddings:d64:c16:m8:ks64:it2:$part", sig)(f()))
  }

  /** DuckDB twin of [[erCandidates]]: blocked pairs `p` with both sides'
   * scored fields attached (the oracle of the candidate join itself). */
  private val ErCandCtes =
    s"""c AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
       |         substring(c_name, 1, 14) AS name_blk
       |  FROM customer
       |  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
       |    AND c_name IS NOT NULL
       |), okblk AS (
       |  SELECT c_nationkey, c_mktsegment, name_blk FROM c
       |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2 AND COUNT(*) <= $ErMaxBlock
       |), p AS (
       |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       |         a.c_nationkey, a.c_mktsegment, a.name_blk,
       |         a.c_name AS name_a, b.c_name AS name_b,
       |         a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
       |         a.c_acctbal AS bal_a, b.c_acctbal AS bal_b
       |  FROM c a
       |  JOIN c b ON a.c_nationkey = b.c_nationkey
       |          AND a.c_mktsegment = b.c_mktsegment
       |          AND a.name_blk = b.name_blk
       |          AND a.c_custkey < b.c_custkey
       |  JOIN okblk ok ON ok.c_nationkey = a.c_nationkey
       |               AND ok.c_mktsegment = a.c_mktsegment
       |               AND ok.name_blk = a.name_blk
       |)""".stripMargin

  /** DuckDB twin of [[erMatchPairs]] minus the threshold filter: per-field
   * sims + score, the exact IEEE fold order of
   * [[EntityResolution.scorePairs]]. */
  private val ErScoreCtes =
    s"""$ErCandCtes, sc AS (
       |  SELECT id_a, id_b,
       |    CASE WHEN name_a IS NULL AND name_b IS NULL THEN 1.0
       |         WHEN name_a IS NULL OR name_b IS NULL THEN 0.0
       |         WHEN greatest(length(name_a), length(name_b)) = 0 THEN 1.0
       |         ELSE 1.0 - CAST(levenshtein(name_a, name_b) AS DOUBLE)
       |                    / greatest(length(name_a), length(name_b)) END
       |      AS sim_c_name,
       |    CASE WHEN seg_a IS NOT DISTINCT FROM seg_b THEN 1.0 ELSE 0.0 END
       |      AS eq_c_mktsegment,
       |    CASE WHEN bal_a IS NULL AND bal_b IS NULL THEN 1.0
       |         WHEN bal_a IS NULL OR bal_b IS NULL THEN 0.0
       |         ELSE greatest(0.0, 1.0 - abs(bal_a - bal_b) / $ErBalScale) END
       |      AS num_c_acctbal
       |  FROM p
       |), scored AS (
       |  SELECT *, (sim_c_name * $ErWName + eq_c_mktsegment * $ErWSeg
       |             + num_c_acctbal * $ErWBal) / $ErTotW AS score
       |  FROM sc
       |)""".stripMargin

  /** DuckDB twin of [[sessions]]: e + session_id. */
  private val SessCte = EvCte +
    """, g AS (
      |  SELECT e.*, ts_sec - lag(ts_sec) OVER w AS gap_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
      |), sess AS (
      |  SELECT g.*, CAST(SUM(CASE WHEN gap_s > 10800 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g
      |)""".stripMargin

  /** Flagship: pricing-summary style aggregation (smoke-check on sf0.001). */
  def entry(spark: SparkSession): DataFrame =
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_rows"))

  // -------------------------------------------------------------------- //
  //  queries + oracleSql — keep the two maps in lockstep                  //
  // -------------------------------------------------------------------- //

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- analytics profile (athena_analysis_curated.sql) ---
    "q_rows_per_day" -> ((s, dir) =>
      ev(s, dir).groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_rows"))),

    "q_distinct_per_day" -> ((s, dir) =>
      ev(s, dir).groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(countDistinct(col("user_id")).as("n_users"))),

    "q_timeline" -> ((s, dir) =>
      ev(s, dir).filter(col("user_id") === 7)
        .select(col("event_id"), col("ts_sec"), col("event_type"), col("value"))),

    // --- cleansing ---
    "q_parse_ts" -> ((s, dir) => {
      val strs = ev(s, dir).select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("ts_str"))
      Cleanse.parseTimestamps(strs, "ts_str")
        .select(col("event_id"), unix_timestamp(col("ts_str")).as("parsed_sec"),
          col("year"), col("month"), col("day"))
    }),

    "q_normalize" -> ((s, dir) =>
      Cleanse.normalizeColumns(Tables.lineitem(s, dir),
          Map("l_orderkey" -> "orderkey", "l_linenumber" -> "linenumber",
            "l_quantity" -> "quantity", "l_extendedprice" -> "price"))
        .select("orderkey", "linenumber", "quantity", "price")),

    "q_empty_null" -> ((s, dir) =>
      Cleanse.emptyToNull(Tables.documents(s, dir), Seq("lang"))
        .groupBy("lang").agg(count(lit(1)).as("n"))),

    "q_clamp" -> ((s, dir) =>
      Cleanse.clampUpper(ev(s, dir), Map("value" -> 100.0))
        .select(col("event_id"), col("value").as("value_clamped"))),

    "q_valid_filter" -> ((s, dir) => {
      val pts = ev(s, dir)
        .withColumn("vlat", col("value") - 90)
        .withColumn("vlon", col("value") * 2 - 180)
      val (valid, _) = Cleanse.validSplit(pts, Cleanse.validCoords(col("vlat"), col("vlon")))
      valid.select(col("event_id"), col("vlat"), col("vlon"))
    }),

    "q_dq_stats" -> ((s, dir) =>
      Quality.summaryStats(ev(s, dir), "user_id", Seq("value", "event_type"))),

    // --- movement ---
    "q_movement_flag" -> ((s, dir) =>
      Movement.flag(ev(s, dir), "value", SpeedThreshold)
        .groupBy("movement_flag").agg(count(lit(1)).as("n"))),

    "q_state_dist" -> ((s, dir) =>
      Movement.state(ev(s, dir), "value", SpeedThreshold)
        .groupBy("movement_state").agg(count(lit(1)).as("n"))),

    // --- sessionization (voyage segmentation) ---
    "q_sessionize" -> ((s, dir) =>
      sessions(s, dir).select("event_id", "user_id", "session_id")),

    // Incremental continuity: sessionize window-1, snapshot last row per
    // user as seed, seeded-sessionize window-2 — ids must equal the
    // full-history sessionization restricted to window-2 (the oracle).
    "q_sessionize_seeded" -> ((s, dir) => {
      val e = ev(s, dir)
      val w1 = Sessionize(e.filter(col("ts_sec") < CutoffSec), "user_id", "ts_sec",
        GapSec, tieBreak = Seq("event_id"))
      val seeds = StateOps.latestPerKey(
          w1.select("user_id", "ts_sec", "event_id", "session_id"),
          Seq("user_id"), Seq("ts_sec", "event_id"))
        .withColumnRenamed("session_id", "seed_id")
        .withColumn("is_seed", lit(true))
      val w2 = e.filter(col("ts_sec") >= CutoffSec)
        .select("user_id", "ts_sec", "event_id")
        .withColumn("seed_id", lit(null).cast("long"))
        .withColumn("is_seed", lit(false))
      Sessionize.seeded(w2.unionByName(seeds), "user_id", "ts_sec", GapSec,
          "seed_id", "is_seed", tieBreak = Seq("event_id"))
        .select("event_id", "user_id", "session_id")
    }),

    "q_sessions_per_day" -> ((s, dir) =>
      sessions(s, dir).groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(countDistinct(col("user_id"), col("session_id")).as("n_sessions"))),

    "q_traj_distance" -> ((s, dir) =>
      Trajectory.segmentDistance(ev(s, dir), Seq("user_id"), "ts_sec",
          "lat", "lon", tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), r3(col("segment_km")).as("segment_km"))),

    "q_traj_sample" -> ((s, dir) => {
      val base = Movement.state(sessions(s, dir), "value", SpeedThreshold)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      Trajectory.sample(base, "user_id", "session_id", "ts_sec", "value",
          "movement_state", "day", fastSpeedThreshold = 80.0,
          fastIntervalSec = 600L, slowIntervalSec = 3600L, rowKeyCol = "event_id")
        .select("event_id", "user_id", "session_id")
    }),

    // NOTE: both roll() branches consume the same window subplan; Spark's
    // ReusedExchange already shares the shuffle, so persisting here was
    // measured SLOWER (serialization cost > recompute) — don't cache.
    // --- 7-day rolling distinct users from daily HLL sketches (the
    // sliding sketch-algebra twin of q_sketch_rollup; exact truth +
    // tolerance bit ride along) ---
    "q_rolling_distinct" -> ((s, dir) =>
      Quality.rollingDistinct(Tables.events(s, dir), "ts", "user_id",
        windowDays = 7)),

    // --- the PER-DIMENSION form: 7-day actives per event_type. The
    // sketch window is partitioned by the dim, so day-sketch rows
    // shuffle once by dim and each dim's frame merges independently —
    // the global form's single-ordering window would funnel every
    // (dim, day) sketch through one task ---
    "q_rolling_distinct_dim" -> ((s, dir) =>
      Quality.rollingDistinct(Tables.events(s, dir), "ts", "user_id",
        windowDays = 7, dims = Seq("event_type"))),

    // --- declarative CHECK-constraint expectations (Delta/DLT model:
    // NULL passes; violation = literal FALSE) — per-constraint counts
    // in one partial-agg'd pass
    "q_expectations" -> ((s, dir) =>
      Quality.expectationsReport(Tables.events(s, dir), Seq(
        "value_nonneg" -> (col("value") >= 0),
        "type_known" -> col("event_type")
          .isin("click", "view", "purchase", "signup", "error"),
        "ts_present" -> col("ts").isNotNull,
        "user_nonneg" -> (col("user_id") >= 0)))),

    // --- last-touch conversion attribution: purchases credit the most
    // recent prior click/view within 2h, else 'direct' — one user-keyed
    // window over the shared timeline, no self-join
    "q_attribution" -> ((s, dir) =>
      Analytics.lastTouch(ev(s, dir), "user_id", "ts_sec", "event_id",
        "event_type", Seq("click", "view"), "purchase", lookbackSec = 7200L)),

    // --- first-touch variant: earliest touch in the lookback, via a
    // time-RANGE window frame (the bound IS the lookback) ---
    "q_attribution_first" -> ((s, dir) =>
      Analytics.firstTouch(ev(s, dir), "user_id", "ts_sec", "event_id",
        "event_type", Seq("click", "view"), "purchase", lookbackSec = 7200L)),

    // --- INCREMENTAL VIEW MAINTENANCE: v1/v2 states carved from events
    // by pure event_id arithmetic (updates double value on id%7, deletes
    // id%11, inserts the id%5==4 slice), CDF derived via diffStates,
    // and the per-type aggregate maintained from the feed alone —
    // the oracle aggregates the v2 construction directly, proving
    // ivm(agg(v1), changes(v1→v2)) ≡ agg(v2)
    "q_ivm" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val v1 = e.filter(col("event_id") % 5 =!= 4)
      val v2 = v1.filter(col("event_id") % 11 =!= 0)
        .withColumn("value",
          when(col("event_id") % 7 === 0, col("value") * 2)
            .otherwise(col("value")))
        .unionByName(e.filter(col("event_id") % 5 === 4))
      val feed = graft.sources.StateStore.diffStates(v1, v2, Seq("event_id"))
      StateOps.ivmAggregate(
          StateOps.aggTable(v1, Seq("event_type"), Seq("value")),
          feed, Seq("event_type"), Seq("value"))
        .select(col("event_type"), col("n_rows"),
          r3(col("sum_value")).as("sum_value"), col("nv_value"))
    }),

    "q_state_merge" -> ((s, dir) => {
      val enr = sessions(s, dir).withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      def roll(df: DataFrame) = df.groupBy("user_id", "session_id")
        .agg(min("ts_sec").as("start_sec"), max("ts_sec").as("end_sec"),
          count(lit(1)).cast("double").as("n_points"), sum("value").as("sum_value"))
      val state = roll(enr.filter(col("day") < CutoffDay))
      val deltas = roll(enr.filter(col("day") >= CutoffDay))
      StateOps.mergeDeltas(state, deltas, Seq("user_id", "session_id"),
          sumCols = Seq("n_points", "sum_value"),
          minCols = Seq("start_sec"), maxCols = Seq("end_sec"))
        .select(col("user_id"), col("session_id"), col("start_sec"), col("end_sec"),
          col("n_points").cast("long").as("n_points"), r3(col("sum_value")).as("sum_value"))
    }),

    "q_monthly" -> ((s, dir) => {
      val enr = sessions(s, dir).withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val daily = Rollup.dailyFact(enr, Seq("user_id", "session_id"), "ts_sec",
        "day", Seq("value"))
      Rollup.monthlyFromDaily(daily, Seq("user_id", "session_id"), "day",
          CutoffDay, "value")
        .select(col("user_id"), col("session_id"), col("start_sec"), col("end_sec"),
          col("n_points"), r3(col("sum_value")).as("sum_value"), col("duration_hours"))
    }),

    "q_session_summary" -> ((s, dir) =>
      Rollup.sessionSummary(sessions(s, dir), Seq("user_id", "session_id"), "ts_sec", "value")
        .select(col("user_id"), col("session_id"), col("start_sec"), col("end_sec"),
          col("n_points"), col("duration_hours"),
          r3(col("sum_speed")).as("sum_value"),
          r3(col("avg_speed")).as("avg_value"))),

    "q_daily_segments" -> ((s, dir) =>
      Rollup.dailySegments(
        ev(s, dir).withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
        Seq("user_id"), "ts_sec", "day")),

    "q_daily_metrics" -> ((s, dir) =>
      Rollup.dailyMetrics(
          sessions(s, dir).withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
          Seq("user_id", "session_id"), "day", Seq("value"))
        .withColumn("day_sum_value", r3(col("day_sum_value")))),

    "q_latest_per_key" -> ((s, dir) =>
      StateOps.latestPerKey(
        ev(s, dir).select("user_id", "ts_sec", "event_id", "event_type", "value"),
        Seq("user_id"), Seq("ts_sec", "event_id"))),

    // --- geo ---
    "q_haversine" -> ((s, dir) =>
      Trajectory.segmentDistance(ev(s, dir), Seq("user_id"), "ts_sec",
          "lat", "lon", tieBreak = Seq("event_id"))
        .groupBy("user_id")
        .agg(r3(sum(col("segment_km"))).as("total_km"),
          count(col("segment_km")).as("n_segments"))),

    "q_geohash" -> ((s, dir) =>
      ev(s, dir).select(col("event_id"),
        Geo.geohash(col("lat"), col("lon"), 6).as("gh"))),

    // --- geofence: per-zone rollup over the broadcast zone circles ---
    "q_zones" -> ((s, dir) =>
      Trajectory.zoneRollup(ev(s, dir),
        s.createDataFrame(ZoneList).toDF("zone", "zone_lat", "zone_lon", "radius_km"),
        "lat", "lon", "user_id", "ts_sec")),

    // real PNG encode→decode roundtrip through javax.imageio: decoded
    // header dims, gray-channel sum, and a per-pixel content check, all
    // predictable from doc_id by the SQL oracle
    "q_multimodal" -> ((s, dir) =>
      Multimodal.imageFeatures(
          Multimodal.packImages(Tables.documents(s, dir), "doc_id"),
          verifyPixel = Some(Multimodal.referencePixel))
        .select("doc_id", "width", "height", "n_pixels", "pixel_sum", "px_ok")),

    // ViT-style patch tiling of the really-decoded PNGs; the oracle
    // derives every patch sum analytically from the reference pixel
    // function, so the codec->tile path is content-verified end to end
    "q_patchify" -> ((s, dir) =>
      Multimodal.patchify(
        Multimodal.packImages(Tables.documents(s, dir), "doc_id"),
        patchW = 8, patchH = 4)),

    // stride-2 frame sampling over a length-prefixed multi-frame payload;
    // unsampled frames are byte-skipped, sampled ones really decoded
    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.packFrames(Tables.documents(s, dir), "doc_id"), stride = 2)),

    // --- image near-dup: real PNG decode → dHash → banded Hamming
    // pairs. The fixture hash is id-predictable (md5 of the content
    // class, member bit flipped — see Multimodal.referenceDHash), so the
    // oracle replays the hash analytically and the full decode→resize→
    // gradient-sign→banded-join path is content-verified. The oracle's
    // pair join keys on the content class (ground-truth construction);
    // cross-class md5 hashes sit at Hamming ~30, P(≤3) ≈ 2.4e-15/pair ---
    "q_image_neardup" -> ((s, dir) =>
      Multimodal.imageNearDup(
        Multimodal.dHash(
          Multimodal.packDHashImages(Tables.documents(s, dir), "doc_id")),
        "doc_id", maxHamming = 3)),

    "q_spatial_grid" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("grid_lat", Geo.gridCell(col("lat"), 5.0))
        .withColumn("grid_lon", Geo.gridCell(col("lon"), 5.0))
        .groupBy("grid_lat", "grid_lon").agg(count(lit(1)).as("n"))),

    // --- dims / lookups ---
    "q_lookup_join" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir)
      val withRegion = Dims.lookupJoin(
        Dims.lookupJoin(cust, nat, "c_nationkey", "n_nationkey", "n_regionkey", "rkey"),
        reg, "rkey", "r_regionkey", "r_name", "r_name")
      withRegion.groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
          r3(avg(col("c_acctbal"))).as("avg_acctbal"))
    }),

    "q_dim_build" -> ((s, dir) =>
      Dims.buildUnionDim(
        Seq(
          Tables.nation(s, dir).select(col("n_name").as("name")) -> "nation",
          Tables.region(s, dir).select(col("r_name").as("name")) -> "region"),
        dedupKeys = Seq("name", "source"), trimCols = Seq("name"))),

    // --- dedup ---
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactKeepFirst(Tables.documents(s, dir).select("doc_id", "text"),
          Seq("text"), "doc_id")
        .select("doc_id", "n_dups")),

    // measured gate: the engine-specific hash can't be value-checked
    // externally, but its CONTRACT can — one distinct key per distinct
    // input (collision-free AND deterministic on this corpus; a
    // nondeterministic hash inflates the key count, a collision shrinks it)
    "q_hash_key" -> ((s, dir) =>
      Dedup.hashKey(Tables.documents(s, dir), Seq("text", "lang"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("text"), col("lang")).as("n_inputs"),
          (countDistinct(col("hash_key")) ===
            countDistinct(col("text"), col("lang"))).as("injective_ok"))),

    // quality-aware dedup: among identical texts keep the copy from the
    // highest-priority source (numeric suffix), doc_id ascending on ties
    "q_dedup_best" -> ((s, dir) =>
      Dedup.exactKeepBest(
          Tables.documents(s, dir)
            .withColumn("src_pri", regexp_extract(col("source"), "[0-9]+", 0).cast("int"))
            .select("doc_id", "text", "src_pri"),
          Seq("text"), rankCol = "src_pri", tieBreak = "doc_id")
        .select("doc_id", "src_pri", "n_dups")),

    "q_dedup_jaccard" -> ((s, dir) => jaccardPairs(s, dir)),

    // --- one-sided containment (quote/excerpt detection) ---
    "q_containment" -> ((s, dir) =>
      Dedup.containmentJoin(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), r3(col("containment")).as("containment"))),

    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numPerms = 128, bands = 32, threshold = 0.7)),

    // --- WEIGHTED (tf-multiset) near-dup: ICWS weighted MinHash
    // candidates + exact Σmin verification; the oracle is the exact
    // weighted-Jaccard join (the q_dedup_minhash pattern — verified
    // candidates make the libm-based signature irrelevant to parity) ---
    "q_dedup_wminhash" -> ((s, dir) =>
      Dedup.minhashLshWeighted(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numPerms = 128, bands = 32, threshold = 0.7)),

    // --- incremental dedup: a 10% delta probed against the archive's
    // banded index; archive text re-hashed only for candidates ---
    "q_dedup_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val archive = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      Dedup.dedupAgainstIndex(fresh,
        Dedup.minhashIndex(archive, "doc_id", "text"), archive,
        "doc_id", "text", threshold = 0.7)
    }),

    // --- incremental WEIGHTED near-dup: the same delta-vs-archive split
    // probed through the ICWS band index, candidates verified with the
    // exact Σmin/Σmax weighted Jaccard (the q_dedup_delta shape with the
    // tf-weighted kernels — repetitive variants now discriminate) ---
    "q_dedup_wdelta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val archive = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      Dedup.dedupAgainstIndexWeighted(fresh,
        Dedup.wminhashIndex(archive, "doc_id", "text"), archive,
        "doc_id", "text", threshold = 0.7)
    }),

    // measured gate: blocked simhash join vs brute-force bit_count(xor)
    // all-pairs over the same signatures — diff counts must be zero.
    // The brute side is quadratic by design, so past 20k docs it runs
    // on a deterministic md5-ordered subsample (n_docs still reports
    // the full corpus — the oracle row is tier-invariant)
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashParitySampled(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3)),

    // the PRODUCTION simhash path at full corpus scale (linear blocked
    // candidates, no quadratic gate): emits invariant booleans the
    // oracle can assert without replicating the engine hash — every
    // verified pair within the bound, ids strictly ordered, pair set
    // duplicate-free — plus the full doc count
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = graft.CacheScope.persist(
        Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(pairs.agg(
          coalesce(min(col("hamming") <= 3 && col("id_a") < col("id_b")),
            lit(true)).as("within_bound")))
        .crossJoin(
          pairs.select("id_a", "id_b").groupBy("id_a", "id_b").count()
            .agg(coalesce(min(col("count") === 1), lit(true)).as("pairs_distinct")))
    }),

    "q_dedup_cosine" -> ((s, dir) =>
      Similarity.embeddingNearDup(Tables.embeddings(s, dir), "vec_id", "embedding",
        blockCols = Seq("label"), threshold = 0.35)),

    // --- int8 quantization fidelity: max cosine deviation per query,
    // oracle replays the full quantizer bit-for-bit ---
    "q_int8" -> ((s, dir) =>
      Similarity.int8FidelityGate(Tables.embeddings(s, dir), "vec_id", "embedding",
          queryPred = col("vec_id") < 10, eps = 0.05)
        .select(col("query_id"), col("n_cands"),
          r3(col("max_abs_err")).as("max_abs_err"), col("ok"))),

    // --- JL random-projection fidelity: 64d → 16d, measured max cosine
    // deviation per query; oracle replays the literal sign matrix ---
    "q_rand_proj" -> ((s, dir) =>
      Similarity.jlFidelityGate(Tables.embeddings(s, dir), "vec_id", "embedding",
          outDim = 16, dim = 64, queryPred = col("vec_id") < 10, eps = RandProjEps)
        .select(col("query_id"), col("n_cands"),
          r3(col("max_abs_err")).as("max_abs_err"), col("ok"))),

    // --- k-means quantizer fit: 2 Lloyd rounds from the md5-pick init ---
    "q_kmeans" -> ((s, dir) =>
      Similarity.kmeansCentroids(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("cell"), col("dim"), r3(col("mean")).as("mean"))),

    // --- SemDeDup: cluster embeddings, drop within-cell near-dups ---
    "q_semdedup" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        nCells = 16, threshold = 0.35)),

    // --- Matryoshka prefix-truncation fidelity gate (64 → 16 dims) ---
    "q_mrl_gate" -> ((s, dir) =>
      Similarity.mrlFidelityGate(Tables.embeddings(s, dir), "vec_id", "embedding",
          headDim = 16, queryPred = col("vec_id") < 10, eps = MrlEps)
        .select(col("query_id"), col("n_cands"),
          r3(col("max_abs_err")).as("max_abs_err"), col("ok"))),

    // --- cross-corpus duplicated spans (exact-substring dedup regions) ---
    "q_dup_spans" -> ((s, dir) =>
      Text.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text",
        n = 8, minCount = 2)),

    // --- exact substring dedup: truncated-suffix-rank duplicated spans ---
    "q_suffix_spans" -> ((s, dir) =>
      Text.suffixSpans(Tables.documents(s, dir), "doc_id", "text",
        minLen = 12, minCount = 2)),

    // --- Gopher hard-filter rule battery over documents ---
    "q_gopher" -> ((s, dir) =>
      Text.gopherRules(Tables.documents(s, dir), "doc_id", "text",
        minWords = 30)),

    // --- WITHIN-doc repeated-span removal (map-only, no shuffle) ---
    "q_doc_span_dedup" -> ((s, dir) =>
      Text.docSpanDedup(Tables.documents(s, dir), "doc_id", "text",
        spanWords = 5)),

    // --- Zipf slope of the corpus token distribution ---
    "q_zipf" -> ((s, dir) =>
      Text.zipfSlope(Tables.documents(s, dir), "text", topN = 30)
        .select(col("n_ranks"), r3(col("slope")).as("slope"),
          r3(col("intercept")).as("intercept"))),

    // --- similarity search ---
    "q_ann_brute" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(em, em.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // measured gate: LSH retrieval scored against the exact brute-force
    // top-k — per-query recall is computed in-engine and hash-checked
    // against an oracle that replicates the hyperplane buckets
    "q_ann_lsh" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val q = em.filter(col("vec_id") < 10)
      val lsh = Similarity.lshTopK(em, q, "vec_id", "embedding", k = 5, dim = 64)
      val brute = Similarity.bruteForceTopK(em, q, "vec_id", "embedding", k = 5)
      Similarity.recallAtK(lsh, brute, q.select(col("vec_id").as("query_id")), 5)
        .select(col("query_id"), col("n_retrieved"), col("n_true"),
          r3(col("recall")).as("recall_at_5"))
    }),

    // measured gate: binary-quantization retrieval (sign-bit hamming
    // shortlist → exact-cosine rerank) scored against the brute truth;
    // the oracle replays hamming as the count of sign disagreements —
    // identical semantics without replicating the packed words
    "q_ann_binary" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val q = em.filter(col("vec_id") < 10)
      val bq = Similarity.binaryTopK(em, q, "vec_id", "embedding",
        k = 5, dim = 64, shortlist = 50)
      val brute = Similarity.bruteForceTopK(em, q, "vec_id", "embedding", k = 5)
      Similarity.recallAtK(bq, brute, q.select(col("vec_id").as("query_id")), 5)
        .select(col("query_id"), col("n_retrieved"), col("n_true"),
          r3(col("recall")).as("recall_at_5"))
    }),

    // --- sparse retrieval: BM25 top-k, query docs retrieving from the
    // corpus; ranked on the parity-rounded score (see bm25TopK scaladoc).
    // The postings-with-stats index materializes ONCE per input dir
    // (SharedStage) — q_rrf_hybrid's sparse branch reads the same frame,
    // the stage boundary a real IR pipeline persists.
    "q_bm25" -> ((s, dir) =>
      Text.bm25ScoreIndex(bm25SharedIndex(s, dir),
        Tables.documents(s, dir).filter(col("doc_id") < 5),
        "doc_id", "text", k = 10, scoreRoundDecimals = Some(3))),

    // --- trigram substring search: index build + posting-intersection
    // candidates + contains verify; exact vs the full-scan oracle ---
    "q_trgm_search" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Text.trigramSearch(docs, trgmSharedIndex(s, dir),
        "doc_id", "text", "merge batch")
    }),

    // --- batch trigram search: a pattern TABLE probes the shared index
    // as one equi-join on the trigram key (the service shape) ---
    "q_trgm_multi" -> ((s, dir) => {
      import s.implicits._
      val pats = Seq((1L, "merge batch"), (2L, "scan slow"),
        (3L, "the line sort"), (4L, "window table"))
        .toDF("pat_id", "pat_text")
      Text.trigramSearchBatch(Tables.documents(s, dir),
        trgmSharedIndex(s, dir), "doc_id", "text", pats, "pat_id", "pat_text")
    }),

    // --- content-defined chunking: O(len) rolling-hash kernel; the
    // oracle replays the per-window polynomial fold declaratively ---
    "q_cdc_chunks" -> ((s, dir) =>
      Text.cdcChunks(Tables.documents(s, dir), "doc_id", "text")),

    // --- hybrid retrieval: reciprocal-rank fusion of the sparse (BM25
    // over text) and dense (exact cosine over embeddings) rankings for
    // the same query ids — documents and embeddings share the 0..N id
    // space by construction (SURVEY §3)
    "q_rrf_hybrid" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val em = Tables.embeddings(s, dir)
      val sparse = Text.bm25ScoreIndex(bm25SharedIndex(s, dir),
          docs.filter(col("doc_id") < 5),
          "doc_id", "text", k = 20, scoreRoundDecimals = Some(3))
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(em, em.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("cand_id").as("doc_id"), col("rank"))
      Analytics.rrfFuse(Seq(sparse, dense), k = 10)
        .select(col("query_id"), col("doc_id"), r3(col("rrf")).as("rrf"),
          col("n_lists"), col("rank"))
    }),

    // --- multi-vector late-interaction (MaxSim): embeddings grouped
    // into 8-vector bags per synthetic doc; the first 3 bags query
    "q_maxsim" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
        .withColumn("mdoc", floor(col("vec_id") / 8).cast("long"))
      Similarity.maxSimTopK(em, em.filter(col("mdoc") < 3),
          "mdoc", "vec_id", "embedding", k = 5, dim = 64,
          scoreRoundDecimals = Some(3))
        .select(col("query_doc"), col("cand_doc"), col("maxsim"),
          col("n_qvecs"), col("rank"))
    }),

    // --- sketch rollup: per-(day, event_type) HLL sketches union to
    // month; rollup_ok bounds union-vs-one-pass estimate agreement
    // (see sketchRollup scaladoc), approx_ok bounds it vs exact distinct
    "q_sketch_rollup" -> ((s, dir) =>
      Quality.sketchRollup(Tables.events(s, dir), "ts", "user_id",
          dims = Seq("event_type"))
        .select(col("month"), col("event_type"), col("n_exact"),
          col("rollup_ok"), col("approx_ok"))),

    // --- quantile rollup: per-(day, event_type) KLL sketches merge to
    // month; pXX_ok asserts the rolled estimate sits inside the exact
    // rank band q∓eps (KLL compaction is randomized, so the estimates
    // themselves are not oracle-hashable — the sketchRollup contract)
    "q_quantile_rollup" -> ((s, dir) =>
      Quality.quantileRollup(Tables.events(s, dir), "ts", "value",
          dims = Seq("event_type"), qs = Seq(0.5, 0.95))
        .select(col("month"), col("event_type"),
          r3(col("p50_exact")).as("p50_exact"), col("p50_ok"),
          r3(col("p95_exact")).as("p95_exact"), col("p95_ok"))),

    // --- PERSISTED sketch store: per-(day, event_type) HLL+KLL+KMV
    // sketch rows land in a StateStore table (keyed replace), the
    // monthly rollup reads ONLY the persisted blobs — raw events
    // scanned once ever — and the gate proves store-served answers
    // match a direct raw rescan (ok bits; n_exact hash-anchors values)
    "q_sketch_store" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-q-skstore").toString
      val events = Tables.events(s, dir)
      operators.SketchStore.land(s, root, "v1",
        operators.SketchStore.dailySketches(events, "ts", "user_id",
          "value", dims = Seq("event_type")), dims = Seq("event_type"))
      operators.SketchStore.rollupGate(s, root, events, "ts", "user_id",
          "value", dims = Seq("event_type"))
        .select(col("grain"), col("event_type"), col("n_exact"),
          col("rows_ok"), col("hll_ok"), col("kmv_ok"),
          col("p50_ok"), col("p95_ok"))
    }),

    // --- cross-corpus overlap via KMV bottom-k sketches: estimated
    // union / intersection / Jaccard between the two source halves'
    // word-trigram sets, gated against the exact counts; the estimator
    // is bit-identically replayed by the oracle (md5 bottom-k is
    // engine-portable), so the estimates hash-match, not just the gates
    "q_corpus_overlap" -> ((s, dir) => {
      val d = Tables.documents(s, dir).filter(col("text").isNotNull)
      val ws = split(col("text"), " ")
      val grams = when(size(ws) >= 3,
        transform(sequence(lit(0), size(ws) - lit(3)),
          i => array_join(slice(ws, i + lit(1), lit(3)), " ")))
        .otherwise(array().cast("array<string>"))
      val srcNum = substring(col("source"), 4, 10).cast("int")
      def half(p: org.apache.spark.sql.Column) =
        d.filter(p).select(explode(grams).as("elem"))
      Quality.kmvOverlapGate(half(srcNum < 10), half(srcNum >= 10),
        "elem", k = 512)
    }),

    // --- text analysis ---
    "q_tokens" -> ((s, dir) =>
      Text.tokenCount(Tables.documents(s, dir), "text")
        .select("doc_id", "ws_tokens", "re_tokens")),

    // --- per-lang token fertility: the tokenizer/mixture-design report
    "q_fertility" -> ((s, dir) =>
      Text.fertility(Tables.documents(s, dir), "lang", "text")),

    // --- canonical text normalization (NFC + casefold + whitespace
    // collapse) ahead of content hashing; the oracle replays the same
    // recipe on DuckDB's utf8proc NFC ---
    "q_normalize_text" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(graft.functions.Strings.normalizeText(col("text")).cast("binary"))
            .as("norm_md5"),
          length(graft.functions.Strings.normalizeText(col("text")))
            .cast("long").as("norm_len"))),

    "q_quality" -> ((s, dir) =>
      Text.qualityScore(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          r3(col("avg_token_len")).as("avg_token_len"),
          r3(col("punct_ratio")).as("punct_ratio"),
          r3(col("stopword_ratio")).as("stopword_ratio"),
          r3(col("quality_score")).as("quality_score"))),

    "q_lang_id" -> ((s, dir) =>
      Text.languageId(Tables.documents(s, dir), "text")
        .groupBy("lang_id").agg(count(lit(1)).as("n"))),

    // --- n-way scored language ID (CLD-lite): per-doc argmax over the
    // 5-language pattern profiles with a confidence margin — exact
    // integer scores, oracle replays the profile constants ---
    "q_lang_id_n" -> ((s, dir) =>
      Text.languageIdScored(Tables.documents(s, dir), "text")
        .select("doc_id", "lang_pred", "score_milli", "margin_milli")),

    // --- mixture-planner integration: low-confidence predictions
    // (margin below 200 milli) quarantine to 'und' before the
    // temperature-mixture weights are computed over PREDICTED language
    // — the q_mixture_temp shape driven by the classifier instead of
    // the (unavailable-at-crawl-time) label column ---
    "q_lang_mixture" -> ((s, dir) => {
      val pred = Text.languageIdScored(Tables.documents(s, dir), "text")
        .withColumn("lang_bucket",
          when(col("margin_milli") >= 200, col("lang_pred")).otherwise("und"))
      Sampling.temperatureMixture(pred, "lang_bucket", alpha = 0.7)
        .select(col("lang_bucket"), col("n_docs"), r3(col("p_raw")).as("p_raw"),
          r3(col("p_temp")).as("p_temp"), r3(col("boost")).as("boost"))
    }),

    // measured gate: winnowing soundness + count bounds + content-
    // determinism, all oracle-derivable without replicating the hash
    "q_fingerprint" -> ((s, dir) =>
      Text.fingerprintGate(Tables.documents(s, dir), "doc_id", "text")),

    // --- dedup clustering (keep-one-per-cluster) ---
    "q_dedup_cluster" -> ((s, dir) => dupClusters(s, dir)),

    // --- fastText-style linear classifier: NB log-odds weights trained
    // in one aggregation pass (target: english docs), then map-only
    // inference — broadcast weight array + per-doc feature fold. The
    // quality-scoring family's trained-model path ---
    "q_ft_classify" -> ((s, dir) =>
      ftScored(s, dir)
        .select(col("id").as("doc_id"), r3(col("score")).as("score"),
          col("pred_pos"))),

    // --- URL canonicalization: the crawl-dedup scrub (fragment /
    // tracking-param / default-port / trailing-slash rewrites shared
    // with the oracle). URL variants are synthesized per doc with
    // IDENTICAL logic in both engines (the zone-fixture convention)
    // since the corpus text carries no URLs; the rollup shows raw
    // variants collapsing onto canonical resources ---
    "q_url_canon" -> ((s, dir) => {
      // case driver mod 3 (coprime to the source/path periods), so one
      // canonical resource really does arrive in several raw disguises
      val url = concat(lit("https://"), col("source"),
        lit(".example.com:443/p/"), pmod(col("doc_id"), lit(50)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("?utm_source=feed&id=7"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("?id=7&utm_campaign=x"))
          .otherwise(lit("/#frag")))
      Tables.documents(s, dir).select(url.as("_u"))
        .withColumn("canon_url", Text.canonicalizeUrl(col("_u")))
        .groupBy("canon_url")
        .agg(countDistinct(col("_u")).as("n_raw_variants"),
          count(lit(1)).as("n_docs"))
    }),

    // --- classifier-in-the-loop curation: train the NB linear model on
    // a SEED-labeled slice (sources src0–src3 — the "human-labeled
    // sample" a production pipeline actually has), score the FULL
    // corpus map-only, and keep docs passing BOTH the classifier
    // (pred_pos) and the heuristic quality floor — the
    // quality-classifier curation shape of every production
    // training-data pipeline (CCNet/LLaMA-style). Seed-trained scoring
    // exercises the unseen-bucket default-weight path the
    // train==score queries never hit ---
    "q_curate_scored" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val seed = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
      val model = Text.linearClassifierTrain(seed, "text",
        col("lang") === "en", buckets = 1024)
      val scored = Text.linearClassifierScore(docs, model, "doc_id", "text",
        buckets = 1024)
      val qual = Text.qualityScore(docs, "text")
        .select(col("doc_id").as("id"), col("quality_score"))
      scored.join(qual, Seq("id"))
        .filter(col("pred_pos") && col("quality_score") >= 0.3)
        .select(col("id").as("doc_id"), r3(col("score")).as("score"),
          r3(col("quality_score")).as("quality_score"))
    }),

    // --- half-life-decayed engagement features per user (feature-store
    // aggregate; asOf = corpus max ts, deterministic — never now()). The
    // mergeability contract (state@T1 folds into a T2 refresh with one
    // multiply) is spec-locked in Round12Spec ---
    "q_decay_agg" -> ((s, dir) => {
      val e = ev(s, dir)
      // one scalar max over the persisted-anyway events frame: the asOf
      // instant must be an explicit value for replayability, not a plan
      val asOf = e.agg(max(col("ts_sec"))).head.getLong(0)
      Analytics.decayedAgg(e, Seq("user_id"), "ts_sec", "value",
          asOfSec = asOf, halfLifeSec = 7L * 86400)
        .select(col("user_id"), r3(col("decayed_sum")).as("decayed_sum"),
          r3(col("decayed_weight")).as("decayed_weight"), col("n"))
    }),

    // --- CCNet perplexity bucketing: per-language head/middle/tail
    // terciles of the unigram-LM score (bucket 1 = head) — the band
    // assignment CCNet keeps/weights by WITHIN each language ---
    "q_ppl_buckets" -> ((s, dir) =>
      Text.perplexityBuckets(Tables.documents(s, dir), "doc_id", "text",
        "lang", nBuckets = 3)),

    // --- multi-source BFS hop rings over a deterministic synthetic
    // 2-out-regular graph on the event entities (same modular edge
    // recipe both sides); the oracle replays it as a depth-capped
    // recursive CTE — a true cross-engine traversal fixpoint ---
    "q_bfs_hops" -> ((s, dir) => {
      val u = ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
        col("user_id"))
      val edges = u.select(col("a"), pmod(col("user_id") * 31 + 7, lit(97)).as("b"))
        .union(u.select(col("a"), pmod(col("user_id") * 57 + 13, lit(97)).as("b")))
      val seeds = edges.select(col("a").as("node"))
        .filter(col("node") < 5).distinct()
      Analytics.bfsHops(edges, "a", "b", seeds, "node", maxHops = 8)
    }),

    // --- embedding-space QA: pairwise-cosine histogram over the
    // md5-lowest-100 sample (constant work at every tier) ---
    "q_dist_profile" -> ((s, dir) =>
      Similarity.distanceProfile(Tables.embeddings(s, dir), "vec_id",
        "embedding", sampleN = 100, bins = 20)),

    // --- DBSCAN* density clustering (mutual-reachability MST cut at
    // eps): core/noise split + component clusters over the md5-lowest
    // 200 embeddings; exact left-fold d² arithmetic both engines ---
    "q_dbscan" -> ((s, dir) =>
      Similarity.dbscanStar(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 4, eps2 = 1.39, sampleN = 200)),

    // --- dendrogram ladder: ONE Borůvka forest, ALL three rungs cut in
    // ONE batched CC over rung-tagged composite node ids (the
    // singleLinkCutLadder batching — 3×O(rounds) scheduling collapsed
    // to 1×): per threshold the cluster/singleton counts — clusters
    // monotonically merge as t grows; the oracle re-clusters the
    // thresholded ORIGINAL graph per rung ---
    "q_dendrogram" -> ((s, dir) =>
      Analytics.singleLinkCutLadder(fixtureMsf(s, dir), "u", "v", "w",
          Seq(3.0, 7.0, 11.0))
        .groupBy(col("threshold").cast("int").as("threshold"))
        .agg(countDistinct(col("cluster")).as("n_clusters"),
          count(lit(1)).as("n_nodes"),
          sum(when(col("merge_dist").isNull, 1L).otherwise(0L))
            .as("n_singletons"))),

    // --- k-means|| init (Bahmani '12) over the FULL embeddings corpus:
    // md5-determinized oversampling rounds in exact-integer form, then
    // the deterministic greedy weighted recluster — every draw and every
    // tie replayable in DuckDB with zero tolerance ---
    "q_kmeanspp" -> ((s, dir) =>
      Similarity.kmeansParallelInit(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 4, oversample = 4, rounds = 3)),

    // --- audio modality: PCM16 decode -> 64-sample frames -> integer
    // energy/peak/silence (VAD front end); fixture samples are pure
    // functions of doc_id so the oracle certifies the decode path ---
    "q_audio_energy" -> ((s, dir) =>
      Multimodal.audioFrames(
        Multimodal.packPcm(Tables.documents(s, dir), "doc_id"))),

    // --- silence-trimmed voiced segments (islands of consecutive
    // non-silent frames): what actually ships to transcription ---
    "q_audio_segments" -> ((s, dir) =>
      Multimodal.speechSegments(
        Multimodal.audioFrames(
          Multimodal.packPcm(Tables.documents(s, dir), "doc_id")))),

    // --- expected calibration error of the classifier's sigmoid
    // probabilities: the trust measure behind any p-threshold gate ---
    "q_ft_ece" -> ((s, dir) => {
      val scored = ftScored(s, dir)
        .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("score"))))
      Analytics.expectedCalibrationError(scored, "p", "is_pos", nBins = 10)
        .select(r3(col("ece")).as("ece"), col("n_bins_used"), col("n"))
    }),

    // --- rank-biased overlap: rank-list AGREEMENT between the exact
    // cosine top-5 and the binary-quantized top-5 — the
    // position-sensitive fidelity number recall@k cannot give ---
    "q_rbo" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val q = em.filter(col("vec_id") < 10)
      val a = Similarity.bruteForceTopK(em, q, "vec_id", "embedding", k = 5)
      val b = Similarity.binaryTopK(em, q, "vec_id", "embedding",
        k = 5, dim = 64, shortlist = 50)
      Analytics.rankBiasedOverlap(a, b, "query_id", "cand_id", "rank", k = 5)
        .select(col("query_id"), r3(col("rbo")).as("rbo"), col("n_common"))
    }),

    // --- modularity of the node%5 partition over the 2-out synthetic
    // graph: the quality number for a given community assignment ---
    "q_modularity" -> ((s, dir) => {
      val u = ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
        col("user_id"))
      val edges = u.select(col("a"), pmod(col("user_id") * 31 + 7, lit(97)).as("b"))
        .union(u.select(col("a"), pmod(col("user_id") * 57 + 13, lit(97)).as("b")))
      val nodes = edges.select(col("a").as("node"))
        .union(edges.select(col("b"))).distinct()
      val memb = nodes.withColumn("comm", pmod(col("node"), lit(5)))
      Analytics.modularity(edges, "a", "b", memb, "node", "comm")
        .select(col("comm"), col("n_nodes"), col("e_intra"), col("d_total"),
          r3(col("q_contrib")).as("q_contrib"))
    }),

    // --- Leiden-style refinement of the node%5 partition: split every
    // community into its connected components (CC over intra-community
    // edges) — never lowers Q, certifies the well-connectedness repair ---
    "q_refine" -> ((s, dir) => {
      val u = ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
        col("user_id"))
      val edges = u.select(col("a"), pmod(col("user_id") * 31 + 7, lit(97)).as("b"))
        .union(u.select(col("a"), pmod(col("user_id") * 57 + 13, lit(97)).as("b")))
      val nodes = edges.select(col("a").as("node"))
        .union(edges.select(col("b"))).distinct()
      val memb = nodes.withColumn("comm", pmod(col("node"), lit(5)))
      Analytics.refineCommunities(edges, "a", "b", memb, "node", "comm")
    }),

    // --- Louvain modularity OPTIMIZATION over the same 2-out synthetic
    // graph: deterministic parity-alternated local moves + one
    // coarsening level, exact-integer ΔQ scores — the oracle replays
    // every round as a chained CTE with identical BIGINT arithmetic ---
    "q_louvain" -> ((s, dir) => {
      val u = ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
        col("user_id"))
      val edges = u.select(col("a"), pmod(col("user_id") * 31 + 7, lit(97)).as("b"))
        .union(u.select(col("a"), pmod(col("user_id") * 57 + 13, lit(97)).as("b")))
      Analytics.louvainCommunities(edges, "a", "b", moveRounds = 4)
    }),

    // --- FULL Leiden loop over the same graph: moves → refine →
    // aggregate-on-the-REFINED-partition → moves-from-parent →
    // final connectivity repair — the oracle replays every stage
    // (BIGINT moves bit-for-bit, refinement as recursive min-label CC) ---
    "q_leiden" -> ((s, dir) => {
      val u = ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
        col("user_id"))
      val edges = u.select(col("a"), pmod(col("user_id") * 31 + 7, lit(97)).as("b"))
        .union(u.select(col("a"), pmod(col("user_id") * 57 + 13, lit(97)).as("b")))
      Analytics.leidenCommunities(edges, "a", "b", moveRounds = 4,
        maxLevels = 2)
    }),

    // --- single-linkage clustering cut of the minimum spanning forest:
    // the oracle certifies the MST↔single-link equivalence itself — it
    // thresholds the ORIGINAL graph and takes connected components,
    // the query thresholds the Borůvka FOREST; identical clusters ---
    "q_single_link" -> ((s, dir) => {
      val cut = Analytics.singleLinkCut(fixtureMsf(s, dir), "u", "v", "w",
        threshold = 7.0)
      cut.select(col("node"), col("cluster"))
        .join(cut.groupBy("cluster").agg(count(lit(1)).as("n_nodes")),
          Seq("cluster"))
        .select(col("node"), col("cluster"), col("n_nodes"))
    }),

    // --- landmark harmonic centrality: origin-tagged BFS from three
    // fixed landmarks, h = sum of 1/hops over reaching landmarks (the
    // Eppstein-Wang sampled stand-in for all-pairs centrality) ---
    "q_closeness" -> ((s, dir) => {
      val u = ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
        col("user_id"))
      val edges = u.select(col("a"), pmod(col("user_id") * 31 + 7, lit(97)).as("b"))
        .union(u.select(col("a"), pmod(col("user_id") * 57 + 13, lit(97)).as("b")))
      val seeds = Seq((0L, 0L), (1L, 1L), (2L, 2L))
      import s.implicits._
      Analytics.landmarkHops(edges, "a", "b",
          seeds.toDF("origin", "node"), "origin", "node", maxHops = 8)
        .filter(col("hops") > 0)
        .groupBy("node")
        .agg(r3(sum(lit(1.0) / col("hops"))).as("h_score"),
          count(lit(1)).as("n_origins"))
    }),

    // --- classifier eval rollup: confusion-matrix counts of the NB
    // model against the training labels (train + score + rollup in one
    // plan; at scale the label join targets an eval-set-sized frame) ---
    "q_ft_eval" -> ((s, dir) =>
      ftScored(s, dir)
        .groupBy("is_pos", "pred_pos").agg(count(lit(1)).as("n"))),

    // --- retrieval eval: BM25 top-10 against near-dup-cluster ground
    // truth (each cluster's MIN doc queries for its peers) — recall@10
    // + reciprocal rank per query, the numbers that justify trusting
    // the retrieval stack ---
    "q_retrieval_eval" -> ((s, dir) => {
      val clusters = dupClusters(s, dir)
      val qsel = clusters.groupBy("cluster_id")
        .agg(min(col("id")).as("query_id"), count(lit(1)).as("_n"))
        .filter(col("_n") >= 2)
      val rel = qsel.join(clusters, Seq("cluster_id"))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("rel_id"))
      val qdocs = Tables.documents(s, dir)
        .join(qsel.select(col("query_id").as("doc_id")), Seq("doc_id"))
      val results = Text.bm25ScoreIndex(bm25SharedIndex(s, dir), qdocs,
        "doc_id", "text", k = 10, scoreRoundDecimals = Some(3))
      Analytics.retrievalEval(results, rel)
        .select(col("query_id"), col("n_rel"), col("n_hits"),
          r3(col("recall")).as("recall_at_10"), r3(col("rr")).as("rr"))
    }),

    // --- classifier ranking quality per source: rank-sum (Mann–Whitney)
    // AUC over the parity-rounded scores — ties exact via average ranks ---
    "q_ft_auc" -> ((s, dir) => {
      val scored = ftScored(s, dir)
        .select(col("id").as("doc_id"), r3(col("score")).as("score_r"),
          col("source"), col("is_pos"))
      Analytics.groupedAuc(scored, "score_r", "is_pos", Seq("source"))
        .select(col("source"), col("n_pos"), col("n_neg"),
          r3(col("auc")).as("auc"))
    }),

    // --- classifier calibration: 10 equal-width bins over the score
    // range; per-bin positive rate vs mean score (reliability table) ---
    "q_ft_calibration" -> ((s, dir) => {
      val scored = ftScored(s, dir)
      Analytics.calibrationBins(scored, "score", "is_pos", nBins = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          r3(col("pos_rate")).as("pos_rate"),
          r3(col("mean_score")).as("mean_score"))
    }),

    // --- per-domain dedup-rate profile (near-dup-aware via the shared
    // cluster labels): the crawl-frontier planning table ---
    "q_domain_profile" -> ((s, dir) =>
      Dedup.domainDedupProfile(Tables.documents(s, dir), "doc_id", "text",
        "source", clusters = Some(dupClusters(s, dir)))),

    // --- crawl-frontier caps: profile → budget rule (duplicate-heavy
    // domains keep less; here cap = max(1, floor(0.6·n_unique))) →
    // deterministic per-domain keep, counted per domain ---
    "q_domain_caps" -> ((s, dir) => {
      val prof = Dedup.domainDedupProfile(Tables.documents(s, dir), "doc_id",
        "text", "source", clusters = Some(dupClusters(s, dir)))
      val caps = prof.select(col("source"),
        greatest(lit(1L), floor(col("n_unique") * 3 / 5.0).cast("long")).as("cap"))
      Sampling.capPerStratumBy(Tables.documents(s, dir), "doc_id", "source", caps)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
    }),

    // --- entity resolution: block-size planning profile (the query an
    // ER run starts with — predicted candidate volume + the skip list) ---
    "q_er_blocks" -> ((s, dir) =>
      EntityResolution.blockProfile(erRecords(s, dir), "c_custkey",
        ErBlockCols, maxBlock = ErMaxBlock)),

    // --- entity resolution: blocked candidate pairs (shared stage) ---
    "q_er_candidates" -> ((s, dir) => erCandidates(s, dir)),

    // --- entity resolution: sorted-neighborhood candidates — the
    // LINEAR (n·(w−1)) generator for when no block key is trustworthy ---
    "q_er_snm" -> ((s, dir) =>
      EntityResolution.snmCandidates(Tables.customer(s, dir), "c_custkey",
        Seq("c_name", "c_custkey"), window = 5)),

    // --- entity resolution: Fellegi–Sunter-style scored matches ---
    "q_er_matches" -> ((s, dir) =>
      erMatchPairs(s, dir).select(col("id_a"), col("id_b"),
        r3(col("sim_c_name")).as("sim_c_name"),
        col("eq_c_mktsegment"),
        r3(col("num_c_acctbal")).as("num_c_acctbal"),
        r3(col("score")).as("score"))),

    // --- entity resolution: transitive entity-size profile (matches →
    // connected components → collapse report) ---
    "q_er_entities" -> ((s, dir) =>
      EntityResolution.entityProfileOf(erBlockEntities(s, dir))),

    // --- entity resolution: pairwise agreement between the two candidate
    // strategies (blocking vs sorted-neighborhood), scored with the same
    // rule — the eval-harness shape (prediction vs gold runs identically)
    // at O(n) cost via the contingency identity ---
    "q_er_agreement" -> ((s, dir) =>
      EntityResolution.clusterAgreement(
          erBlockEntities(s, dir), erSnmEntities(s, dir), "c_custkey")
        .select(col("n_ids"), col("shared_pairs"), col("a_pairs"),
          col("b_pairs"), r3(col("precision")).as("precision"),
          r3(col("recall")).as("recall"), r3(col("f1")).as("f1"))),

    // --- leave-one-out target encoding of event_type against value ---
    "q_target_encode" -> ((s, dir) =>
      Analytics.targetEncode(ev(s, dir), "event_type", "value",
          smoothing = 20.0)
        .select(col("event_id"), col("event_type"), r3(col("enc")).as("enc"))),

    // --- Duffield priority sample over documents weighted by length ---
    "q_priority_sample" -> ((s, dir) =>
      Sampling.prioritySample(Tables.documents(s, dir), "doc_id", "n_chars",
          k = 100)
        .select(col("doc_id"), col("n_chars"), r3(col("w_hat")).as("w_hat"))),

    // --- two-window mean-shift changepoint screen over per-user series ---
    "q_changepoint" -> ((s, dir) =>
      Analytics.meanShift(ev(s, dir), Seq("user_id"), "ts_sec", "value",
          window = 8, threshold = 60.0, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          r3(col("trail_mean")).as("trail_mean"),
          r3(col("lead_mean")).as("lead_mean"),
          r3(col("shift")).as("shift"))),

    // --- entity resolution: Fellegi–Sunter EM weight estimation over
    // the unlabeled candidate pairs (fields that VARY within blocks:
    // name agreement at sim ≥ 0.9, balance agreement at num ≥ 0.5 —
    // segment agreement is a block key, constant 1, and would send its
    // disagreement odds to log(0/0)) ---
    "q_er_em" -> ((s, dir) => {
      val sc = EntityResolution.scorePairs(erRecords(s, dir),
        erCandidates(s, dir), "c_custkey",
        stringCols = Seq("c_name" -> ErWName),
        exactCols = Seq("c_mktsegment" -> ErWSeg),
        numericCols = Seq(("c_acctbal", ErWBal, ErBalScale)))
      val agr = sc.select(
        (col("sim_c_name") >= 0.9).as("a_name"),
        (col("num_c_acctbal") >= 0.5).as("a_bal"))
      EntityResolution.emWeights(agr, Seq("a_name", "a_bal"), iters = 2)
        .select(col("field"), r3(col("m")).as("m"), r3(col("u")).as("u"),
          r3(col("w_agree")).as("w_agree"),
          r3(col("w_disagree")).as("w_disagree"),
          r3(col("prior")).as("prior"))
    }),

    // --- k-center greedy coreset: 5 diverse picks over the embedding
    // corpus (farthest-point selection; dist2 = coverage radius) ---
    "q_kcenter" -> ((s, dir) =>
      Similarity.kCenterSelect(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 5)
        .select(col("round"), col("vec_id"), r3(col("dist2")).as("dist2"))),

    // --- margin-based bitext mining between two embedding corpora
    // (mutual best under the Artetxe–Schwenk ratio margin) ---
    "q_bitext" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.bitextMine(
          em.filter(col("vec_id") % 19 === 1),
          em.filter(col("vec_id") % 19 === 2),
          "vec_id", "embedding", k = 4, threshold = 1.2)
        .select(col("id_a"), col("id_b"), r3(col("cos")).as("cos"),
          r3(col("margin")).as("margin"))
    }),

    // --- SEMANTIC benchmark decontamination: embedding-space twin of
    // the n-gram q_contamination (catches paraphrase-level leakage) ---
    "q_decontam_semantic" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.semanticDecontaminate(
          em.filter(col("vec_id") % 19 =!= 0),
          em.filter(col("vec_id") % 19 === 0),
          "vec_id", "embedding", threshold = 0.3)
        .select(col("vec_id"), col("n_bench_hits"),
          r3(col("max_cos")).as("max_cos"))
    }),

    // --- canonical dedup: best-quality survivor per near-dup cluster ---
    "q_dedup_canonical" -> ((s, dir) =>
      Dedup.canonicalDedup(Tables.documents(s, dir), "doc_id",
          jaccardPairs(s, dir), "id_a", "id_b", scoreCol = "n_chars",
          precomputedClusters = Some(dupClusters(s, dir)))
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("n_members"))),

    // --- dedup report: cluster-size distribution + rows removed ---
    "q_dedup_profile" -> ((s, dir) =>
      Dedup.dedupProfile(Tables.documents(s, dir), "doc_id",
        jaccardPairs(s, dir), "id_a", "id_b",
        precomputedClusters = Some(dupClusters(s, dir)))),

    // --- leakage-safe split: near-dup clusters stay in one split ---
    "q_split_leakfree" -> ((s, dir) =>
      Sampling.leakFreeSplit(Tables.documents(s, dir), "doc_id",
          dupClusters(s, dir), valFraction = 0.1, testFraction = 0.1)
        .select(col("doc_id"), col("split"))),

    // --- PII / repetition / sampling ---
    "q_pii" -> ((s, dir) =>
      Text.redactPii(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("redacted"))),

    "q_repetition" -> ((s, dir) =>
      Text.repetitionRatio(Tables.documents(s, dir), "text")
        .select(col("doc_id"),
          r3(col("dup_bigram_frac")).as("dup_bigram_frac"),
          r3(col("dup_trigram_frac")).as("dup_trigram_frac"))),

    "q_sample" -> ((s, dir) =>
      Sampling.hashSample(Tables.documents(s, dir), "doc_id", 0.3)
        .select("doc_id")),

    "q_sample_strat" -> ((s, dir) =>
      Sampling.stratifiedHashSample(Tables.documents(s, dir), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.1), defaultFraction = 1.0)
        .select("doc_id", "lang")),

    "q_split_assign" -> ((s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id",
          valFraction = 0.1, testFraction = 0.1)
        .select("doc_id", "split")),

    // --- data mixing: per-stratum plan + reproducible mixed sample ---
    "q_mixture" -> ((s, dir) =>
      Sampling.mixturePlan(Tables.documents(s, dir), "lang", MixWeights)
        .select(col("lang"), col("n_docs"), r3(col("fraction")).as("fraction"))),

    "q_mixture_sample" -> ((s, dir) =>
      Sampling.mixtureSample(Tables.documents(s, dir), "doc_id", "lang", MixWeights)
        .select("doc_id", "lang")),

    // --- temperature (alpha=0.7) mixture: tempered per-source shares ---
    "q_mixture_temp" -> ((s, dir) =>
      Sampling.temperatureMixture(Tables.documents(s, dir), "source",
          alpha = 0.7)
        .select(col("source"), col("n_docs"), r3(col("p_raw")).as("p_raw"),
          r3(col("p_temp")).as("p_temp"), r3(col("boost")).as("boost"))),

    // --- CCNet-shape cross-corpus LM scoring: even docs are the
    // reference model, odd docs are the scored target snapshot ---
    "q_lm_cross" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Text.lmCrossScore(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(col("id"), col("n_tokens"), col("n_oov_ref"),
          r3(col("logprob")).as("logprob"))
    }),

    // --- C4-style span-level exact dedup (keep first occurrence) ---
    "q_span_dedup" -> ((s, dir) =>
      Text.spanDedup(Tables.documents(s, dir), "doc_id", "text", spanWords = 10)),

    // --- CCNet-style corpus-frequency boilerplate scrub: EVERY
    // occurrence of any 3-word span present in >= 4 distinct docs dies ---
    "q_boilerplate" -> ((s, dir) =>
      Text.boilerplateScrub(Tables.documents(s, dir), "doc_id", "text",
        spanWords = 3, maxDocFreq = 4)),

    // --- seeded epoch-shuffle: deterministic global training order,
    // round-robin dealt into 8 shards ---
    "q_epoch_order" -> ((s, dir) =>
      Sampling.epochOrder(Tables.documents(s, dir), "doc_id", epoch = 7,
          nShards = 8)
        .select("doc_id", "rank", "shard")),

    // --- N-way source-overlap matrix: per-source word-trigram KMV
    // sketches (one grouped pass), all 190 pair estimates from the
    // 256-hash sketches alone ---
    "q_overlap_matrix" -> ((s, dir) => {
      val d = Tables.documents(s, dir).filter(col("text").isNotNull)
      val ws = split(col("text"), " ")
      val grams = when(size(ws) >= 3,
        transform(sequence(lit(0), size(ws) - lit(3)),
          i => array_join(slice(ws, i + lit(1), lit(3)), " ")))
        .otherwise(array().cast("array<string>"))
      Quality.overlapMatrix(
          d.select(col("source"), explode(grams).as("elem")),
          "source", "elem", k = 256)
        .select(col("corpus_a"), col("corpus_b"), col("n_sk"),
          col("union_est"), col("inter_est"),
          r3(col("jac_raw")).as("jaccard_est"))
    }),

    // --- sliding-window chunking: 16-token windows, stride 8 ---
    "q_chunk" -> ((s, dir) =>
      Text.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 16, stride = 8)),

    // --- per-source flood guard: at most 30 docs per language ---
    "q_cap_stratum" -> ((s, dir) =>
      Sampling.capPerStratum(Tables.documents(s, dir), "doc_id", "lang", 30)
        .select("doc_id", "lang")),

    // --- weighted median per type (integer-valued weights: cumulative
    // sums are exact in double, so the crossing is engine-stable) ---
    "q_weighted_median" -> ((s, dir) =>
      Quality.weightedMedian(
        ev(s, dir).withColumn("w", floor(col("value") * 100) + 1),
        Seq("event_type"), "value", "w")
        .select(col("event_type"), r3(col("weighted_median")).as("weighted_median"))),

    // --- sketch accuracy gate: HLL++ distinct counts within tolerance ---
    "q_approx_distinct" -> ((s, dir) =>
      Quality.approxDistinctGate(ev(s, dir),
        Seq("user_id", "event_type", "value"))),

    // --- sketch accuracy gate: count-min-sketch heavy hitters hold the
    // exact <= estimate <= exact + eps*N guarantee on the top-20 keys ---
    "q_cms_topk" -> ((s, dir) =>
      Quality.cmsHeavyHitters(ev(s, dir), "user_id", k = 20)),

    // --- sketch accuracy gate: rank-sketch quantiles inside the exact
    // p±tol bracket; exact quantiles cross-checked by the oracle ---
    "q_approx_quantiles" -> ((s, dir) =>
      Quality.approxQuantileGate(
          Tables.documents(s, dir).withColumn("n_chars", length(col("text"))),
          Seq("lang"), "n_chars", Seq(0.25, 0.5, 0.9))
        .select(col("lang"), r3(col("p25")).as("p25"), col("ok_p25"),
          r3(col("p50")).as("p50"), col("ok_p50"),
          r3(col("p90")).as("p90"), col("ok_p90"))),

    // --- per-segment linear-fit drift screen (hour-of-day kept small-
    // magnitude on purpose; see Analytics.linearFit) ---
    "q_linear_fit" -> ((s, dir) =>
      Analytics.linearFit(
          ev(s, dir).withColumn("hod", hour(col("ts")).cast("double")),
          Seq("event_type"), "value", "hod")
        .select(col("event_type"), r3(col("pearson_r")).as("pearson_r"),
          r3(col("covar")).as("covar"), r3(col("slope")).as("slope"),
          r3(col("intercept")).as("intercept"), col("n"))),

    // --- incremental completion heuristic ---
    "q_session_complete" -> ((s, dir) =>
      StateOps.markComplete(
          Rollup.sessionSummary(sessions(s, dir), Seq("user_id", "session_id"),
            "ts_sec", "value"),
          "end_sec", GapSec)
        .select("user_id", "session_id", "end_sec", "is_complete")),

    "q_urls" -> ((s, dir) =>
      Text.urlStats(Tables.documents(s, dir), "text")
        .select("doc_id", "n_urls", "first_domain")),

    "q_partition_profile" -> ((s, dir) =>
      Rollup.partitionProfile(
        ev(s, dir)
          .withColumn("year", date_format(col("ts"), "yyyy"))
          .withColumn("month", date_format(col("ts"), "MM"))
          .withColumn("day", date_format(col("ts"), "dd")),
        Seq("year", "month", "day"), "ts_sec")),

    // --- per-segment course bearing + turn rate (maneuver features) ---
    "q_course" -> ((s, dir) =>
      Trajectory.courseFeatures(ev(s, dir), Seq("user_id"), "ts_sec",
          "lat", "lon", tieBreak = Seq("event_id"))
        .select(col("event_id"), r3(col("bearing_deg")).as("bearing_deg"),
          r3(col("turn_deg_per_min")).as("turn_deg_per_min"))),

    // --- SCD2 history build: per-entity event_type version intervals ---
    "q_scd2" -> ((s, dir) =>
      Dims.scd2(ev(s, dir), Seq("user_id"), "ts_sec", Seq("event_type"),
        tieBreak = Seq("event_id"))),

    // --- queryable-current SCD2: each entity's OPEN version, no history ---
    "q_scd2_current" -> ((s, dir) =>
      Dims.scd2Current(ev(s, dir), Seq("user_id"), "ts_sec",
        Seq("event_type"), tieBreak = Seq("event_id"))),

    // --- SCD2 point-in-time lookup: versions active at mid-timeline ---
    "q_scd2_asof" -> ((s, dir) => {
      val e = ev(s, dir)
      // data-derived cutoff (timeline midpoint): scale-free and exactly
      // reproducible in the oracle; one-row broadcast, no driver action
      val cut = e.agg(floor((min(col("ts_sec")) + max(col("ts_sec"))) / lit(2.0))
        .cast("long").as("_cut"))
      Dims.scd2Current(
        e.crossJoin(broadcast(cut)).filter(col("ts_sec") <= col("_cut")).drop("_cut"),
        Seq("user_id"), "ts_sec", Seq("event_type"), tieBreak = Seq("event_id"))
    }),

    // --- interval flattening: overlapping per-entity activity spans
    // merged into maximal disjoint coverage windows ---
    "q_interval_merge" -> ((s, dir) =>
      Intervals.mergeIntervals(
        ev(s, dir).select(col("user_id"), col("ts_sec"),
          (col("ts_sec") + floor(col("value") * 60).cast("long")).as("end_sec"),
          col("event_id")),
        Seq("user_id"), "ts_sec", "end_sec", adjacencySec = 0L,
        tieBreak = Seq("event_id"))),

    // --- coverage gaps: dark windows > 10 min between merged spans ---
    "q_coverage_gaps" -> ((s, dir) =>
      Intervals.coverageGaps(
        ev(s, dir).select(col("user_id"), col("ts_sec"),
          (col("ts_sec") + floor(col("value") * 60).cast("long")).as("end_sec"),
          col("event_id")),
        Seq("user_id"), "ts_sec", "end_sec", minGapSec = 600L,
        tieBreak = Seq("event_id"))),

    // --- interval-overlap join: concurrent activity pairs per entity ---
    "q_interval_overlap" -> ((s, dir) => {
      val iv = ev(s, dir).select(col("user_id"), col("ts_sec"),
        (col("ts_sec") + floor(col("value") * 60).cast("long")).as("end_sec"),
        col("event_id"))
      val l = iv.filter(col("event_id") % 2 === 0).select(col("user_id"),
        col("ts_sec").as("s_a"), col("end_sec").as("e_a"))
      val r = iv.filter(col("event_id") % 2 === 1).select(col("user_id"),
        col("ts_sec").as("s_b"), col("end_sec").as("e_b"))
      Intervals.overlapJoin(l, "s_a", "e_a", r, "s_b", "e_b", Seq("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
    }),

    // --- as-of join (latest prior state per event) ---
    "q_asof" -> ((s, dir) => {
      val e = ev(s, dir)
      // pseudo state reports: every 10th event, unique per (user, ts)
      val state = e.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts_sec")
        .agg(max_by(col("value"), col("event_id")).as("state_value"))
      AsOf.join(e.select("event_id", "user_id", "ts_sec"), state,
        Seq("user_id"), "ts_sec", Seq("state_value"))
    }),

    // --- as-of, forward direction (earliest following state) ---
    "q_asof_fwd" -> ((s, dir) => {
      val e = ev(s, dir)
      val state = e.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts_sec")
        .agg(max_by(col("value"), col("event_id")).as("state_value"))
      AsOf.join(e.select("event_id", "user_id", "ts_sec"), state,
        Seq("user_id"), "ts_sec", Seq("state_value"), direction = "forward")
    }),

    // --- as-of, nearest direction (ties prefer the prior row) ---
    "q_asof_near" -> ((s, dir) => {
      val e = ev(s, dir)
      val state = e.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts_sec")
        .agg(max_by(col("value"), col("event_id")).as("state_value"))
      AsOf.join(e.select("event_id", "user_id", "ts_sec"), state,
        Seq("user_id"), "ts_sec", Seq("state_value"), direction = "nearest")
    }),

    "q_pack" -> ((s, dir) =>
      Text.packSequences(
          Text.tokenCount(Tables.documents(s, dir), "text"),
          shardCol = "lang", orderCol = "doc_id", tokenCountCol = "ws_tokens",
          budget = 512L)
        .select("doc_id", "lang", "pack_id")),

    // --- length-bucketed batches: per-lang docs sorted by length form
    // 16-doc batches; padding_waste is the pad-to-longest overhead the
    // sorted batching exists to collapse ---
    "q_length_batches" -> ((s, dir) =>
      Text.lengthBatches(
          Tables.documents(s, dir).withColumn("n_chars_t", length(col("text"))),
          shardCol = "lang", idCol = "doc_id", lenCol = "n_chars_t",
          batchSize = 16)
        .select(col("lang"), col("batch_id"), col("n_docs"),
          col("max_len"), col("sum_len"), col("padding_waste"))),

    "q_quantiles" -> ((s, dir) =>
      Quality.quantiles(
          Tables.documents(s, dir).withColumn("n_chars", length(col("text"))),
          Seq("lang"), "n_chars", Seq(0.25, 0.5, 0.9))
        .select(col("lang"), r3(col("p25")).as("p25"),
          r3(col("p50")).as("p50"), r3(col("p90")).as("p90"))),

    // --- range join: events concurrent with user 7's sessions ---
    "q_range_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val iv = Rollup.sessionSummary(
          sessions(s, dir).filter(col("user_id") === 7),
          Seq("user_id", "session_id"), "ts_sec", "value")
        .select(col("session_id"), col("start_sec"), col("end_sec"))
      Intervals.rangeJoin(e.select(col("event_id"), col("ts_sec")), "ts_sec",
          iv, "start_sec", "end_sec")
        .groupBy("session_id")
        .agg(count(lit(1)).as("n_concurrent"))
    }),

    // --- decontamination / vocabulary ---
    "q_contamination" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Text.contamination(d, "doc_id", "text",
        d.filter(col("doc_id") < 5), "text", n = 8, minOverlap = 1)
    }),

    // --- same semantics as q_contamination through the BLOOM plan (the
    // probe-set-too-big-to-broadcast path); FPs removed by the exact
    // confirm join, so the SAME oracle asserts both plans ---
    "q_contamination_bloom" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Text.contaminationLarge(d, "doc_id", "text",
        d.filter(col("doc_id") < 5), "text", n = 8, minOverlap = 1,
        expectedItems = 10000L, numBits = 256L * 1024)
    }),

    "q_vocab" -> ((s, dir) =>
      Text.vocabulary(Tables.documents(s, dir), "text", minCount = 2L)),

    // --- adjacent-token PMI (collocation mining) ---
    "q_cooccur" -> ((s, dir) =>
      Text.cooccurrence(Tables.documents(s, dir), "text", minCount = 5L)
        .select(col("w1"), col("w2"), col("n_xy"), r3(col("pmi")).as("pmi"))),

    // --- per-doc OOV rate vs the corpus top-100 vocabulary ---
    "q_oov" -> ((s, dir) =>
      Text.oovRate(Tables.documents(s, dir), "doc_id", "text", topN = 100)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          r3(col("oov_rate")).as("oov_rate"))),

    // --- join-key skew profile (pre-plan hot-key detection) ---
    "q_skew_profile" -> ((s, dir) =>
      Skew.keyProfile(ev(s, dir), "user_id", k = 10)
        .select(col("n_rows"), col("n_keys"), col("top1_rows"),
          col("topk_rows"), r3(col("skew_ratio")).as("skew_ratio"))),

    // --- PSI distribution drift between the pre- and post-cutoff windows ---
    "q_psi_drift" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      Quality.psiDrift(e.filter(col("day") < CutoffDay),
          e.filter(col("day") >= CutoffDay), "value", nBins = 10)
        .select(col("n_base"), col("n_cur"), r3(col("psi")).as("psi"))
    }),

    // --- keyed reconciliation diff between two snapshots ---
    "q_table_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val snapshot = docs.filter(col("doc_id") % 20 =!= 0) // 5% deleted
        .withColumn("text",
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" EDITED")))
            .otherwise(col("text"))) // 10% changed
      Quality.tableDiff(docs, snapshot, Seq("doc_id"), Seq("text", "lang"))
    }),

    // --- IVF ANN: measured recall gate at nProbe < nCells; the oracle
    // replicates the full quantizer (md5 centroid pick is cross-engine) ---
    "q_ann_ivf" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val q = em.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(em, q, "vec_id", "embedding", k = 5)
      val brute = Similarity.bruteForceTopK(em, q, "vec_id", "embedding", k = 5)
      Similarity.recallAtK(ivf, brute, q.select(col("vec_id").as("query_id")), 5)
        .select(col("query_id"), col("n_retrieved"), col("n_true"),
          r3(col("recall")).as("recall_at_5"))
    }),

    // --- PQ-ADC ANN: recall gate; the oracle replays subspace k-means,
    // the code assignment, and the LUT-sum scoring end to end ---
    "q_ann_pq" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val q = em.filter(col("vec_id") < 10)
      val pq = Similarity.pqTopK(em, q, "vec_id", "embedding", k = 5,
        dim = 64, m = 8, ks = 64, iters = 2)
      val brute = Similarity.bruteForceTopK(em, q, "vec_id", "embedding", k = 5)
      Similarity.recallAtK(pq, brute, q.select(col("vec_id").as("query_id")), 5)
        .select(col("query_id"), col("n_retrieved"), col("n_true"),
          r3(col("recall")).as("recall_at_5"))
    }),

    // --- OPQ-rotated PQ-ADC ANN: the q_ann_pq pipeline behind a SEEDED
    // orthogonal rotation (rotationMatrix literals — the JL precedent),
    // recall measured against brute truth in the ORIGINAL basis; the
    // LEARNED-rotation variant (pqCodebooksOpq, alternating Procrustes)
    // is spec-gated like topPc — its rotation is data-dependent ---
    "q_ann_opq" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val rot = Similarity.rotationMatrix(dim = 64, seed = 13L)
      val emR = Similarity.rotate(
        em.select(col("vec_id"), col("embedding")), "embedding", rot, 64)
      val q = emR.filter(col("vec_id") < 10)
      val pq = Similarity.pqTopK(emR, q, "vec_id", "embedding", k = 5,
        dim = 64, m = 8, ks = 64, iters = 2)
      val brute = Similarity.bruteForceTopK(em,
        em.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      Similarity.recallAtK(pq, brute, q.select(col("vec_id").as("query_id")), 5)
        .select(col("query_id"), col("n_retrieved"), col("n_true"),
          r3(col("recall")).as("recall_at_5"))
    }),

    // --- IVF-PQ ANN (IVFADC): coarse cells + shared residual codebooks +
    // ADC over probed cells only; measured recall gate at nProbe < nCells;
    // the oracle replays coarse assign, residual Lloyd, codes, and the
    // qc + LUT-sum scoring end to end ---
    "q_ann_ivfpq" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val q = em.filter(col("vec_id") < 10)
      val ivfpq = Similarity.ivfPqScore(ivfPqSharedIdx(s, dir), q,
        "vec_id", "embedding", k = 5, nProbe = 4)
      val brute = Similarity.bruteForceTopK(em, q, "vec_id", "embedding", k = 5)
      Similarity.recallAtK(ivfpq, brute, q.select(col("vec_id").as("query_id")), 5)
        .select(col("query_id"), col("n_retrieved"), col("n_true"),
          r3(col("recall")).as("recall_at_5"))
    }),

    // --- embedding-outlier screen: per-label centroid-cosine z-score ---
    "q_embed_outlier" -> ((s, dir) =>
      Similarity.embedOutliers(Tables.embeddings(s, dir), "vec_id",
          "embedding", "label", zCut = 2.0)
        .select(col("id").as("vec_id"), col("label"), r3(col("cos")).as("cos"),
          r3(col("z")).as("z"), col("outlier"))),

    // --- embedding-space drift: per-label centroid cosine between the
    // even/odd pseudo-snapshots of the corpus ---
    "q_embed_drift" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.centroidDrift(em.filter(col("vec_id") % 2 === 0),
          em.filter(col("vec_id") % 2 === 1), "embedding", "label",
          minCos = 0.9)
        .select(col("label"), col("status"), r3(col("cos")).as("cos"), col("ok"))
    }),

    // --- k-NN label propagation (weak labeling from a labeled seed) ---
    "q_knn_label" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.knnLabel(em, em.filter(col("vec_id") < 20), "vec_id",
        "embedding", "label", k = 10)
    }),

    // --- ANN k-NN label propagation: IVFADC neighbors, same vote ---
    "q_knn_label_ann" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.knnLabelAnn(em, em.filter(col("vec_id") < 20), "vec_id",
        "embedding", "label", k = 10, dim = 64, nCells = 16, nProbe = 4,
        m = 8, ks = 64, iters = 2, index = Some(ivfPqSharedIdx(s, dir)))
    }),

    // --- contrastive triplets: positive + hard negatives per anchor ---
    "q_triplets" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.tripletMine(em, em.filter(col("vec_id") < 20), "vec_id",
          "embedding", posThreshold = 0.3, nNegatives = 3)
        .select(col("anchor_id"), col("pos_id"), r3(col("pos_cos")).as("pos_cos"),
          col("neg_id"), r3(col("neg_cos")).as("neg_cos"), col("neg_rank"))
    }),

    // --- ANN-prefiltered triplets: ivfTopK candidate generation, exact
    // cosines decide the margin; oracle replays the probe + selection ---
    "q_triplets_ann" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.tripletMineAnn(em, em.filter(col("vec_id") < 20), "vec_id",
          "embedding", posThreshold = 0.3, nNegatives = 3,
          candidateK = 16, nCells = 16, nProbe = 4)
        .select(col("anchor_id"), col("pos_id"), r3(col("pos_cos")).as("pos_cos"),
          col("neg_id"), r3(col("neg_cos")).as("neg_cos"), col("neg_rank"))
    }),

    // --- token-budget selection: best docs until the token budget ---
    "q_budget_select" -> ((s, dir) =>
      Sampling.budgetSelect(
          Tables.documents(s, dir)
            .withColumn("score", col("n_chars") / lit(600.0))
            .withColumn("toks", size(split(col("text"), " ")).cast("long")),
          "doc_id", "score", "toks", budget = 10000L)
        .select("doc_id", "toks")),

    // --- snake-draft sharding: per-lang token-balanced shards ---
    "q_snake_shards" -> ((s, dir) =>
      Sampling.snakeShards(Tables.documents(s, dir), "doc_id", "n_chars",
          Seq("lang"), nShards = 4)
        .select("doc_id", "lang", "shard")),

    // --- analytics: top-N / transitions / distributions ---
    "q_topk_days" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      Analytics.topKPerGroup(daily, Seq("user_id"), 3,
        Seq(col("n").desc, col("day").asc))
    }),

    "q_transitions" -> ((s, dir) =>
      Analytics.transitions(ev(s, dir), Seq("user_id"), "ts_sec",
        "event_type", tieBreak = Seq("event_id"))),

    // --- PageRank of the transition graph (10 damped power iterations) ---
    "q_pagerank" -> ((s, dir) =>
      Analytics.pagerank(
          Analytics.transitions(ev(s, dir), Seq("user_id"), "ts_sec",
            "event_type", tieBreak = Seq("event_id")),
          "prev_cat", "next_cat", weightCol = Some("n"),
          damping = 0.85, iters = 10)
        .select(col("node"),
          (floor(col("pr") * 1000000 + 0.5) / 1000000).as("pr"))),

    // --- personalized PageRank: random walk with restart from the
    // lexicographically-early event types (proximity to the seed set,
    // not global centrality) ---
    "q_ppr" -> ((s, dir) => {
      val tr = Analytics.transitions(ev(s, dir), Seq("user_id"), "ts_sec",
        "event_type", tieBreak = Seq("event_id"))
      val seeds = tr.select(col("prev_cat").as("node"))
        .union(tr.select(col("next_cat")))
        .filter(col("node") < "m").distinct()
      Analytics.personalizedPagerank(tr, "prev_cat", "next_cat",
          seeds, "node", weightCol = Some("n"), damping = 0.85, iters = 10)
        .select(col("node"),
          (floor(col("pr") * 1000000 + 0.5) / 1000000).as("pr"))
    }),

    // --- triangle count on a deterministic synthetic graph over the
    // event entities (same modular-arithmetic edge recipe both sides) ---
    "q_triangles" -> ((s, dir) =>
      Analytics.triangles(
        ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
          pmod(col("user_id") * 31 + 7, lit(97)).as("b")),
        "a", "b")),

    // --- per-language percentile rank of doc length ---
    "q_pct_rank" -> ((s, dir) =>
      Analytics.percentileRank(
          Tables.documents(s, dir).withColumn("n_chars", length(col("text"))),
          Seq("lang"), "n_chars")
        .select(col("doc_id"), col("lang"),
          r3(col("pct_rank")).as("pct_rank"))),

    // --- KS drift test: doc-length distribution, en vs de ---
    "q_ks_test" -> ((s, dir) =>
      Quality.ksTest(
        Tables.documents(s, dir).withColumn("n_chars",
          length(col("text")).cast("double")),
        "n_chars", "lang", "en", "de")
        .select(r3(col("ks_d")).as("ks_d"), col("n_a"), col("n_b"))),

    // --- feature-redundancy screen: all-pairs correlation, one pass ---
    "q_corr_matrix" -> ((s, dir) =>
      Analytics.corrMatrix(
          ev(s, dir).withColumn("hod", hour(col("ts")).cast("double")),
          Seq("value", "lat", "lon", "hod"))
        .select(col("col_x"), col("col_y"), r3(col("r")).as("r"))),

    // --- chi-square independence: event mix vs day-of-week ---
    "q_chi2" -> ((s, dir) =>
      Analytics.chiSquare(
          ev(s, dir).withColumn("dow", floor(col("ts_sec") / 86400) % 7),
          "event_type", "dow")
        .select(r3(col("chi2")).as("chi2"), col("dof"), col("n_total"))),

    // --- seasonal-baseline anomalies: each event z-scored against its
    // (event_type, hour-of-day) season instead of a flat baseline ---
    "q_seasonal" -> ((s, dir) => {
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "season_bucket")
      Analytics.seasonalAnomaly(ev(s, dir), Seq("event_type"), "ts_sec",
          "value", periodSec = 86400L, bucketSec = 3600L, zCut = 2.5)
        .withColumn("n_grp", count(col("value")).over(wc))
        .filter(col("n_grp") >= 2)
        .select(col("event_id"), col("season_bucket"),
          r3(col("season_z")).as("season_z"), col("anomaly"))
    }),

    "q_zscore" -> ((s, dir) => {
      val wc = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      Analytics.zscore(ev(s, dir), Seq("user_id"), "value")
        .withColumn("n_grp", count(col("value")).over(wc))
        .filter(col("n_grp") >= 2)
        .select(col("event_id"), r3(col("z")).as("z"))
    }),

    "q_histogram" -> ((s, dir) =>
      Analytics.histogram(ev(s, dir), "value", 25.0)),

    "q_pivot" -> ((s, dir) =>
      Analytics.pivotCounts(
        ev(s, dir).withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
        "day", "event_type", Seq("click", "error", "purchase", "signup", "view"))),

    "q_interarrival" -> ((s, dir) =>
      Analytics.interArrival(ev(s, dir), Seq("user_id"), "ts_sec",
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("n_events"), col("min_gap_s"),
          col("max_gap_s"), r3(col("avg_gap_s")).as("avg_gap_s"))),

    "q_ntile" -> ((s, dir) =>
      Analytics.ntileBucket(ev(s, dir), Seq("user_id"), 4,
          Seq(col("value").asc, col("event_id").asc))
        .select("event_id", "bucket")),

    "q_rolling" -> ((s, dir) =>
      Analytics.rollingMean(ev(s, dir), Seq("user_id"), "ts_sec", "value", 5,
          tieBreak = Seq("event_id"))
        .select(col("event_id"), r3(col("rolling_avg")).as("rolling_avg"))),

    // --- EWMA-prediction anomaly flag vs the prior 10 rows ---
    "q_anomaly" -> ((s, dir) =>
      Analytics.anomalyFlags(ev(s, dir), Seq("user_id"), "ts_sec", "value",
          alpha = 0.3, window = 10, k = 2.0, tieBreak = Seq("event_id"))
        .select(col("event_id"), r3(col("residual")).as("residual"),
          col("anomaly"))),

    // --- recency-weighted smoother: EWMA over the last 10 rows ---
    "q_ewma" -> ((s, dir) =>
      Analytics.ewma(ev(s, dir), Seq("user_id"), "ts_sec", "value",
          alpha = 0.3, window = 10, tieBreak = Seq("event_id"))
        .select(col("event_id"), r3(col("ewma")).as("ewma"))),

    "q_cube" -> ((s, dir) =>
      Analytics.cubeProfile(
          ev(s, dir).withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
          Seq("day", "event_type"), "value")
        .select(col("day"), col("event_type"), col("n_rows"),
          r3(col("sum_value")).as("sum_value"))),

    // --- text: tf-idf top term per document ---
    "q_tfidf" -> ((s, dir) =>
      Analytics.topKPerGroup(
          Text.tfidf(Tables.documents(s, dir), "doc_id", "text"),
          Seq("id"), 1, Seq(col("tfidf").desc, col("token").asc))
        .select(col("id"), col("token"), r3(col("tfidf")).as("tfidf"))),

    // --- embeddings: per-label centroids ---
    "q_centroid" -> ((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")
        .select(col("label"), col("dim"), r3(col("mean")).as("mean"))),

    // --- corpus blocklist scrub ---
    "q_blocklist" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.blocklistAnti(d, d.filter(col("doc_id") < 20).select("text"),
          "text", "text")
        .select("doc_id")
    }),

    // --- time-series regularization (daily grid + forward fill) ---
    "q_resample" -> ((s, dir) =>
      Trajectory.resampleForwardFill(ev(s, dir), Seq("user_id"), "ts_sec",
          "value", stepSec = 86400L, rowKeyCol = "event_id")
        .select(col("user_id"), col("slot"), col("value_ff"))),

    // --- outlier winsorization per entity ---
    "q_winsorize" -> ((s, dir) =>
      Quality.winsorize(ev(s, dir), Seq("user_id"), "value", 0.05, 0.95)
        .select(col("event_id"), r3(col("winsorized")).as("w"))),

    // --- robust MAD outlier flag per event type ---
    "q_mad_outlier" -> ((s, dir) =>
      Quality.madOutliers(ev(s, dir), Seq("event_type"), "value", k = 3.0)
        .select(col("event_id"), col("event_type"),
          r3(col("med")).as("med"), r3(col("mad")).as("mad"),
          col("is_outlier"))),

    // --- per-column feed-trust profile ---
    "q_col_profile" -> ((s, dir) =>
      Quality.columnProfile(Tables.events(s, dir),
          numericCols = Seq("user_id", "value"), stringCols = Seq("event_type"))
        .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"),
          r3(col("min_v")).as("min_v"), r3(col("max_v")).as("max_v"),
          r3(col("avg_v")).as("avg_v"))),

    // --- deterministic weighted draw: 20 docs per lang, P ∝ doc length ---
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
          Tables.documents(s, dir)
            .withColumn("w", length(col("text")).cast("double")),
          "doc_id", "w", k = 20, strataCols = Seq("lang"))
        .select("doc_id", "lang")),

    // --- DSIR: importance-resampled raw-pool draw toward the en target ---
    "q_dsir" -> ((s, dir) =>
      Sampling.dsirSelect(Tables.documents(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", k = 50)
        .select(col("doc_id"), r3(col("logw")).as("logw"))),

    // --- token-distribution entropy ---
    "q_entropy" -> ((s, dir) =>
      Text.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id"), r3(col("entropy")).as("entropy"))),

    // --- fuzzy (edit-distance) near-dup on the text head. Certified on
    // the md5-lowest 10k doc_ids (the simhashParitySampled convention):
    // the DuckDB ground truth is an O(n²) levenshtein cross join, so the
    // oracle needs a deterministic subsample past ~10k docs — the cap is
    // non-binding at sf0.01/sf0.1 (≤5k docs) and keeps the row certifiable
    // at every tier (sf1: 50k docs would be >1e9 oracle pairs). The FULL-
    // input production path is exercised by q_editdist_pairs below. ---
    "q_editdist" -> ((s, dir) =>
      Dedup.editDistancePairs(
        Tables.documents(s, dir)
          // project to the 30-char head BEFORE the top-k: the subsample's
          // TakeOrdered exchange then carries (id, head), not whole docs
          .select(col("doc_id"), substring(col("text"), 1, 30).as("head"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .limit(10000),
        "doc_id", "head", maxDist = 3)),

    // --- the PRODUCTION edit-distance path at full corpus scale (PassJoin
    // length-banded candidates, never all-pairs): emits invariant booleans
    // the oracle asserts without replicating the engine — every emitted
    // pair strictly id-ordered, duplicate-free, within the distance bound
    // (each pair IS levenshtein-verified in the operator) — plus the full
    // doc count, so the row certifies the full input ran at every tier ---
    "q_editdist_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = graft.CacheScope.persist(
        Dedup.editDistancePairs(
          docs.withColumn("head", substring(col("text"), 1, 30)),
          "doc_id", "head", maxDist = 3))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(pairs.agg(
          coalesce(min(col("dist") <= 3 && col("id_a") < col("id_b")),
            lit(true)).as("within_bound")))
        .crossJoin(
          pairs.select("id_a", "id_b").groupBy("id_a", "id_b").count()
            .agg(coalesce(min(col("count") === 1), lit(true)).as("pairs_distinct")))
    }),

    // --- packed-sequence materialization ---
    "q_pack_concat" -> ((s, dir) =>
      Text.concatPacked(
        Text.packSequences(
          Text.tokenCount(Tables.documents(s, dir), "text"),
          shardCol = "lang", orderCol = "doc_id", tokenCountCol = "ws_tokens",
          budget = 512L),
        "lang", "pack_id", "doc_id", "text")),

    // --- unigram LM fluency score ---
    "q_unigram_lp" -> ((s, dir) =>
      Text.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id"), r3(col("logprob")).as("logprob"))),

    // --- bigram LM fluency (transition-aware CCNet-style score) ---
    "q_bigram_lp" -> ((s, dir) =>
      Text.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id"), col("n_bigrams"), r3(col("logprob")).as("logprob"))),

    // --- corpus novelty: first-occurrence ownership of 3-grams ---
    "q_novelty" -> ((s, dir) =>
      Text.noveltyRate(Tables.documents(s, dir), "doc_id", "text", n = 3)
        .select(col("id"), col("n_grams"), col("n_owned"),
          r3(col("novelty")).as("novelty"))),

    // --- inverted index with hapax + stop-token cuts ---
    "q_inverted_index" -> ((s, dir) =>
      Text.invertedIndex(Tables.documents(s, dir), "doc_id", "text",
        minDf = 2L, maxDfFrac = 0.9)),

    // --- bloom-prefiltered selective join (dim holds 5% of fact keys;
    // the result is exactly the plain join — the oracle IS the plain join) ---
    "q_bloom_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val dim = e.filter(col("user_id") % 20 === 0)
        .select(col("user_id")).distinct()
        .withColumn("attr", col("user_id") * 2)
      Skew.bloomJoin(e.select("event_id", "user_id"), dim, "user_id",
        expectedItems = 1000L, numBits = 65536L)
    }),

    // --- cohort retention matrix (cohort = first active day) ---
    "q_retention" -> ((s, dir) =>
      Analytics.cohortRetention(
        ev(s, dir).withColumn("day_n", floor(col("ts_sec") / 86400).cast("long")),
        "user_id", "day_n")),

    // --- ordered conversion funnel within a day ---
    "q_funnel" -> ((s, dir) =>
      Analytics.funnel(ev(s, dir), "user_id", "ts_sec", "event_type",
        Seq("view", "click", "purchase"), windowSec = 86400L)),

    // --- stay-point (dwell) detection: anchored runs >= 1h per entity ---
    "q_stay_points" -> ((s, dir) =>
      Trajectory.stayPoints(ev(s, dir), Seq("user_id"), "ts_sec", "value",
          "lat", "lon", speedThreshold = SpeedThreshold,
          minDurationSec = 3600L, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("stay_id"), col("start_sec"),
          col("end_sec"), col("n_points"),
          r3(col("lat_mean")).as("lat_mean"),
          r3(col("lon_mean")).as("lon_mean"))),

    // --- origin-destination traffic matrix over 20-degree cells ---
    "q_od_matrix" -> ((s, dir) =>
      Trajectory.odMatrix(
        sessions(s, dir).withColumn("cell",
          concat_ws(":", Geo.gridCell(col("lat"), 20.0),
            Geo.gridCell(col("lon"), 20.0))),
        Seq("user_id", "session_id"), "ts_sec", "cell", tieBreak = "event_id")),

    // --- encounter detection: entity pairs within 50 km and 30 min,
    // rolled up per pair (lossless lat-band + time-bucket blocking) ---
    "q_encounters" -> ((s, dir) =>
      Trajectory.encounters(ev(s, dir), "user_id", "ts_sec", "lat", "lon",
          maxKm = 50.0, maxGapSec = 1800L)
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_meetings"),
          r3(min(col("dist_km"))).as("min_km"))),

    // --- per-session bounding box (voyage spatial extent) ---
    "q_bbox" -> ((s, dir) =>
      sessions(s, dir).groupBy("user_id", "session_id")
        .agg(min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"),
          min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"))
        .select(col("user_id"), col("session_id"),
          r3(col("lat_min")).as("lat_min"), r3(col("lat_max")).as("lat_max"),
          r3(col("lon_min")).as("lon_min"), r3(col("lon_max")).as("lon_max"))),

    // --- hour-of-day activity/speed profile ---
    "q_hourly" -> ((s, dir) =>
      ev(s, dir).groupBy(hour(col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), r3(avg(col("value"))).as("avg_value"))),

    // --- per-entity lag-1 autocorrelation of the value series ---
    "q_autocorr" -> ((s, dir) =>
      Analytics.autocorr(ev(s, dir), Seq("user_id"), "ts_sec", "value",
          lagK = 1, tieBreak = Seq("event_id"))
        .select(col("user_id"), r3(col("autocorr")).as("autocorr"),
          col("n_pairs"))),

    // --- Kaplan–Meier retention: per-user lifetime in days (first→last
    // event), censored when the user is still active inside the final
    // 7 days of the stream; cohort = the user's first event type ---
    "q_survival" -> ((s, dir) => {
      val e = ev(s, dir)
      val life = e.groupBy("user_id").agg(
        floor((max(col("ts_sec")) - min(col("ts_sec"))) / 86400.0)
          .cast("long").as("duration"),
        max(col("ts_sec")).as("_last"),
        min_by(col("event_type"),
          struct(col("ts_sec"), col("event_id"))).as("cohort"))
      val hz = e.agg(max(col("ts_sec")).as("_hz"))
      val obs = life.crossJoin(broadcast(hz))
        .withColumn("event", col("_last") < col("_hz") - 604800L)
      Analytics.kaplanMeier(obs, Seq("cohort"), "duration", "event")
        .select(col("cohort"), col("t"), col("n_risk"), col("n_event"),
          col("n_censor"), r3(col("survival")).as("survival"))
    }),

    // --- Spearman rank-correlation matrix over the discrete lineitem
    // metrics (bounded value cardinality — the fractionalRank contract) ---
    "q_spearman" -> ((s, dir) =>
      Analytics.spearmanMatrix(Tables.lineitem(s, dir),
          Seq("l_quantity", "l_discount", "l_tax"))
        .select(col("col_x"), col("col_y"), r3(col("rho")).as("rho"))),

    // --- categorical association screen: segment × nation (MI, chi2,
    // Cramér's V in one pass) ---
    "q_assoc" -> ((s, dir) =>
      Analytics.association(Tables.customer(s, dir),
          "c_mktsegment", "c_nationkey")
        .select(col("n_total"), r3(col("mi")).as("mi"),
          r3(col("chi2")).as("chi2"),
          r3(col("cramers_v")).as("cramers_v"))),

    // --- per-event-type Gini of user activity (is traffic dominated
    // by a few heavy users?) ---
    "q_gini" -> ((s, dir) => {
      val act = ev(s, dir).groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n_ev"))
      Analytics.gini(act, Seq("event_type"), "n_ev", Seq("user_id"))
        .select(col("event_type"), col("n"), r3(col("gini")).as("gini"))
    }),

    // --- Clauset MLE power-law exponent of the user-activity tail ---
    "q_powerlaw" -> ((s, dir) => {
      val degs = ev(s, dir).groupBy("user_id").agg(count(lit(1)).as("deg"))
      Analytics.powerlawAlpha(degs, "deg", xmin = 5L)
        .select(col("n"), col("xmin"), r3(col("alpha")).as("alpha"),
          r3(col("alpha_se")).as("alpha_se"))
    }),

    // --- local clustering coefficient per node on the q_triangles
    // synthetic graph (degree-ordered wedge plan, per-node resolution) ---
    "q_clustering_coef" -> ((s, dir) =>
      Analytics.clusteringCoefficient(
          ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
            pmod(col("user_id") * 31 + 7, lit(97)).as("b")), "a", "b")
        .select(col("node"), col("degree"), col("n_tri"),
          r3(col("coef")).as("coef"))),

    // --- Benford first-digit conformance of order totals per priority ---
    "q_benford" -> ((s, dir) =>
      Quality.benford(Tables.orders(s, dir), Seq("o_orderpriority"),
          "o_totalprice")
        .select(col("o_orderpriority"), col("n"), r3(col("chi2")).as("chi2"),
          r3(col("mad")).as("mad"))),

    // --- k-anonymity / l-diversity risk profile over the customer
    // quasi-identifiers (nation × segment), acctbal as the sensitive
    // attribute ---
    "q_kanon" -> ((s, dir) =>
      Quality.kAnonymity(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 5,
        sensitiveCol = Some("c_acctbal"), l = 3)),

    // --- Kneser-Ney smoothed bigram fluency (interpolated, D=0.75) ---
    "q_kn_bigram" -> ((s, dir) =>
      Text.knBigramScore(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id"), col("n_bigrams"),
          r3(col("kn_logprob")).as("kn_logprob"))),

    // --- Mann-Whitney rank-sum location test: doc length, en vs de
    // (the location-shift companion to q_ks_test on the same axis) ---
    "q_mannwhitney" -> ((s, dir) =>
      Quality.mannWhitneyU(
          Tables.documents(s, dir).withColumn("n_chars",
            length(col("text")).cast("double")),
          "n_chars", "lang", "en", "de")
        .select(r3(col("u")).as("u"), col("n_a"), col("n_b"),
          r3(col("z")).as("z"))),

    // --- Jensen-Shannon divergence of the source mix, en vs de ---
    "q_jsd" -> ((s, dir) =>
      Quality.jsDivergence(Tables.documents(s, dir), "source", "lang",
          "en", "de")
        .select(col("n_a"), col("n_b"), r3(col("jsd")).as("jsd"),
          r3(col("jsd_bits")).as("jsd_bits"))),

    // --- Theil-Sen robust per-user trend over DAILY means: the series
    // length is the stream's day span, so the pairwise join stays
    // bounded at every scale factor (rows per day grow, days don't).
    // Means on MILLI-SCALED INTEGER sums (the calibrationBins parity
    // discipline): a floating AVG accumulates in engine-specific order
    // and the median slope lands on .xxx5 rounding boundaries at sf1 ---
    "q_theilsen" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), floor(col("ts_sec") / 86400).as("day"))
        .agg((sum(floor(col("value") * 1000 + 0.5)) /
          (lit(1000.0) * count(lit(1)))).as("v"))
      Analytics.theilSen(daily, Seq("user_id"), "day", "v")
        .select(col("user_id"), col("n_pairs"), r3(col("slope")).as("slope"))
    }),

    // --- Mann-Kendall trend significance on the same daily frame the
    // Theil-Sen slope reads: S, tie-corrected variance, z ---
    "q_mannkendall" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), floor(col("ts_sec") / 86400).as("day"))
        .agg((sum(floor(col("value") * 1000 + 0.5)) /
          (lit(1000.0) * count(lit(1)))).as("v"))
      Analytics.mannKendall(daily, Seq("user_id"), "day", "v")
        .select(col("user_id"), col("n"), col("s"),
          r3(col("var_s")).as("var_s"), r3(col("z")).as("z"))
    }),

    // --- deterministic random-walk corpus over the q_triangles graph
    // (1 walk per node, 3 steps, hash-argmin neighbor choice) ---
    "q_walks" -> ((s, dir) =>
      Analytics.randomWalks(
          ev(s, dir).select(pmod(col("user_id"), lit(97)).as("a"),
            pmod(col("user_id") * 31 + 7, lit(97)).as("b")),
          "a", "b", walksPerNode = 1, walkLen = 3)),

    // --- 1-hop SGC feature propagation over a deterministic +7 ring
    // graph on the embedding corpus (output exploded to (id, pos, x)
    // cells for exact cross-engine comparison) ---
    "q_feat_prop" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val edges = em.select(col("vec_id").as("a"), (col("vec_id") + 7).as("b"))
        .join(em.select(col("vec_id").as("b")), Seq("b"), "left_semi")
      Similarity.featurePropagate(edges, "a", "b", em, "vec_id", "embedding",
          hops = 1)
        .select(col("vec_id"), posexplode(col("v_out")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos"), r3(col("x")).as("x"))
    }),

    // --- deterministic word2vec-style negative sampling: 3 negatives
    // per (user, event_type) positive, drawn from freq^0.75 over an
    // exact-integer cumulative table ---
    "q_negsample" -> ((s, dir) => {
      val e = ev(s, dir)
      val pos = e.filter(col("user_id") % 100 === 0)
        .select(col("user_id"), col("event_type")).distinct()
      val freqs = e.groupBy(col("event_type").as("item"))
        .agg(count(lit(1)).as("freq"))
      Sampling.negativeSample(pos, "user_id", "event_type",
        freqs, "item", "freq", k = 3)
    }),

    // --- CUPED variance reduction: per-user post-period value total
    // adjusted by the pre-period total (variant = user_id parity);
    // unit metrics on centi-scaled integers (the theilSen parity
    // lesson applied up front — sums stay exact in both engines) ---
    "q_cuped" -> ((s, dir) => {
      val e = ev(s, dir)
      val mid = e.agg(
        floor((min(col("ts_sec")) + max(col("ts_sec"))) / 2.0).as("_mid"))
      val cv = floor(col("value") * 100 + 0.5).cast("long")
      val units = e.crossJoin(broadcast(mid))
        .groupBy(col("user_id"), pmod(col("user_id"), lit(2)).as("variant"))
        .agg(sum(when(col("ts_sec") >= col("_mid"), cv).otherwise(0L)).as("y"),
          sum(when(col("ts_sec") < col("_mid"), cv).otherwise(0L)).as("x"))
      Analytics.cuped(units, "variant", "y", "x")
        // the var columns are ~1e9-magnitude second-moment sums: an
        // ABSOLUTE 1e-3 rounding needs ~3e-13 relative cross-engine
        // agreement, which double summation cannot promise (the sf2
        // drive caught the last digit flipping). The DIMENSIONLESS
        // variance ratio — the number CUPED is actually about — is
        // O(1) and rounds safely at every tier.
        .select(col("variant"), col("n"), r3(col("theta")).as("theta"),
          r3(col("mean_raw")).as("mean_raw"),
          r3(col("mean_cuped")).as("mean_cuped"),
          r3(when(col("var_raw") > 0, col("var_cuped") / col("var_raw")))
            .as("var_ratio"))
    }),

    // --- difference-in-differences: user-parity "rollout", pre/post
    // split at the stream midpoint, centi-scaled row metrics ---
    "q_did" -> ((s, dir) => {
      val e = ev(s, dir)
      val mid = e.agg(
        floor((min(col("ts_sec")) + max(col("ts_sec"))) / 2.0).as("_mid"))
      val f = e.crossJoin(broadcast(mid))
        .select(pmod(col("user_id"), lit(2)).cast("string").as("variant"),
          when(col("ts_sec") >= col("_mid"), "post").otherwise("pre")
            .as("period"),
          floor(col("value") * 100 + 0.5).as("v"))
      Analytics.diffInDiff(f, "variant", "1", "period", "post", "v")
        .select(col("n_t_post"), col("n_t_pre"), col("n_c_post"),
          col("n_c_pre"), r3(col("t_post")).as("t_post"),
          r3(col("t_pre")).as("t_pre"), r3(col("c_post")).as("c_post"),
          r3(col("c_pre")).as("c_pre"), r3(col("did")).as("did"))
    }),

    // --- one-step Huber robust mean of value per user ---
    "q_huber" -> ((s, dir) =>
      Quality.huberMean(ev(s, dir), Seq("user_id"), "value")
        .select(col("user_id"), col("n"), r3(col("median")).as("median"),
          r3(col("mad")).as("mad"), r3(col("huber_mean")).as("huber_mean"))),

    // --- Welch's t-test: doc length, en vs de (the parametric twin
    // of q_mannwhitney on the same axis) ---
    "q_ttest" -> ((s, dir) =>
      Quality.welchTTest(
          Tables.documents(s, dir).withColumn("n_chars",
            length(col("text")).cast("double")),
          "n_chars", "lang", "en", "de")
        .select(col("n_a"), col("n_b"), r3(col("mean_a")).as("mean_a"),
          r3(col("mean_b")).as("mean_b"), r3(col("t")).as("t"),
          r3(col("dof")).as("dof"))),

    // --- additive weekly decomposition of per-type daily volume ---
    "q_seasonal_decompose" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"),
          floor(col("ts_sec") / 86400).cast("long").as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
      Analytics.seasonalDecompose(daily, Seq("event_type"), "day", "n",
          period = 7)
        .select(col("event_type"), col("day"), col("y"),
          r3(col("trend")).as("trend"),
          r3(col("seasonal")).as("seasonal"),
          r3(col("residual")).as("residual"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_rows_per_day" ->
      "SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_rows FROM events GROUP BY 1",

    "q_distinct_per_day" ->
      "SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1",

    "q_timeline" ->
      s"$EvCte SELECT event_id, ts_sec, event_type, value FROM e WHERE user_id = 7",

    "q_parse_ts" ->
      """SELECT event_id,
        |       CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS parsed_sec,
        |       strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
        |       strftime(ts, '%d') AS day
        |FROM events""".stripMargin,

    "q_normalize" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
        |       l_quantity AS quantity, l_extendedprice AS price FROM lineitem""".stripMargin,

    "q_empty_null" ->
      "SELECT CASE WHEN lang = '' THEN NULL ELSE lang END AS lang, COUNT(*) AS n FROM documents GROUP BY 1",

    "q_clamp" ->
      "SELECT event_id, CASE WHEN value > 100.0 THEN 100.0 ELSE value END AS value_clamped FROM events",

    "q_valid_filter" ->
      """SELECT event_id, value - 90 AS vlat, value * 2 - 180 AS vlon
        |FROM events
        |WHERE value - 90 BETWEEN -90 AND 90 AND value * 2 - 180 BETWEEN -180 AND 180""".stripMargin,

    "q_dq_stats" ->
      """SELECT COUNT(*) AS total_records, COUNT(DISTINCT user_id) AS unique_user_id,
        |       COUNT(CASE WHEN value IS NULL THEN 1 END) AS null_value,
        |       COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS null_event_type
        |FROM events""".stripMargin,

    "q_movement_flag" ->
      """SELECT CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS movement_flag, COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_state_dist" ->
      """SELECT CASE WHEN coalesce(value, 0) < 50.0 THEN 'anchored' ELSE 'moving' END AS movement_state,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_sessionize" ->
      s"$SessCte SELECT event_id, user_id, session_id FROM sess",

    // Seeded continuation must reproduce the full-history ids on window 2.
    "q_sessionize_seeded" ->
      s"$SessCte SELECT event_id, user_id, session_id FROM sess WHERE ts_sec >= 1705276800",

    "q_sessions_per_day" ->
      s"""$SessCte
         |SELECT strftime(ts, '%Y-%m-%d') AS day,
         |       COUNT(DISTINCT (user_id, session_id)) AS n_sessions
         |FROM sess GROUP BY 1""".stripMargin,

    "q_traj_distance" ->
      s"""$EvCte, l AS (
         |  SELECT event_id, user_id, lat, lon,
         |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
         |)
         |SELECT event_id, user_id,
         |       floor((2 * 6371.0 * asin(sqrt(
         |         pow(sin(radians(lat - plat) / 2), 2) +
         |         cos(radians(plat)) * cos(radians(lat)) *
         |         pow(sin(radians(lon - plon) / 2), 2))))*1000 + 0.5)/1000 AS segment_km
         |FROM l""".stripMargin,

    "q_traj_sample" ->
      s"""$SessCte, m AS (
         |  SELECT sess.*, strftime(ts, '%Y-%m-%d') AS day,
         |         coalesce(value, 0) < 50.0 AS anch,
         |         floor(ts_sec / (CASE WHEN coalesce(value, 0) >= 80.0
         |           THEN 600 ELSE 3600 END)) AS bkt
         |  FROM sess
         |), r AS (
         |  SELECT m.*,
         |    row_number() OVER (PARTITION BY user_id, session_id, bkt
         |      ORDER BY ts_sec, event_id) AS mv_a,
         |    row_number() OVER (PARTITION BY user_id, session_id, bkt
         |      ORDER BY ts_sec DESC, event_id DESC) AS mv_d,
         |    row_number() OVER (PARTITION BY user_id, day, anch
         |      ORDER BY ts_sec, event_id) AS an_a,
         |    row_number() OVER (PARTITION BY user_id, day, anch
         |      ORDER BY ts_sec DESC, event_id DESC) AS an_d,
         |    row_number() OVER (PARTITION BY user_id, day
         |      ORDER BY ts_sec, event_id) AS dy_a,
         |    row_number() OVER (PARTITION BY user_id, day
         |      ORDER BY ts_sec DESC, event_id DESC) AS dy_d
         |  FROM m
         |)
         |SELECT event_id, user_id, session_id FROM r
         |WHERE (NOT anch AND (mv_a = 1 OR mv_d = 1))
         |   OR (anch AND (an_a = 1 OR an_d = 1))
         |   OR dy_a = 1 OR dy_d = 1""".stripMargin,

    "q_rolling_distinct" ->
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        |              WHERE ts IS NOT NULL),
        |ex AS (
        |  SELECT w.day,
        |         COUNT(DISTINCT CAST(e.ts AS DATE)) AS n_days,
        |         COUNT(DISTINCT e.user_id) AS n_exact
        |  FROM days w JOIN events e
        |    ON CAST(e.ts AS DATE) BETWEEN w.day - INTERVAL 6 DAY AND w.day
        |  GROUP BY 1)
        |SELECT day, n_days, n_exact, TRUE AS approx_ok FROM ex""".stripMargin,

    "q_rolling_distinct_dim" ->
      """WITH days AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day
        |              FROM events WHERE ts IS NOT NULL),
        |ex AS (
        |  SELECT w.event_type, w.day,
        |         COUNT(DISTINCT CAST(e.ts AS DATE)) AS n_days,
        |         COUNT(DISTINCT e.user_id) AS n_exact
        |  FROM days w JOIN events e
        |    ON e.event_type = w.event_type
        |   AND CAST(e.ts AS DATE) BETWEEN w.day - INTERVAL 6 DAY AND w.day
        |  GROUP BY 1, 2)
        |SELECT event_type, day, n_days, n_exact, TRUE AS approx_ok FROM ex""".stripMargin,

    "q_expectations" ->
      """WITH t AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN NOT coalesce(value >= 0, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_value,
        |         CAST(SUM(CASE WHEN NOT coalesce(event_type IN
        |             ('click','view','purchase','signup','error'), TRUE)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS v_type,
        |         CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ts,
        |         CAST(SUM(CASE WHEN NOT coalesce(user_id >= 0, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_user
        |  FROM events)
        |SELECT 'value_nonneg' AS check_name, v_value AS n_violations, n AS n_rows FROM t
        |UNION ALL SELECT 'type_known', v_type, n FROM t
        |UNION ALL SELECT 'ts_present', v_ts, n FROM t
        |UNION ALL SELECT 'user_nonneg', v_user, n FROM t""".stripMargin,

    "q_attribution_first" ->
      s"""$EvCte, ft AS (
         |  SELECT event_type, min(CASE WHEN event_type IN ('click','view')
         |                    THEN struct_pack(t := ts_sec, i := event_id,
         |                                    y := event_type) END)
         |           OVER (PARTITION BY user_id ORDER BY ts_sec
         |                 RANGE BETWEEN 7200 PRECEDING AND 1 PRECEDING) AS f
         |  FROM e
         |)
         |SELECT coalesce(f.y, 'direct') AS channel, COUNT(*) AS n_conv
         |FROM ft WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,

    "q_attribution" ->
      s"""$EvCte, lt AS (
         |  SELECT event_type, ts_sec,
         |         last_value(CASE WHEN event_type IN ('click','view')
         |                    THEN struct_pack(t := ts_sec, y := event_type) END
         |                    IGNORE NULLS)
         |           OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
         |  FROM e
         |)
         |SELECT CASE WHEN prev.t IS NOT NULL AND ts_sec - prev.t <= 7200
         |            THEN prev.y ELSE 'direct' END AS channel,
         |       COUNT(*) AS n_conv
         |FROM lt WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,

    "q_ivm" ->
      """WITH v1 AS (
        |  SELECT event_id, event_type, value FROM events WHERE event_id % 5 != 4
        |), v2 AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
        |  FROM v1 WHERE event_id % 11 != 0
        |  UNION ALL
        |  SELECT event_id, event_type, value FROM events WHERE event_id % 5 = 4
        |)
        |SELECT event_type, COUNT(*) AS n_rows,
        |       floor(SUM(value)*1000 + 0.5)/1000 AS sum_value,
        |       COUNT(value) AS nv_value
        |FROM v2 GROUP BY 1""".stripMargin,

    "q_state_merge" ->
      s"""$SessCte
         |SELECT user_id, session_id,
         |       MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
         |       COUNT(*) AS n_points,
         |       floor(SUM(value)*1000 + 0.5)/1000 AS sum_value
         |FROM sess GROUP BY 1, 2""".stripMargin,

    "q_monthly" ->
      s"""$SessCte, ds AS (
         |  SELECT user_id, session_id, strftime(ts, '%Y-%m-%d') AS day,
         |         MIN(ts_sec) AS f, MAX(ts_sec) AS l, COUNT(*) AS c, SUM(value) AS sv
         |  FROM sess GROUP BY 1, 2, 3
         |), act AS (
         |  SELECT DISTINCT user_id, session_id FROM ds WHERE day = '2024-01-15'
         |)
         |SELECT ds.user_id, ds.session_id,
         |       MIN(f) AS start_sec, MAX(l) AS end_sec,
         |       CAST(SUM(c) AS BIGINT) AS n_points,
         |       floor(SUM(sv)*1000 + 0.5)/1000 AS sum_value,
         |       (MAX(l) - MIN(f)) / 3600.0 AS duration_hours
         |FROM ds JOIN act USING (user_id, session_id)
         |GROUP BY 1, 2""".stripMargin,

    "q_session_summary" ->
      s"""$SessCte
         |SELECT user_id, session_id,
         |       MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
         |       COUNT(*) AS n_points,
         |       (MAX(ts_sec) - MIN(ts_sec)) / 3600.0 AS duration_hours,
         |       floor(SUM(value)*1000 + 0.5)/1000 AS sum_value,
         |       floor((SUM(value)/COUNT(*))*1000 + 0.5)/1000 AS avg_value
         |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q_daily_segments" ->
      s"""$EvCte
         |SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         |       MIN(ts_sec) AS day_first_sec, MAX(ts_sec) AS day_last_sec
         |FROM e GROUP BY 1, 2""".stripMargin,

    "q_daily_metrics" ->
      s"""$SessCte
         |SELECT user_id, session_id, strftime(ts, '%Y-%m-%d') AS day,
         |       COUNT(*) AS day_pointcount, floor(SUM(value)*1000 + 0.5)/1000 AS day_sum_value
         |FROM sess GROUP BY 1, 2, 3""".stripMargin,

    "q_latest_per_key" ->
      s"""$EvCte
         |SELECT user_id, ts_sec, event_id, event_type, value FROM (
         |  SELECT e.*, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts_sec DESC, event_id DESC) AS rn FROM e
         |) WHERE rn = 1""".stripMargin,

    "q_haversine" ->
      s"""$EvCte, l AS (
         |  SELECT user_id, lat, lon,
         |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
         |), d AS (
         |  SELECT user_id,
         |         2 * 6371.0 * asin(sqrt(
         |           pow(sin(radians(lat - plat) / 2), 2) +
         |           cos(radians(plat)) * cos(radians(lat)) *
         |           pow(sin(radians(lon - plon) / 2), 2))) AS km
         |  FROM l
         |)
         |SELECT user_id, floor(SUM(km)*1000 + 0.5)/1000 AS total_km, COUNT(km) AS n_segments
         |FROM d GROUP BY user_id""".stripMargin,

    // bisection geohash via recursive CTE — same IEEE midpoint ops as the
    // codegen expression, so parity is bit-exact (spec also checks
    // published fixture values)
    "q_geohash" -> GeohashSql,

    // Synthetic-image contract: dims and every pixel are pure functions
    // of doc_id (row y is constant gray (doc_id+y)%256), so the oracle
    // predicts the decoded header dims, pixel sum, and the roundtrip
    // verification bit without touching a codec.
    // pixel(doc, x, y) = (doc + y) % 256 is x-independent, so each
    // 8x4 patch sums to 8 * sum over its 4 rows — derivable in SQL
    "q_patchify" ->
      """WITH dims AS (SELECT doc_id, CAST(16 + doc_id % 16 AS INT) AS w,
        |                     CAST(8 + doc_id % 8 AS INT) AS h FROM documents),
        |p AS (SELECT d.doc_id, x.px, y.py
        |      FROM dims d, range(0, 4) x(px), range(0, 4) y(py)
        |      WHERE x.px < d.w // 8 AND y.py < d.h // 4),
        |s AS (SELECT p.doc_id, p.px, p.py,
        |             CAST(8 * SUM((p.doc_id + p.py * 4 + i.i) % 256) AS BIGINT)
        |               AS patch_sum
        |      FROM p, range(0, 4) i(i) GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(px AS INT) AS patch_x, CAST(py AS INT) AS patch_y,
        |       patch_sum
        |FROM s""".stripMargin,

    "q_multimodal" ->
      """WITH dims AS (SELECT doc_id, CAST(16 + doc_id % 16 AS INT) AS w,
        |                     CAST(8 + doc_id % 8 AS INT) AS h FROM documents),
        |ys AS (SELECT y FROM range(0, 24) t(y)),
        |rs AS (SELECT d.doc_id, SUM((d.doc_id + y.y) % 256) AS rowsum
        |       FROM dims d JOIN ys y ON y.y < d.h GROUP BY d.doc_id)
        |SELECT d.doc_id, d.w AS width, d.h AS height, d.w * d.h AS n_pixels,
        |       CAST(d.w * r.rowsum AS BIGINT) AS pixel_sum, TRUE AS px_ok
        |FROM dims d JOIN rs r USING (doc_id)""".stripMargin,

    "q_multimodal_frames" ->
      """WITH f AS (SELECT doc_id, CAST(1 + doc_id % 4 AS INT) AS n_frames
        |           FROM documents),
        |fs AS (SELECT i FROM range(0, 4) t(i)),
        |s AS (SELECT f.doc_id, CAST(COUNT(*) AS INT) AS n_sampled,
        |             CAST(SUM((f.doc_id * 7 + fs.i * 11) % 256) AS BIGINT) AS sampled_sum
        |      FROM f JOIN fs ON fs.i < f.n_frames AND fs.i % 2 = 0
        |      GROUP BY f.doc_id)
        |SELECT f.doc_id, f.n_frames, s.n_sampled, s.sampled_sum
        |FROM f JOIN s USING (doc_id)""".stripMargin,

    "q_image_neardup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         xor(CAST(concat('0x',
        |               substr(md5(CAST(doc_id // 8 AS VARCHAR)), 1, 15))
        |             AS BIGINT),
        |             CAST(1 AS BIGINT) << CAST(doc_id % 8 AS INTEGER)) AS h
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        |FROM d a JOIN d b
        |  ON a.doc_id // 8 = b.doc_id // 8 AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin,

    "q_spatial_grid" ->
      s"""$EvCte
         |SELECT CAST(floor(lat / 5.0) * 5.0 AS INT) AS grid_lat,
         |       CAST(floor(lon / 5.0) * 5.0 AS INT) AS grid_lon,
         |       COUNT(*) AS n
         |FROM e GROUP BY 1, 2""".stripMargin,

    "q_lookup_join" ->
      """SELECT r_name, COUNT(*) AS n_customers, floor(AVG(c_acctbal)*1000 + 0.5)/1000 AS avg_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_dim_build" ->
      """SELECT DISTINCT trim(n_name) AS name, 'nation' AS source FROM nation
        |UNION
        |SELECT DISTINCT trim(r_name) AS name, 'region' AS source FROM region""".stripMargin,

    "q_dedup_exact" ->
      "SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups FROM documents GROUP BY text",

    "q_dedup_best" ->
      """WITH d AS (SELECT doc_id, text,
        |                  CAST(regexp_extract(source, '[0-9]+') AS INT) AS src_pri
        |           FROM documents),
        |r AS (SELECT doc_id, text, src_pri,
        |             row_number() OVER (PARTITION BY text
        |               ORDER BY src_pri DESC, doc_id ASC) AS rn,
        |             COUNT(*) OVER (PARTITION BY text) AS n_dups
        |      FROM d)
        |SELECT doc_id, src_pri, n_dups FROM r WHERE rn = 1""".stripMargin,

    // Every formerly-rows-only query now carries a measured gate:
    // q_hash_key asserts the hash contract (injectivity/determinism via
    // distinct counts), q_dedup_simhash / q_fingerprint emit
    // oracle-derivable invariants computed in-engine, q_ann_lsh /
    // q_ann_ivf emit recall rows whose oracle replicates the full
    // approximate pipeline (cross-engine md5 pick / literal planes).

    "q_hash_key" ->
      """SELECT COUNT(*) AS n_rows,
        |       CAST(COUNT(DISTINCT (text, lang)) AS BIGINT) AS n_inputs,
        |       TRUE AS injective_ok FROM documents""".stripMargin,

    "q_dedup_simhash" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |       CAST(0 AS BIGINT) AS n_missed,
        |       CAST(0 AS BIGINT) AS n_extra""".stripMargin,

    "q_dedup_simhash_pairs" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |       TRUE AS within_bound, TRUE AS pairs_distinct""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, TRUE AS sound, TRUE AS in_bounds,
        |       CAST(1 AS INTEGER) AS n_fp_sets FROM documents""".stripMargin,

    "q_ann_lsh" -> {
      val bucketCols = lshBucketSqls("v").zipWithIndex
        .map { case (e, t) => s"$e AS b$t" }.mkString(",\n")
      val tableJoins = lshBucketSqls("v").indices.map { t =>
        s"""SELECT qb.query_id, c.vec_id AS cand_id
           |FROM bk c JOIN qb ON c.b$t = qb.b$t AND qb.query_id <> c.vec_id"""
          .stripMargin.replace("\n", " ")
      }.mkString("\n    UNION\n    ")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bk AS (SELECT vec_id, v, $bucketCols FROM v),
         |qb AS (SELECT vec_id AS query_id, ${lshBucketSqls("v").indices.map(t => s"b$t").mkString(", ")} FROM bk WHERE vec_id < 10),
         |q AS (SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 10),
         |pairs AS (
         |    $tableJoins
         |),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT p.query_id, p.cand_id,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY ${cosSql("q.vq", "cv.v")} DESC, p.cand_id ASC) AS rnk
         |    FROM pairs p JOIN q ON q.query_id = p.query_id
         |                 JOIN v cv ON cv.vec_id = p.cand_id
         |  ) WHERE rnk <= 5),
         |$BruteTop5Cte,
         |$RecallTailSql""".stripMargin
    },

    "q_ann_binary" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 10),
         |ham AS (
         |  SELECT q.query_id, c.vec_id AS cand_id, c.v,
         |         len(list_filter(range(1, 65),
         |             i -> (q.vq[i] > 0) <> (c.v[i] > 0))) AS hd
         |  FROM v c CROSS JOIN q WHERE q.query_id <> c.vec_id),
         |short AS (
         |  SELECT query_id, cand_id, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY hd ASC, cand_id ASC) AS hrnk FROM ham
         |  ) WHERE hrnk <= 50),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT s.query_id, s.cand_id,
         |           row_number() OVER (PARTITION BY s.query_id
         |             ORDER BY ${cosSql("q.vq", "s.v")} DESC, s.cand_id ASC) AS rnk
         |    FROM short s JOIN q ON q.query_id = s.query_id
         |  ) WHERE rnk <= 5),
         |$BruteTop5Cte,
         |$RecallTailSql""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS (
         |  SELECT v AS cv, sqrt(${dotSql("v", "v")}) AS cnrm,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC) - 1 AS cell
         |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC LIMIT 16),
         |assign AS (
         |  SELECT cand_id, v, nrm, cell FROM (
         |    SELECT b.vec_id AS cand_id, b.v AS v,
         |           sqrt(${dotSql("b.v", "b.v")}) AS nrm, c.cell,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.v", "c.cv")} / c.cnrm DESC, c.cell ASC) AS rn
         |    FROM v b CROSS JOIN cent c
         |  ) WHERE rn = 1),
         |probe AS (
         |  SELECT query_id, vq, nrmq, cell FROM (
         |    SELECT b.vec_id AS query_id, b.v AS vq,
         |           sqrt(${dotSql("b.v", "b.v")}) AS nrmq, c.cell,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.v", "c.cv")} / c.cnrm DESC, c.cell ASC) AS rn
         |    FROM v b CROSS JOIN cent c WHERE b.vec_id < 10
         |  ) WHERE rn <= 4),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT p.query_id, a.cand_id,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY ${dotSql("p.vq", "a.v")} / (p.nrmq * a.nrm) DESC,
         |                      a.cand_id ASC) AS rnk
         |    FROM assign a JOIN probe p ON a.cell = p.cell AND p.query_id <> a.cand_id
         |  ) WHERE rnk <= 5),
         |q AS (SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 10),
         |$BruteTop5Cte,
         |$RecallTailSql""".stripMargin,

    "q_dedup_jaccard" -> JaccardSql,

    "q_containment" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(string_split(text,' ')) >= 3
        |           THEN list_distinct(list_transform(
        |             range(1, len(string_split(text,' ')) - 1),
        |             i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
        |           ELSE [] END AS s
        |  FROM documents
        |), sz AS (SELECT id, len(s) AS n FROM sh),
        |inv AS (SELECT id, unnest(s) AS g FROM sh),
        |co AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
        |       FROM inv a JOIN inv b ON a.g = b.g AND a.id <> b.id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       floor(common::DOUBLE / na.n * 1000 + 0.5)/1000 AS containment
        |FROM co JOIN sz na ON na.id = co.id_a
        |WHERE common::DOUBLE / na.n >= 0.8""".stripMargin,

    // MinHash+LSH at t=0.7 has recall ≈ 1-1e-4 and exact-verifies every
    // candidate, so its output equals the exact Jaccard join.
    "q_dedup_minhash" -> JaccardSql,

    // exact tf-weighted 3-gram multiset Jaccard at t >= 0.7: tf tables
    // per (id, gram), Σmin over common grams, Σmax = tot_a + tot_b − Σmin
    "q_dedup_wminhash" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |         unnest(list_transform(
        |           range(1, len(string_split(text,' ')) - 1),
        |           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS g
        |  FROM documents WHERE len(string_split(text,' ')) >= 3
        |), tf AS (
        |  SELECT id, g, COUNT(*) AS c FROM toks GROUP BY 1, 2
        |), sz AS (
        |  SELECT id, SUM(c) AS tot FROM tf GROUP BY 1
        |), co AS (
        |  SELECT a.id AS id_a, b.id AS id_b, SUM(LEAST(a.c, b.c)) AS common
        |  FROM tf a JOIN tf b ON a.g = b.g AND a.id < b.id
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT id_a, id_b, common, sa.tot AS tot_a, sb.tot AS tot_b
        |  FROM co JOIN sz sa ON sa.id = co.id_a JOIN sz sb ON sb.id = co.id_b
        |)
        |SELECT id_a, id_b,
        |       common::DOUBLE / (tot_a + tot_b - common) AS jaccard_w
        |FROM p WHERE common::DOUBLE / (tot_a + tot_b - common) >= 0.7"""
        .stripMargin,

    // incremental WEIGHTED dedup ≡ the exact weighted-Jaccard join
    // restricted to pairs with a new (doc_id % 10 = 0) left side —
    // the q_dedup_delta tail over the q_dedup_wminhash tf machinery
    "q_dedup_wdelta" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |         unnest(list_transform(
        |           range(1, len(string_split(text,' ')) - 1),
        |           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS g
        |  FROM documents WHERE len(string_split(text,' ')) >= 3
        |), tf AS (
        |  SELECT id, g, COUNT(*) AS c FROM toks GROUP BY 1, 2
        |), sz AS (
        |  SELECT id, SUM(c) AS tot FROM tf GROUP BY 1
        |), co AS (
        |  SELECT a.id AS id_a, b.id AS id_b, SUM(LEAST(a.c, b.c)) AS common
        |  FROM tf a JOIN tf b ON a.g = b.g AND a.id < b.id
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT id_a, id_b, common, sa.tot AS tot_a, sb.tot AS tot_b
        |  FROM co JOIN sz sa ON sa.id = co.id_a JOIN sz sb ON sb.id = co.id_b
        |), d AS (
        |  SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS new_id,
        |         CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS dup_id,
        |         common::DOUBLE / (tot_a + tot_b - common) AS jaccard_w
        |  FROM p WHERE id_a % 10 = 0 OR id_b % 10 = 0
        |)
        |SELECT new_id, dup_id, jaccard_w,
        |       CASE WHEN dup_id % 10 = 0 THEN 'new' ELSE 'old' END AS dup_src
        |FROM d WHERE jaccard_w >= 0.7""".stripMargin,

    // incremental dedup ≡ the exact Jaccard join restricted to pairs with
    // a new (doc_id % 10 = 0) left side; new-new pairs emitted once
    "q_dedup_delta" ->
      s"""WITH $JaccardCtes, d AS (
         |  SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS new_id,
         |         CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS dup_id,
         |         common::DOUBLE / (n_a + n_b - common) AS jaccard
         |  FROM p WHERE id_a % 10 = 0 OR id_b % 10 = 0
         |)
         |SELECT new_id, dup_id, jaccard,
         |       CASE WHEN dup_id % 10 = 0 THEN 'new' ELSE 'old' END AS dup_src
         |FROM d WHERE jaccard >= 0.7""".stripMargin,

    "q_dedup_cosine" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       ${cosSql("a.v", "b.v")} AS cos
         |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.v", "b.v")} >= 0.35""".stripMargin,

    "q_int8" -> {
      val cf = cosSql("q.vq", "c.v")
      val cq = cosSql("q.dqq", "c.dq")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT CAST(MIN(list_min(v)) AS DOUBLE) AS lo,
         |             CAST(MAX(list_max(v)) AS DOUBLE) AS hi FROM v),
         |d AS (SELECT vec_id, v,
         |        list_transform(v, x -> lo +
         |          (least(greatest(floor((x - lo) * 255.0 / (hi - lo)), 0.0), 255.0) + 0.5)
         |          * (hi - lo) / 255.0) AS dq
         |      FROM v, b),
         |q AS (SELECT vec_id AS query_id, v AS vq, dq AS dqq FROM d WHERE vec_id < 10)
         |SELECT q.query_id, COUNT(*) AS n_cands,
         |       floor(MAX(abs($cf - $cq))*1000 + 0.5)/1000 AS max_abs_err,
         |       (MAX(abs($cf - $cq)) <= 0.05) AS ok
         |FROM d c CROSS JOIN q WHERE c.vec_id <> q.query_id
         |GROUP BY q.query_id""".stripMargin
    },

    "q_rand_proj" -> {
      val cf = cosSql("q.vq", "c.v")
      val cp = cosSql("q.pq", "c.pv")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id, v, ${projSql("v")} AS pv FROM v),
         |q AS (SELECT vec_id AS query_id, v AS vq, pv AS pq FROM p WHERE vec_id < 10)
         |SELECT q.query_id, COUNT(*) AS n_cands,
         |       floor(MAX(abs($cf - $cp))*1000 + 0.5)/1000 AS max_abs_err,
         |       (MAX(abs($cf - $cp)) <= $RandProjEps) AS ok
         |FROM p c CROSS JOIN q WHERE c.vec_id <> q.query_id
         |GROUP BY q.query_id""".stripMargin
    },

    "q_zones" ->
      s"""$EvCte, z AS (
         |  SELECT * FROM (VALUES $ZoneValuesSql)
         |    AS t(zone, zone_lat, zone_lon, radius_km)
         |)
         |SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_points,
         |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_entities,
         |       MIN(ts_sec) AS first_sec, MAX(ts_sec) AS last_sec
         |FROM e JOIN z
         |  ON 2 * 6371.0 * asin(sqrt(
         |       pow(sin(radians(zone_lat - lat) / 2), 2) +
         |       cos(radians(lat)) * cos(radians(zone_lat)) *
         |       pow(sin(radians(zone_lon - lon) / 2), 2))) <= radius_km
         |GROUP BY zone""".stripMargin,

    "q_triplets" -> {
      val cs = cosSql("a.va", "c.v")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |a AS (SELECT vec_id AS anchor_id, v AS va FROM v WHERE vec_id < 20),
         |sc AS MATERIALIZED (
         |  SELECT a.anchor_id, c.vec_id AS cand_id, $cs AS cos
         |  FROM v c CROSS JOIN a WHERE c.vec_id <> a.anchor_id),
         |pos AS (
         |  SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY cos DESC, cand_id ASC) AS rn
         |    FROM sc WHERE cos >= 0.3) WHERE rn = 1),
         |neg AS (
         |  SELECT anchor_id, cand_id AS neg_id, cos AS neg_cos,
         |         row_number() OVER (PARTITION BY anchor_id
         |           ORDER BY cos DESC, cand_id ASC) AS neg_rank
         |  FROM sc WHERE cos < 0.3)
         |SELECT n.anchor_id, p.pos_id, floor(p.pos_cos*1000 + 0.5)/1000 AS pos_cos,
         |       n.neg_id, floor(n.neg_cos*1000 + 0.5)/1000 AS neg_cos, n.neg_rank
         |FROM neg n JOIN pos p USING (anchor_id) WHERE n.neg_rank <= 3""".stripMargin
    },

    "q_triplets_ann" -> {
      val cs = s"""(${dotSql("p.vq", "a.v")} / (p.nrmq * a.nrm))"""
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS (
         |  SELECT v AS cv, sqrt(${dotSql("v", "v")}) AS cnrm,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC) - 1 AS cell
         |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC LIMIT 16),
         |assign AS MATERIALIZED (
         |  SELECT cand_id, v, nrm, cell FROM (
         |    SELECT b.vec_id AS cand_id, b.v AS v,
         |           sqrt(${dotSql("b.v", "b.v")}) AS nrm, c.cell,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.v", "c.cv")} / c.cnrm DESC, c.cell ASC) AS rn
         |    FROM v b CROSS JOIN cent c
         |  ) WHERE rn = 1),
         |probe AS MATERIALIZED (
         |  SELECT query_id, vq, nrmq, cell FROM (
         |    SELECT b.vec_id AS query_id, b.v AS vq,
         |           sqrt(${dotSql("b.v", "b.v")}) AS nrmq, c.cell,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.v", "c.cv")} / c.cnrm DESC, c.cell ASC) AS rn
         |    FROM v b CROSS JOIN cent c WHERE b.vec_id < 20
         |  ) WHERE rn <= 4),
         |sc AS MATERIALIZED (
         |  SELECT anchor_id, cand_id, cos FROM (
         |    SELECT p.query_id AS anchor_id, a.cand_id, $cs AS cos,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY $cs DESC, a.cand_id ASC) AS rnk
         |    FROM assign a JOIN probe p ON a.cell = p.cell AND p.query_id <> a.cand_id
         |  ) WHERE rnk <= 16),
         |pos AS (
         |  SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY cos DESC, cand_id ASC) AS rn
         |    FROM sc WHERE cos >= 0.3) WHERE rn = 1),
         |neg AS (
         |  SELECT anchor_id, cand_id AS neg_id, cos AS neg_cos,
         |         row_number() OVER (PARTITION BY anchor_id
         |           ORDER BY cos DESC, cand_id ASC) AS neg_rank
         |  FROM sc WHERE cos < 0.3)
         |SELECT n.anchor_id, p.pos_id, floor(p.pos_cos*1000 + 0.5)/1000 AS pos_cos,
         |       n.neg_id, floor(n.neg_cos*1000 + 0.5)/1000 AS neg_cos, n.neg_rank
         |FROM neg n JOIN pos p USING (anchor_id) WHERE n.neg_rank <= 3""".stripMargin
    },

    // the oracle states the SEMANTICS (exact global greedy prefix); the
    // Spark side's bucketed threshold+boundary plan must equal it
    "q_budget_select" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars/600.0 AS score,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |         SUM(toks) OVER (ORDER BY score DESC, doc_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  -- mirror budgetSelect's up-front exclusion of null-score /
        |  -- non-positive-weight rows so both engines state the same filter
        |  FROM d WHERE toks > 0 AND score IS NOT NULL
        |)
        |SELECT doc_id, toks FROM c WHERE cum <= 10000""".stripMargin,

    "q_snake_shards" ->
      """SELECT doc_id, lang,
        |       CAST(CASE WHEN (rn // 4) % 2 = 0 THEN rn % 4
        |            ELSE 3 - rn % 4 END AS INTEGER) AS shard
        |FROM (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY n_chars DESC, doc_id ASC) - 1 AS rn
        |      FROM documents)""".stripMargin,

    "q_ann_pq" -> {
      // subspace-keyed Lloyd: q_kmeans' assign/refit with `sub` as an
      // extra group key, then codes + LUT-sum ADC scoring
      def assign(cents: String) =
        s"""SELECT id, sub, vs, nrm, cell FROM (
           |    SELECT b.id, b.sub, b.vs, b.nrm, c.cell,
           |           row_number() OVER (PARTITION BY b.id, b.sub
           |             ORDER BY (${dotSql("c.c", "c.c")}
           |               - 2.0 * ${dotSql("b.vs", "c.c")}) ASC, c.cell ASC) AS rn
           |    FROM sv b JOIN $cents c ON c.sub = b.sub) WHERE rn = 1""".stripMargin
      def refit(asg: String) =
        s"""SELECT sub, cell, list_transform(
           |    list_sort(list({'d': dim, 'm': m})), r -> r.m) AS c FROM (
           |    SELECT sub, cell, t.i AS dim, AVG(u.vs[t.i]) AS m
           |    FROM $asg u, unnest(generate_series(1, len(u.vs))) AS t(i)
           |    GROUP BY 1, 2, 3) GROUP BY sub, cell""".stripMargin
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sv AS MATERIALIZED (
         |  SELECT vec_id AS id, s.sub AS sub,
         |         v[s.sub*8 + 1 : s.sub*8 + 8] AS vs,
         |         sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM v, unnest(generate_series(0, 7)) AS s(sub)),
         |picked AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC) - 1
         |           AS cell
         |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC LIMIT 64),
         |c0 AS MATERIALIZED (
         |  SELECT b.sub, p.cell, b.vs AS c FROM sv b JOIN picked p ON b.id = p.id),
         |a1 AS MATERIALIZED (${assign("c0")}),
         |c1 AS MATERIALIZED (${refit("a1")}),
         |a2 AS MATERIALIZED (${assign("c1")}),
         |c2 AS MATERIALIZED (${refit("a2")}),
         |codes AS MATERIALIZED (
         |  SELECT id AS cand_id, sub, cell AS code, nrm AS nrm_c
         |  FROM (${assign("c2")})),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 10),
         |lut AS MATERIALIZED (
         |  SELECT b.id AS query_id, b.sub, c.cell, ${dotSql("b.vs", "c.c")} AS dp,
         |         b.nrm AS nrm_q
         |  FROM sv b JOIN c2 c ON c.sub = b.sub WHERE b.id < 10),
         |scored AS MATERIALIZED (
         |  SELECT l.query_id, k.cand_id, SUM(l.dp) AS dsum,
         |         ANY_VALUE(k.nrm_c) AS nrm_c, ANY_VALUE(l.nrm_q) AS nrm_q
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.cell = k.code
         |  GROUP BY 1, 2),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY dsum / NULLIF(nrm_q * nrm_c, 0) DESC, cand_id ASC)
         |             AS rnk
         |    FROM scored WHERE query_id <> cand_id
         |  ) WHERE rnk <= 5),
         |$BruteTop5Cte,
         |$RecallTailSql""".stripMargin
    },

    "q_ann_opq" -> {
      // the q_ann_pq replay with ONE extra CTE: every vector is rotated
      // by the literal orthogonal matrix before the subspace split (the
      // same Scala rotationMatrix call renders the literals — bit-for-
      // bit); brute truth stays in the ORIGINAL basis
      def assign(cents: String) =
        s"""SELECT id, sub, vs, nrm, cell FROM (
           |    SELECT b.id, b.sub, b.vs, b.nrm, c.cell,
           |           row_number() OVER (PARTITION BY b.id, b.sub
           |             ORDER BY (${dotSql("c.c", "c.c")}
           |               - 2.0 * ${dotSql("b.vs", "c.c")}) ASC, c.cell ASC) AS rn
           |    FROM sv b JOIN $cents c ON c.sub = b.sub) WHERE rn = 1""".stripMargin
      def refit(asg: String) =
        s"""SELECT sub, cell, list_transform(
           |    list_sort(list({'d': dim, 'm': m})), r -> r.m) AS c FROM (
           |    SELECT sub, cell, t.i AS dim, AVG(u.vs[t.i]) AS m
           |    FROM $asg u, unnest(generate_series(1, len(u.vs))) AS t(i)
           |    GROUP BY 1, 2, 3) GROUP BY sub, cell""".stripMargin
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |vr AS MATERIALIZED (
         |  SELECT vec_id, ${rotSql("v")} AS v FROM v),
         |sv AS MATERIALIZED (
         |  SELECT vec_id AS id, s.sub AS sub,
         |         v[s.sub*8 + 1 : s.sub*8 + 8] AS vs,
         |         sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM vr, unnest(generate_series(0, 7)) AS s(sub)),
         |picked AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC) - 1
         |           AS cell
         |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC LIMIT 64),
         |c0 AS MATERIALIZED (
         |  SELECT b.sub, p.cell, b.vs AS c FROM sv b JOIN picked p ON b.id = p.id),
         |a1 AS MATERIALIZED (${assign("c0")}),
         |c1 AS MATERIALIZED (${refit("a1")}),
         |a2 AS MATERIALIZED (${assign("c1")}),
         |c2 AS MATERIALIZED (${refit("a2")}),
         |codes AS MATERIALIZED (
         |  SELECT id AS cand_id, sub, cell AS code, nrm AS nrm_c
         |  FROM (${assign("c2")})),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 10),
         |lut AS MATERIALIZED (
         |  SELECT b.id AS query_id, b.sub, c.cell, ${dotSql("b.vs", "c.c")} AS dp,
         |         b.nrm AS nrm_q
         |  FROM sv b JOIN c2 c ON c.sub = b.sub WHERE b.id < 10),
         |scored AS MATERIALIZED (
         |  SELECT l.query_id, k.cand_id, SUM(l.dp) AS dsum,
         |         ANY_VALUE(k.nrm_c) AS nrm_c, ANY_VALUE(l.nrm_q) AS nrm_q
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.cell = k.code
         |  GROUP BY 1, 2),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY dsum / NULLIF(nrm_q * nrm_c, 0) DESC, cand_id ASC)
         |             AS rnk
         |    FROM scored WHERE query_id <> cand_id
         |  ) WHERE rnk <= 5),
         |$BruteTop5Cte,
         |$RecallTailSql""".stripMargin
    },

    "q_ann_ivfpq" ->
      s"""${ivfPqAdcCtes(10, 5)},
         |q AS (SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 10),
         |$BruteTop5Cte,
         |$RecallTailSql""".stripMargin,

    "q_kmeans" -> {
      // argmin ||v-c||^2 as (c.c − 2·v.c), both dots the strict-left-fold
      // dotSql convention — the exact doubles the Spark kernel computes
      def assign(cents: String) =
        s"""SELECT id, v, cell FROM (
           |    SELECT b.id, b.v, c.cell,
           |           row_number() OVER (PARTITION BY b.id
           |             ORDER BY (${dotSql("c.c", "c.c")}
           |               - 2.0 * ${dotSql("b.v", "c.c")}) ASC, c.cell ASC) AS rn
           |    FROM v b CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
      def refit(asg: String) =
        s"""SELECT cell, list_transform(
           |    list_sort(list({'d': dim, 'm': m})), r -> r.m) AS c FROM (
           |    SELECT cell, t.i AS dim, AVG(u.v[t.i]) AS m
           |    FROM $asg u, unnest(generate_series(1, len(u.v))) AS t(i)
           |    GROUP BY 1, 2) GROUP BY cell""".stripMargin
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)) ASC) - 1 AS cell,
         |         v AS c
         |  FROM v ORDER BY md5(CAST(id AS VARCHAR)) ASC LIMIT 8),
         |a1 AS MATERIALIZED (${assign("c0")}),
         |c1 AS MATERIALIZED (${refit("a1")}),
         |a2 AS MATERIALIZED (${assign("c1")}),
         |c2 AS MATERIALIZED (${refit("a2")})
         |SELECT cell, t.i AS dim,
         |       floor(c[t.i]*1000 + 0.5)/1000 AS mean
         |FROM c2, unnest(generate_series(1, len(c))) AS t(i)""".stripMargin
    },

    "q_semdedup" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS (
         |  SELECT v AS cv, sqrt(${dotSql("v", "v")}) AS cnrm,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC) - 1 AS cell
         |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC LIMIT 16),
         |assign AS (
         |  SELECT cand_id, v, nrm, cell FROM (
         |    SELECT b.vec_id AS cand_id, b.v AS v,
         |           sqrt(${dotSql("b.v", "b.v")}) AS nrm, c.cell,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.v", "c.cv")} / c.cnrm DESC, c.cell ASC) AS rn
         |    FROM v b CROSS JOIN cent c
         |  ) WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT a.cand_id AS id
         |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.cand_id < a.cand_id
         |  WHERE ${dotSql("a.v", "b.v")} / NULLIF(a.nrm * b.nrm, 0) >= 0.35)
         |SELECT a.cand_id AS id, a.cell, (d.id IS NOT NULL) AS dropped
         |FROM assign a LEFT JOIN dropped d ON d.id = a.cand_id""".stripMargin,

    "q_mrl_gate" -> {
      val cf = cosSql("q.vq", "c.v")
      val cp = cosSql("q.hq", "c.hv")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id, v, v[1:16] AS hv FROM v),
         |q AS (SELECT vec_id AS query_id, v AS vq, hv AS hq FROM p WHERE vec_id < 10)
         |SELECT q.query_id, COUNT(*) AS n_cands,
         |       floor(MAX(abs($cf - $cp))*1000 + 0.5)/1000 AS max_abs_err,
         |       (MAX(abs($cf - $cp)) <= $MrlEps) AS ok
         |FROM p c CROSS JOIN q WHERE c.vec_id <> q.query_id
         |GROUP BY q.query_id""".stripMargin
    },

    "q_dup_spans" ->
      """WITH sd AS (
        |  SELECT doc_id AS id, t.i - 1 AS pos,
        |         md5(array_to_string(string_split(text,' ')[t.i:t.i+7], ' ')) AS h
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text,' ')) - 7)) AS t(i)
        |  WHERE len(string_split(text,' ')) >= 8
        |), dup AS (SELECT h FROM sd GROUP BY h HAVING COUNT(*) >= 2),
        |dp AS (
        |  SELECT sd.id, sd.pos AS s, sd.pos + 7 AS e
        |  FROM sd JOIN dup ON sd.h = dup.h
        |), mk AS (
        |  SELECT id, s, e,
        |         CASE WHEN lagmax IS NULL OR s > lagmax THEN 1 ELSE 0 END AS nw
        |  FROM (SELECT id, s, e,
        |          max(e) OVER (PARTITION BY id ORDER BY s ASC, e ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lagmax
        |        FROM dp)
        |), sp AS (
        |  SELECT id, s, e,
        |         CAST(SUM(nw) OVER (PARTITION BY id ORDER BY s ASC, e ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS span_id
        |  FROM mk)
        |SELECT id, MIN(s) AS span_start, MAX(e) AS span_end, COUNT(*) AS n_seeds
        |FROM sp GROUP BY id, span_id""".stripMargin,

    // exact-substring twin: the window TEXT itself is the key (no md5) —
    // the oracle materializes every window, the Spark side never does
    "q_suffix_spans" ->
      """WITH sd AS (
        |  SELECT doc_id AS id, t.i - 1 AS pos,
        |         array_to_string(string_split(text,' ')[t.i:t.i+11], ' ') AS h
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text,' ')) - 11)) AS t(i)
        |  WHERE len(string_split(text,' ')) >= 12
        |), dup AS (SELECT h FROM sd GROUP BY h HAVING COUNT(*) >= 2),
        |dp AS (
        |  SELECT sd.id, sd.pos AS s, sd.pos + 11 AS e
        |  FROM sd JOIN dup ON sd.h = dup.h
        |), mk AS (
        |  SELECT id, s, e,
        |         CASE WHEN lagmax IS NULL OR s > lagmax THEN 1 ELSE 0 END AS nw
        |  FROM (SELECT id, s, e,
        |          max(e) OVER (PARTITION BY id ORDER BY s ASC, e ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lagmax
        |        FROM dp)
        |), sp AS (
        |  SELECT id, s, e,
        |         CAST(SUM(nw) OVER (PARTITION BY id ORDER BY s ASC, e ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS span_id
        |  FROM mk)
        |SELECT id, MIN(s) AS span_start, MAX(e) AS span_end, COUNT(*) AS n_seeds
        |FROM sp GROUP BY id, span_id""".stripMargin,

    "q_gopher" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |         string_split(text, ' ') AS toks,
        |         string_split(text, chr(10)) AS lns
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |         len(toks) AS n_words,
        |         list_reduce(list_transform(toks, w -> len(w)), (a,b) -> a+b)::DOUBLE AS char_sum,
        |         (length(text) - length(replace(text,'#','')))::DOUBLE AS hashes,
        |         ((length(text) - length(replace(text,'...',''))) / 3 +
        |          (length(text) - length(replace(text,'…',''))))::DOUBLE AS dots,
        |         len(lns)::DOUBLE AS n_lines,
        |         len(list_filter(lns, l -> starts_with(l,'-') OR starts_with(l,'*')
        |           OR starts_with(l,'•')))::DOUBLE AS bullets,
        |         len(list_filter(lns, l -> ends_with(l,'...') OR ends_with(l,'…')))::DOUBLE AS ellipses,
        |         len(list_filter(toks, w -> regexp_matches(w,'[A-Za-z]')))::DOUBLE AS alpha_w,
        |         len(list_filter(['the','be','to','of','and','that','have','with'],
        |           s -> list_contains(toks, s))) AS stop_hits
        |  FROM d
        |)
        |SELECT doc_id, n_words, g_words, g_word_len, g_symbol, g_bullet,
        |       g_ellipsis, g_alpha, g_stop,
        |       (g_words AND g_word_len AND g_symbol AND g_bullet AND g_ellipsis
        |         AND g_alpha AND g_stop) AS gopher_pass
        |FROM (
        |  SELECT doc_id, n_words::BIGINT AS n_words,
        |         (n_words >= 30 AND n_words <= 100000) AS g_words,
        |         (char_sum / n_words >= 3.0 AND char_sum / n_words <= 10.0) AS g_word_len,
        |         ((hashes + dots) / n_words <= 0.1) AS g_symbol,
        |         (bullets / n_lines <= 0.9) AS g_bullet,
        |         (ellipses / n_lines <= 0.3) AS g_ellipsis,
        |         (alpha_w / n_words >= 0.8) AS g_alpha,
        |         (stop_hits >= 2) AS g_stop
        |  FROM m
        |)""".stripMargin,

    // within-doc span build mirrors Spark's: span i covers tokens
    // i*5+1 .. i*5+5 (both engines clamp the trailing partial span),
    // first occurrence per (doc, span) survives, order by position
    "q_doc_span_dedup" ->
      """WITH sp AS (
        |  SELECT doc_id, t.i - 1 AS idx,
        |         array_to_string(
        |           string_split(text,' ')[(t.i-1)*5 + 1 : (t.i-1)*5 + 5], ' ') AS span
        |  FROM documents,
        |       unnest(generate_series(1,
        |         greatest((len(string_split(text,' ')) - 1) // 5, 0) + 1)) AS t(i)
        |), k AS (
        |  SELECT doc_id, idx, span,
        |         min(idx) OVER (PARTITION BY doc_id, span) AS first_idx
        |  FROM sp
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_kept,
        |       array_to_string(list(span ORDER BY idx), ' ') AS text_dedup
        |FROM k WHERE idx = first_idx GROUP BY doc_id""".stripMargin,

    "q_zipf" ->
      """WITH tk AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |), ct AS (
        |  SELECT tok, COUNT(*) AS c FROM tk WHERE tok <> '' GROUP BY tok
        |  ORDER BY c DESC, tok ASC LIMIT 30
        |), pts AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS DOUBLE)) AS x,
        |         ln(CAST(c AS DOUBLE)) AS y
        |  FROM ct
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
        |       floor(regr_slope(y, x)*1000 + 0.5)/1000 AS slope,
        |       floor(regr_intercept(y, x)*1000 + 0.5)/1000 AS intercept
        |FROM pts""".stripMargin,

    "q_ann_brute" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 10),
         |s AS (
         |  SELECT query_id, c.vec_id AS cand_id, ${cosSql("q.vq", "c.v")} AS cos
         |  FROM v c CROSS JOIN q WHERE q.query_id <> c.vec_id
         |)
         |SELECT query_id, cand_id, cos, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, cand_id ASC) AS rank FROM s
         |) WHERE rank <= 5""".stripMargin,

    "q_bm25" -> bm25Sql(k = 10, cols = "query_id, doc_id, bm25, n_terms, rank"),

    "q_trgm_multi" ->
      """WITH pats(pat_id, pat) AS (VALUES
        |  (CAST(1 AS BIGINT), 'merge batch'), (2, 'scan slow'),
        |  (3, 'the line sort'), (4, 'window table'))
        |SELECT p.pat_id, d.doc_id,
        |       CAST(strpos(d.text, p.pat) AS BIGINT) AS first_pos
        |FROM documents d CROSS JOIN pats p
        |WHERE contains(d.text, p.pat)""".stripMargin,

    "q_trgm_search" ->
      """SELECT doc_id, CAST(strpos(text, 'merge batch') AS BIGINT) AS first_pos
        |FROM documents WHERE contains(text, 'merge batch')""".stripMargin,

    "q_cdc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL
        |),
        |b AS (
        |  SELECT doc_id, text, n,
        |    list_filter(range(16, n + 1),
        |      i -> list_reduce(
        |             list_transform(range(i - 15, i + 1),
        |                            j -> unicode(substr(text, j, 1))),
        |             (acc, c) -> (acc * 31 + c) % 1000003) % 64 = 0) AS bnd
        |  FROM t
        |),
        |c AS (
        |  SELECT doc_id, text,
        |    list_prepend(1, list_transform(bnd, x -> x + 1)) AS starts,
        |    list_append(bnd, n) AS ends
        |  FROM b
        |),
        |u AS (
        |  SELECT doc_id, text,
        |    generate_subscripts(starts, 1) - 1 AS chunk_idx,
        |    unnest(starts) AS s, unnest(ends) AS e
        |  FROM c
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       CAST(s AS BIGINT) AS chunk_start,
        |       CAST(e - s + 1 AS BIGINT) AS chunk_len,
        |       md5(substr(text, CAST(s AS BIGINT), CAST(e - s + 1 AS BIGINT)))
        |         AS chunk_md5
        |FROM u WHERE s <= e""".stripMargin,

    "q_rrf_hybrid" ->
      s"""WITH sparse AS (${bm25Sql(k = 20, cols = "query_id, doc_id, rank")}),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 5),
         |cs AS (
         |  SELECT query_id, c.vec_id AS doc_id, ${cosSql("qv.vq", "c.v")} AS cos
         |  FROM v c CROSS JOIN qv WHERE qv.query_id <> c.vec_id
         |),
         |dense AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, doc_id ASC) AS rank FROM cs
         |  ) WHERE rank <= 20
         |),
         |u AS (SELECT * FROM sparse UNION ALL SELECT * FROM dense),
         |f AS (
         |  SELECT query_id, doc_id, SUM(1.0 / (60 + rank)) AS rrf,
         |         COUNT(*) AS n_lists
         |  FROM u GROUP BY 1, 2
         |)
         |SELECT query_id, doc_id, floor(rrf*1000 + 0.5)/1000 AS rrf,
         |       n_lists, rank
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id ASC) AS rank FROM f
         |) WHERE rank <= 10""".stripMargin,

    "q_maxsim" ->
      s"""WITH v AS (
         |  SELECT CAST(floor(vec_id / 8) AS BIGINT) AS mdoc, vec_id,
         |         embedding::DOUBLE[] AS v
         |  FROM embeddings
         |),
         |q AS (SELECT mdoc AS query_doc, vec_id AS qvec_id, v AS vq
         |      FROM v WHERE mdoc < 3),
         |s AS (
         |  SELECT query_doc, c.mdoc AS cand_doc, qvec_id,
         |         ${cosSql("q.vq", "c.v")} AS cos
         |  FROM v c CROSS JOIN q WHERE q.query_doc <> c.mdoc
         |),
         |m AS (SELECT query_doc, cand_doc, qvec_id, MAX(cos) AS best
         |      FROM s GROUP BY 1, 2, 3),
         |t AS (SELECT query_doc, cand_doc,
         |             floor(SUM(best)*1000 + 0.5)/1000 AS maxsim,
         |             COUNT(*) AS n_qvecs
         |      FROM m GROUP BY 1, 2)
         |SELECT query_doc, cand_doc, maxsim, n_qvecs, rank
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_doc
         |    ORDER BY maxsim DESC, cand_doc ASC) AS rank FROM t
         |) WHERE rank <= 5""".stripMargin,

    "q_sketch_rollup" ->
      """SELECT date_trunc('month', ts)::DATE AS month, event_type,
        |       COUNT(DISTINCT user_id) AS n_exact,
        |       TRUE AS rollup_ok, TRUE AS approx_ok
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_quantile_rollup" ->
      """SELECT date_trunc('month', ts)::DATE AS month, event_type,
        |       floor(quantile_cont(value, 0.5)*1000 + 0.5)/1000 AS p50_exact,
        |       TRUE AS p50_ok,
        |       floor(quantile_cont(value, 0.95)*1000 + 0.5)/1000 AS p95_exact,
        |       TRUE AS p95_ok
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_sketch_store" ->
      """SELECT date_trunc('month', ts)::DATE AS grain, event_type,
        |       COUNT(DISTINCT user_id) AS n_exact,
        |       TRUE AS rows_ok, TRUE AS hll_ok, TRUE AS kmv_ok,
        |       TRUE AS p50_ok, TRUE AS p95_ok
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Full estimator replay, not just TRUE gates: md5 bottom-k sketches
    // are engine-portable, so the estimates themselves hash-match.
    "q_corpus_overlap" ->
      """WITH g AS (
        |  SELECT cast(substr(source,4,10) AS INT) < 10 AS in_a,
        |         CASE WHEN len(string_split(text,' ')) >= 3
        |           THEN list_transform(range(1, len(string_split(text,' ')) - 1),
        |                i -> array_to_string(string_split(text,' ')[i:i+2], ' '))
        |           ELSE [] END AS s
        |  FROM documents WHERE text IS NOT NULL
        |), el AS (SELECT in_a, md5(unnest(s)) AS h FROM g),
        |da AS (SELECT DISTINCT h FROM el WHERE in_a),
        |db AS (SELECT DISTINCT h FROM el WHERE NOT in_a),
        |ka AS (SELECT h FROM da ORDER BY h LIMIT 512),
        |kb AS (SELECT h FROM db ORDER BY h LIMIT 512),
        |ku AS (SELECT h FROM (SELECT DISTINCT h FROM
        |        (SELECT h FROM ka UNION ALL SELECT h FROM kb)) ORDER BY h LIMIT 512),
        |mm AS (SELECT
        |  COUNT(*) FILTER (WHERE ka.h IS NOT NULL AND kb.h IS NOT NULL) AS m,
        |  COUNT(*) FILTER (WHERE ka.h IS NOT NULL AND kb.h IS NULL) AS m_a,
        |  COUNT(*) FILTER (WHERE kb.h IS NOT NULL AND ka.h IS NULL) AS m_b
        |  FROM ku LEFT JOIN ka ON ku.h = ka.h LEFT JOIN kb ON ku.h = kb.h),
        |ua AS (SELECT COUNT(*) AS n_sk, MAX(h) AS kth FROM ku),
        |ex AS (SELECT
        |  (SELECT COUNT(*) FROM da) AS n_a,
        |  (SELECT COUNT(*) FROM db) AS n_b,
        |  (SELECT COUNT(*) FROM da JOIN db USING (h)) AS n_inter),
        |est AS (SELECT
        |  CASE WHEN n_sk < 512 THEN n_sk::DOUBLE
        |       ELSE (n_sk - 1)::DOUBLE /
        |            (('0x' || substr(kth,1,15))::BIGINT / 1152921504606846976.0) END
        |    AS d_union_raw,
        |  CASE WHEN n_sk = 0 THEN 0.0 ELSE m::DOUBLE / n_sk::DOUBLE END AS jac_raw,
        |  CASE WHEN n_sk = 0 THEN 0.0 ELSE m_a::DOUBLE / n_sk::DOUBLE END AS ra,
        |  CASE WHEN n_sk = 0 THEN 0.0 ELSE m_b::DOUBLE / n_sk::DOUBLE END AS rb
        |  FROM mm, ua)
        |SELECT n_a, n_b, n_inter, n_a + n_b - n_inter AS n_union,
        |  CAST(floor(d_union_raw + 0.5) AS BIGINT) AS union_est,
        |  CAST(floor(jac_raw * d_union_raw + 0.5) AS BIGINT) AS inter_est,
        |  CAST(floor(ra * d_union_raw + 0.5) AS BIGINT) AS a_only_est,
        |  CAST(floor(rb * d_union_raw + 0.5) AS BIGINT) AS b_only_est,
        |  floor(n_inter::DOUBLE / (n_a + n_b - n_inter) * 1000 + 0.5)/1000 AS jaccard_exact,
        |  floor(jac_raw * 1000 + 0.5)/1000 AS jaccard_est,
        |  abs(CAST(floor(d_union_raw + 0.5) AS BIGINT) - (n_a + n_b - n_inter))
        |    <= (n_a + n_b - n_inter)::DOUBLE * 0.10 AS union_ok,
        |  abs(CAST(floor(jac_raw * d_union_raw + 0.5) AS BIGINT) - n_inter)
        |    <= greatest(n_inter::DOUBLE * 0.20,
        |                (n_a + n_b - n_inter)::DOUBLE / 512) AS inter_ok,
        |  abs(floor(jac_raw*1000+0.5)/1000
        |      - n_inter::DOUBLE / (n_a + n_b - n_inter)) <= 0.05 AS jac_ok
        |FROM ex, est""".stripMargin,

    "q_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
        |FROM documents""".stripMargin,

    "q_fertility" ->
      """WITH t AS (
        |  SELECT lang, len(string_split(text, ' ')) AS ws,
        |         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS re,
        |         length(text) AS ch
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS ws_total,
        |  CAST(SUM(re) AS BIGINT) AS re_total,
        |  floor(CAST(SUM(ws) AS BIGINT)::DOUBLE / COUNT(*) * 1000 + 0.5)/1000
        |    AS tokens_per_doc,
        |  floor(CAST(SUM(ch) AS BIGINT)::DOUBLE / CAST(SUM(re) AS BIGINT)
        |    * 1000 + 0.5)/1000 AS chars_per_token,
        |  floor(CAST(SUM(re) AS BIGINT)::DOUBLE / CAST(SUM(ws) AS BIGINT)
        |    * 1000 + 0.5)/1000 AS fertility
        |FROM t GROUP BY lang""".stripMargin,

    "q_normalize_text" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(nfc_normalize(text)),
        |                               '\s+', ' ', 'g'))) AS norm_md5,
        |       CAST(length(trim(regexp_replace(lower(nfc_normalize(text)),
        |                                       '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents WHERE text IS NOT NULL
        |UNION ALL
        |SELECT doc_id, NULL, NULL FROM documents WHERE text IS NULL""".stripMargin,

    "q_quality" ->
      """WITH q AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         length(text)::DOUBLE / len(string_split(text, ' ')) AS avg_token_len,
        |         CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE
        |                   / length(text) END AS punct_ratio,
        |         len(list_filter(string_split(text, ' '),
        |           t -> t IN ('the','a','and','of','to','in','is')))::DOUBLE
        |           / len(string_split(text, ' ')) AS stopword_ratio
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, n_tokens,
        |       floor(avg_token_len*1000 + 0.5)/1000 AS avg_token_len,
        |       floor(punct_ratio*1000 + 0.5)/1000 AS punct_ratio,
        |       floor(stopword_ratio*1000 + 0.5)/1000 AS stopword_ratio,
        |       floor((least(1.0::DOUBLE, n_tokens::DOUBLE / 32.0::DOUBLE) * 0.5
        |         + least(1.0::DOUBLE, stopword_ratio * 4) * 0.3
        |         + (1.0::DOUBLE - least(1.0::DOUBLE, punct_ratio * 4)) * 0.2)*1000 + 0.5)/1000
        |         AS quality_score
        |FROM q""".stripMargin,

    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text,' '), t -> t IN ('the','a','and','of','to','in','is'))) AS s_en,
        |    len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','das','ist','ein'))) AS s_de,
        |    len(list_filter(string_split(text,' '), t -> t IN ('le','la','et','les','des','est'))) AS s_fr,
        |    len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','que','y','los'))) AS s_es,
        |    len(list_filter(string_split(text,' '), t -> t IN ('的','是','了','在','和','有'))) AS s_zh
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, greatest(s_en, s_de, s_fr, s_es, s_zh) AS best,
        |         s_en, s_de, s_fr, s_es, s_zh FROM s
        |)
        |SELECT CASE WHEN best <= 0 THEN 'und'
        |            WHEN s_en = best THEN 'en' WHEN s_de = best THEN 'de'
        |            WHEN s_fr = best THEN 'fr' WHEN s_es = best THEN 'es'
        |            ELSE 'zh' END AS lang_id,
        |       COUNT(*) AS n
        |FROM p GROUP BY 1""".stripMargin,

    "q_lang_id_n" ->
      s"""WITH $LangNCtes
         |SELECT doc_id, lang_pred, score_milli, margin_milli FROM ln""".stripMargin,

    "q_lang_mixture" ->
      s"""WITH $LangNCtes,
         |lb AS (SELECT CASE WHEN margin_milli >= 200 THEN lang_pred
         |              ELSE 'und' END AS lang_bucket FROM ln),
         |c AS (SELECT lang_bucket, COUNT(*) AS n_docs FROM lb GROUP BY 1),
         |t AS (SELECT SUM(n_docs) AS n_total,
         |             SUM(pow(n_docs::DOUBLE, 0.7)) AS z FROM c)
         |SELECT lang_bucket, n_docs,
         |       floor(n_docs::DOUBLE / n_total * 1000 + 0.5)/1000 AS p_raw,
         |       floor(pow(n_docs::DOUBLE, 0.7) / z * 1000 + 0.5)/1000 AS p_temp,
         |       floor((pow(n_docs::DOUBLE, 0.7) / z)
         |             / (n_docs::DOUBLE / n_total) * 1000 + 0.5)/1000 AS boost
         |FROM c, t""".stripMargin,

    "q_dedup_cluster" -> ClusterSql,

    "q_ft_classify" ->
      s"""WITH $FtCtes
        |SELECT doc_id, floor((s + bias) * 1000 + 0.5) / 1000 AS score,
        |       (s + bias) > 0 AS pred_pos
        |FROM pw CROSS JOIN prior""".stripMargin,

    "q_url_canon" ->
      s"""WITH u AS (
         |  SELECT 'https://' || source || '.example.com:443/p/' ||
         |         CAST(doc_id % 50 AS VARCHAR) ||
         |         CASE doc_id % 3
         |           WHEN 0 THEN '?utm_source=feed&id=7'
         |           WHEN 1 THEN '?id=7&utm_campaign=x'
         |           ELSE '/#frag' END AS raw
         |  FROM documents)
         |SELECT ${urlCanonSql("raw")} AS canon_url,
         |       COUNT(DISTINCT raw) AS n_raw_variants, COUNT(*) AS n_docs
         |FROM u GROUP BY 1""".stripMargin,

    "q_curate_scored" ->
      s"""WITH $FtSeedCtes,
        |q AS (
        |  SELECT doc_id,
        |         least(1.0::DOUBLE,
        |           len(string_split(text, ' '))::DOUBLE / 32.0::DOUBLE) * 0.5
        |         + least(1.0::DOUBLE,
        |             len(list_filter(string_split(text, ' '),
        |               t -> t IN ('the','a','and','of','to','in','is')))::DOUBLE
        |             / len(string_split(text, ' ')) * 4) * 0.3
        |         + (1.0::DOUBLE - least(1.0::DOUBLE,
        |             CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE
        |                       / length(text) END * 4)) * 0.2 AS quality_score
        |  FROM documents)
        |SELECT pw.doc_id,
        |       floor((s + bias) * 1000 + 0.5) / 1000 AS score,
        |       floor(quality_score * 1000 + 0.5) / 1000 AS quality_score
        |FROM pw CROSS JOIN prior JOIN q USING (doc_id)
        |WHERE (s + bias) > 0 AND quality_score >= 0.3""".stripMargin,

    "q_decay_agg" ->
      s"""$EvCte,
        |m AS (SELECT MAX(ts_sec) AS t_max FROM e)
        |SELECT user_id,
        |       floor(SUM(value * pow(0.5, (t_max - ts_sec) / 604800.0))
        |             * 1000 + 0.5) / 1000 AS decayed_sum,
        |       floor(SUM(pow(0.5, (t_max - ts_sec) / 604800.0))
        |             * 1000 + 0.5) / 1000 AS decayed_weight,
        |       COUNT(*) AS n
        |FROM e CROSS JOIN m
        |GROUP BY user_id""".stripMargin,

    "q_ppl_buckets" ->
      """WITH t AS (
        |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT SUM(cnt) AS total FROM c),
        |lp AS (
        |  SELECT id, floor(AVG(ln(cnt::DOUBLE / total))*1000 + 0.5)/1000 AS _lp
        |  FROM t JOIN c USING (token) CROSS JOIN tot GROUP BY id
        |), b AS (
        |  SELECT d.lang, lp._lp,
        |         ntile(3) OVER (PARTITION BY d.lang
        |                        ORDER BY lp._lp DESC, lp.id) AS bucket
        |  FROM lp JOIN documents d ON d.doc_id = lp.id)
        |SELECT lang, bucket, COUNT(*) AS n_docs,
        |       MIN(_lp) AS min_lp, MAX(_lp) AS max_lp
        |FROM b GROUP BY 1, 2""".stripMargin,

    "q_bfs_hops" ->
      """WITH RECURSIVE ed AS (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT user_id % 97 AS a, (user_id * 31 + 7) % 97 AS b FROM events
        |    UNION ALL
        |    SELECT user_id % 97, (user_id * 57 + 13) % 97 FROM events)
        |  WHERE a <> b
        |), seeds AS (
        |  SELECT DISTINCT user_id % 97 AS node FROM events
        |  WHERE user_id % 97 < 5
        |), r(node, d) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT ed.b, r.d + 1 FROM r JOIN ed ON ed.a = r.node WHERE r.d < 8
        |)
        |SELECT node, MIN(d) AS hops FROM r GROUP BY 1""".stripMargin,

    "q_ft_ece" ->
      s"""WITH $FtCtes,
        |sc AS (SELECT 1.0::DOUBLE / (1.0::DOUBLE + exp(-(s + bias))) AS p,
        |              d.pos AS is_pos
        |       FROM pw CROSS JOIN prior JOIN d USING (doc_id)),
        |b AS (SELECT CAST(LEAST(floor(p * 10), 9) AS INT) AS bin, p, is_pos
        |      FROM sc),
        |g AS (SELECT bin, COUNT(*) AS n, AVG(p) AS conf,
        |             AVG(CASE WHEN is_pos THEN 1.0::DOUBLE
        |                      ELSE 0.0::DOUBLE END) AS acc
        |      FROM b GROUP BY 1),
        |t AS (SELECT SUM(n) AS total FROM g)
        |SELECT floor(SUM(n::DOUBLE / total * ABS(acc - conf)) * 1000 + 0.5)
        |         / 1000 AS ece,
        |       CAST(COUNT(*) AS BIGINT) AS n_bins_used,
        |       CAST(MAX(total) AS BIGINT) AS n
        |FROM g CROSS JOIN t""".stripMargin,

    "q_rbo" -> {
      // w(m) = (1-p)·Σ_{d=m..k} p^{d-1}/d, written as the SAME
      // left-to-right chain the Scala side folds, so the doubles agree
      // to the ulp before the r3 rounding
      def wSql(m: Int): String = "(1.0::DOUBLE - 0.9) * (" +
        (m to 5).map(d => s"pow(0.9::DOUBLE, ${d - 1}) / $d").mkString(" + ") + ")"
      val caseArms = (1 to 5).map(m => s"WHEN $m THEN ${wSql(m)}").mkString(" ")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 10),
         |sc AS (
         |  SELECT query_id, c.vec_id AS cand_id, ${cosSql("q.vq", "c.v")} AS cos
         |  FROM v c CROSS JOIN q WHERE q.query_id <> c.vec_id),
         |a AS (SELECT query_id, cand_id, rnk AS ra FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc) WHERE rnk <= 5),
         |ham AS (
         |  SELECT q.query_id, c.vec_id AS cand_id, c.v,
         |         len(list_filter(range(1, 65),
         |             i -> (q.vq[i] > 0) <> (c.v[i] > 0))) AS hd
         |  FROM v c CROSS JOIN q WHERE q.query_id <> c.vec_id),
         |short AS (SELECT query_id, cand_id, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY hd ASC, cand_id ASC) AS hrnk FROM ham) WHERE hrnk <= 50),
         |b AS (SELECT query_id, cand_id, rnk AS rb FROM (
         |    SELECT s.query_id, s.cand_id,
         |           row_number() OVER (PARTITION BY s.query_id
         |             ORDER BY ${cosSql("q.vq", "s.v")} DESC, s.cand_id ASC) AS rnk
         |    FROM short s JOIN q ON q.query_id = s.query_id) WHERE rnk <= 5),
         |cm AS (
         |  SELECT a.query_id, CASE GREATEST(a.ra, b.rb) $caseArms END AS w
         |  FROM a JOIN b USING (query_id, cand_id)),
         |rq AS (SELECT query_id, SUM(w) AS rbo_raw, COUNT(*) AS n_common
         |       FROM cm GROUP BY 1)
         |SELECT query_id,
         |       floor(coalesce(rbo_raw, 0) * 1000 + 0.5) / 1000 AS rbo,
         |       coalesce(n_common, 0) AS n_common
         |FROM (SELECT DISTINCT query_id FROM a) LEFT JOIN rq USING (query_id)"""
        .stripMargin
    },

    "q_modularity" ->
      """WITH ed0 AS (
        |  SELECT user_id % 97 AS a, (user_id * 31 + 7) % 97 AS b FROM events
        |  UNION ALL
        |  SELECT user_id % 97, (user_id * 57 + 13) % 97 FROM events
        |), g AS (
        |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM ed0 WHERE a <> b
        |), m AS (SELECT COUNT(*) AS me FROM g),
        |deg AS (
        |  SELECT node, COUNT(*) AS d FROM (
        |    SELECT u AS node FROM g UNION ALL SELECT v FROM g)
        |  GROUP BY 1
        |), dt AS (
        |  SELECT node % 5 AS comm, COUNT(*) AS n_nodes, SUM(d) AS d_total
        |  FROM deg GROUP BY 1
        |), it AS (
        |  SELECT u % 5 AS comm, COUNT(*) AS e_intra
        |  FROM g WHERE u % 5 = v % 5 GROUP BY 1)
        |SELECT dt.comm, dt.n_nodes,
        |       CAST(COALESCE(it.e_intra, 0) AS BIGINT) AS e_intra,
        |       CAST(dt.d_total AS BIGINT) AS d_total,
        |       floor((COALESCE(it.e_intra, 0)::DOUBLE / me
        |              - (dt.d_total::DOUBLE / (me * 2))
        |                * (dt.d_total::DOUBLE / (me * 2))) * 1000 + 0.5) / 1000
        |         AS q_contrib
        |FROM dt LEFT JOIN it USING (comm) CROSS JOIN m""".stripMargin,

    "q_louvain" -> louvainSql(moveRounds = 4),

    "q_leiden" -> leidenSql(moveRounds = 4),

    // single-link cut: clusters of the w<=7-thresholded ORIGINAL graph
    // by recursive min-label reachability — equal to the query's
    // thresholded-MSF components by the classic MST/single-linkage
    // equivalence (each non-forest edge <= t closes a cycle whose
    // forest path is already <= t edge-wise)
    "q_single_link" ->
      """WITH RECURSIVE ed0 AS (
        |  SELECT user_id % 97 AS a, (user_id * 31 + 7) % 97 AS b FROM events
        |  UNION ALL
        |  SELECT user_id % 97, (user_id * 57 + 13) % 97 FROM events
        |), g AS (
        |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM ed0 WHERE a <> b AND a IS NOT NULL AND b IS NOT NULL
        |), we AS (
        |  SELECT u, v, (u * 7 + v * 13) % 20 AS w FROM g
        |), kept AS (
        |  SELECT u, v FROM we WHERE w <= 7
        |), edges AS (
        |  SELECT u AS src, v AS dst FROM kept
        |  UNION
        |  SELECT v, u FROM kept
        |), reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), cl AS (
        |  SELECT src AS node, least(src, MIN(dst)) AS cluster
        |  FROM reach GROUP BY src
        |), nodes AS (
        |  -- DISTINCT-over-UNION-ALL, not UNION: inside a WITH RECURSIVE
        |  -- list DuckDB parses ANY top-level UNION as a seed/step pair
        |  -- and skips the set-union dedup when the step never
        |  -- self-references (380 rows instead of 97 here)
        |  SELECT DISTINCT node FROM (
        |    SELECT u AS node FROM we UNION ALL SELECT v FROM we)
        |), asg AS (
        |  SELECT n.node, COALESCE(cl.cluster, n.node) AS cluster
        |  FROM nodes n LEFT JOIN cl ON cl.node = n.node
        |)
        |SELECT CAST(node AS BIGINT) AS node, CAST(cluster AS BIGINT) AS cluster,
        |       COUNT(*) OVER (PARTITION BY cluster) AS n_nodes
        |FROM asg""".stripMargin,

    // CC over intra-community (node%5) edges by recursive min-label
    // reachability (the ClusterCtes pattern); no-intra-edge nodes stay
    // singletons under their own id
    "q_refine" ->
      """WITH RECURSIVE ed0 AS (
        |  SELECT user_id % 97 AS a, (user_id * 31 + 7) % 97 AS b FROM events
        |  UNION ALL
        |  SELECT user_id % 97, (user_id * 57 + 13) % 97 FROM events
        |), g AS (
        |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM ed0 WHERE a <> b AND a IS NOT NULL AND b IS NOT NULL
        |), memb AS (
        |  SELECT DISTINCT node, node % 5 AS comm FROM (
        |    SELECT u AS node FROM g UNION SELECT v FROM g)
        |), intra AS (
        |  SELECT u, v FROM g WHERE u % 5 = v % 5
        |), edges AS (
        |  SELECT u AS src, v AS dst FROM intra
        |  UNION
        |  SELECT v AS src, u AS dst FROM intra
        |), reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), cl AS (
        |  SELECT src AS node, least(src, MIN(dst)) AS cluster_id
        |  FROM reach GROUP BY src
        |)
        |SELECT CAST(m.node AS BIGINT) AS node,
        |       CAST(COALESCE(cl.cluster_id, m.node) AS BIGINT) AS community
        |FROM memb m LEFT JOIN cl ON cl.node = m.node""".stripMargin,

    "q_closeness" ->
      """WITH RECURSIVE ed AS (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT user_id % 97 AS a, (user_id * 31 + 7) % 97 AS b FROM events
        |    UNION ALL
        |    SELECT user_id % 97, (user_id * 57 + 13) % 97 FROM events)
        |  WHERE a <> b
        |), seeds(origin, node) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL SELECT 1, 1 UNION ALL SELECT 2, 2
        |), r(origin, node, d) AS (
        |  SELECT origin, node, 0 FROM seeds
        |  UNION
        |  SELECT r.origin, ed.b, r.d + 1
        |  FROM r JOIN ed ON ed.a = r.node WHERE r.d < 8
        |), m AS (
        |  SELECT origin, node, MIN(d) AS d FROM r GROUP BY 1, 2)
        |SELECT node, floor(SUM(1.0::DOUBLE / d) * 1000 + 0.5) / 1000 AS h_score,
        |       COUNT(*) AS n_origins
        |FROM m WHERE d > 0 GROUP BY node""".stripMargin,

    "q_dist_profile" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id AS id, v FROM v
        |      ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 100),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b, ${cosSql("a.v", "b.v")} AS cos
        |  FROM s a JOIN s b ON a.id < b.id
        |), h AS (
        |  SELECT LEAST(CAST(floor((cos + 1.0) / 2.0 * 20) AS INT), 19) AS bin,
        |         cos
        |  FROM p)
        |SELECT bin, COUNT(*) AS n_pairs, MIN(cos) AS min_cos,
        |       MAX(cos) AS max_cos, -1.0 + bin * (2.0 / 20) AS lo
        |FROM h GROUP BY 1""".stripMargin,

    // dendrogram ladder: one reach CTE per rung over the t-thresholded
    // ORIGINAL graph (the MST/single-link equivalence per threshold);
    // singletons = nodes in size-1 clusters ≡ null-merge_dist nodes
    "q_dendrogram" ->
      """WITH RECURSIVE ed0 AS (
        |  SELECT user_id % 97 AS a, (user_id * 31 + 7) % 97 AS b FROM events
        |  UNION ALL
        |  SELECT user_id % 97, (user_id * 57 + 13) % 97 FROM events
        |), g AS (
        |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM ed0 WHERE a <> b AND a IS NOT NULL AND b IS NOT NULL
        |), we AS (
        |  SELECT u, v, (u * 7 + v * 13) % 20 AS w FROM g
        |), nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT u AS node FROM we UNION ALL SELECT v FROM we)
        |), e3 AS (SELECT u AS src, v AS dst FROM we WHERE w <= 3
        |          UNION SELECT v, u FROM we WHERE w <= 3
        |), r3(src, dst) AS (
        |  SELECT src, dst FROM e3
        |  UNION SELECT r.src, e.dst FROM r3 r JOIN e3 e ON r.dst = e.src
        |), e7 AS (SELECT u AS src, v AS dst FROM we WHERE w <= 7
        |          UNION SELECT v, u FROM we WHERE w <= 7
        |), r7(src, dst) AS (
        |  SELECT src, dst FROM e7
        |  UNION SELECT r.src, e.dst FROM r7 r JOIN e7 e ON r.dst = e.src
        |), e11 AS (SELECT u AS src, v AS dst FROM we WHERE w <= 11
        |           UNION SELECT v, u FROM we WHERE w <= 11
        |), r11(src, dst) AS (
        |  SELECT src, dst FROM e11
        |  UNION SELECT r.src, e.dst FROM r11 r JOIN e11 e ON r.dst = e.src
        |), lad(threshold, node, cluster) AS (
        |  SELECT 3, n.node, COALESCE(c.cl, n.node) FROM nodes n
        |  LEFT JOIN (SELECT src, least(src, MIN(dst)) AS cl
        |             FROM r3 GROUP BY src) c ON c.src = n.node
        |  UNION ALL
        |  SELECT 7, n.node, COALESCE(c.cl, n.node) FROM nodes n
        |  LEFT JOIN (SELECT src, least(src, MIN(dst)) AS cl
        |             FROM r7 GROUP BY src) c ON c.src = n.node
        |  UNION ALL
        |  SELECT 11, n.node, COALESCE(c.cl, n.node) FROM nodes n
        |  LEFT JOIN (SELECT src, least(src, MIN(dst)) AS cl
        |             FROM r11 GROUP BY src) c ON c.src = n.node
        |), sz AS (
        |  SELECT threshold, cluster, COUNT(*) AS n FROM lad GROUP BY 1, 2
        |)
        |SELECT threshold, COUNT(*) AS n_clusters,
        |       CAST(SUM(n) AS BIGINT) AS n_nodes,
        |       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_singletons
        |FROM sz GROUP BY 1""".stripMargin,

    // k-means|| replay: every round's draws in the SAME exact-integer
    // inequality ((2b+1)·φq < 2ℓk·buckets·q over the QUANTIZED distance
    // sum — a float φ would flip boundary draws at its last ulp), seed =
    // md5-lowest id, weights by (d²,id)-argmin vote, final picks by the
    // deterministic greedy weighted recluster (argmax w·d², ties id,
    // stop at value ≤ 0 — each fN self-extinguishes once any level does)
    "q_kmeanspp" -> kmeansppSql(k = 4, lk = 16, rounds = 3),

    // DBSCAN* replay: same md5 sample, same strict-left-fold d², the
    // k-th-(d²,id) core rank, then clusters = recursive min-label CC
    // over {core pairs, d² ≤ eps²} — which IS the query's mreach-MST
    // cut (w = max(d², core²_a, core²_b) ≤ eps² ⟺ all three ≤ eps²)
    "q_dbscan" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id AS id, v FROM v
        |      ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 200),
        |sq AS (SELECT id, v, ${dotSql("v", "v")} AS sq FROM s),
        |p AS (
        |  SELECT a.id AS ia, b.id AS ib,
        |         a.sq + b.sq - 2.0 * ${dotSql("a.v", "b.v")} AS d2
        |  FROM sq a JOIN sq b ON a.id <> b.id
        |), core AS (
        |  SELECT ia AS id, d2 AS core2 FROM (
        |    SELECT ia, ib, d2, row_number() OVER (PARTITION BY ia
        |      ORDER BY d2, ib) AS rn FROM p) WHERE rn = 4
        |), cp AS (
        |  SELECT id FROM core WHERE core2 <= 1.39
        |), ke AS (
        |  SELECT p.ia AS u, p.ib AS dv FROM p
        |  JOIN cp a ON p.ia = a.id JOIN cp b ON p.ib = b.id
        |  WHERE p.d2 <= 1.39
        |), reach(src, dst) AS (
        |  SELECT u, dv FROM ke
        |  UNION
        |  SELECT r.src, e.dv FROM reach r JOIN ke e ON r.dst = e.u
        |), cl AS (
        |  SELECT src AS id, least(src, MIN(dst)) AS cluster
        |  FROM reach GROUP BY src
        |)
        |SELECT CAST(s.id AS BIGINT) AS id,
        |       CASE WHEN cp.id IS NOT NULL
        |            THEN CAST(COALESCE(cl.cluster, s.id) AS BIGINT) END AS cluster,
        |       (cp.id IS NOT NULL) AS is_core
        |FROM s LEFT JOIN cp ON cp.id = s.id
        |       LEFT JOIN cl ON cl.id = s.id""".stripMargin,

    "q_audio_energy" ->
      s"""WITH $AudioFrameCte
        |SELECT doc_id, frame, n_samples, energy, peak, silent
        |FROM af""".stripMargin,

    "q_audio_segments" ->
      s"""WITH $AudioFrameCte,
        |voiced AS (
        |  SELECT doc_id, frame,
        |         frame - row_number() OVER (PARTITION BY doc_id
        |                                    ORDER BY frame) AS grp,
        |         energy
        |  FROM af WHERE NOT silent)
        |SELECT doc_id, MIN(frame) AS seg_start,
        |       CAST(COUNT(*) AS INT) AS n_frames,
        |       CAST(SUM(energy) AS BIGINT) AS energy
        |FROM voiced GROUP BY doc_id, grp""".stripMargin,

    "q_ft_eval" ->
      s"""WITH $FtCtes
        |SELECT d.pos AS is_pos, (s + bias) > 0 AS pred_pos,
        |       COUNT(*) AS n
        |FROM pw JOIN d USING (doc_id) CROSS JOIN prior
        |GROUP BY 1, 2""".stripMargin,

    "q_retrieval_eval" ->
      s"""WITH RECURSIVE $ClusterCtes,
        |qsel AS (SELECT cluster_id, MIN(id) AS query_id FROM cl
        |         GROUP BY 1 HAVING COUNT(*) >= 2),
        |relv AS (SELECT q.query_id, c.id AS rel_id
        |         FROM qsel q JOIN cl c USING (cluster_id)
        |         WHERE c.id <> q.query_id),
        |${bm25Ctes(10, "doc_id IN (SELECT query_id FROM qsel)")},
        |hits AS (SELECT r.query_id, COUNT(*) AS n_hits,
        |                MIN(r.rank) AS first_rank
        |         FROM ranked r JOIN relv
        |           ON relv.query_id = r.query_id AND relv.rel_id = r.doc_id
        |         GROUP BY 1),
        |base AS (SELECT query_id, COUNT(*) AS n_rel FROM relv GROUP BY 1)
        |SELECT b.query_id, b.n_rel, COALESCE(h.n_hits, 0) AS n_hits,
        |       floor(COALESCE(h.n_hits, 0)::DOUBLE / b.n_rel * 1000 + 0.5)
        |         / 1000 AS recall_at_10,
        |       floor(COALESCE(1.0 / h.first_rank, 0.0) * 1000 + 0.5)
        |         / 1000 AS rr
        |FROM base b LEFT JOIN hits h USING (query_id)""".stripMargin,

    "q_ft_auc" ->
      s"""WITH $FtCtes,
        |sc AS (SELECT floor((s + bias) * 1000 + 0.5) / 1000 AS score_r,
        |              d.pos AS is_pos, doc2.source
        |       FROM pw CROSS JOIN prior
        |            JOIN d USING (doc_id)
        |            JOIN documents doc2 USING (doc_id)),
        |cg AS (SELECT source, score_r, COUNT(*) AS n,
        |              SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS np
        |       FROM sc GROUP BY 1, 2),
        |rk AS (SELECT source, n, np,
        |              SUM(n) OVER (PARTITION BY source ORDER BY score_r) - n
        |                AS cum_before
        |       FROM cg),
        |ag AS (SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos,
        |              CAST(SUM(n - np) AS BIGINT) AS n_neg,
        |              SUM(np * (cum_before + (n + 1) / 2.0)) AS rpos
        |       FROM rk GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |            ELSE floor((rpos - n_pos * (n_pos + 1) / 2.0)
        |                       / (n_pos * n_neg) * 1000 + 0.5) / 1000
        |       END AS auc
        |FROM ag""".stripMargin,

    "q_ft_calibration" ->
      s"""WITH $FtCtes,
        |sc AS (SELECT floor((s + bias) * 1000 + 0.5) AS si, d.pos AS is_pos
        |       FROM pw CROSS JOIN prior JOIN d USING (doc_id)),
        |mm AS (SELECT MIN(si) AS lo, MAX(si) AS hi FROM sc),
        |b AS (SELECT CAST(CASE WHEN hi = lo THEN 0
        |               ELSE least(9, floor((si - lo) * 10 / (hi - lo + 1)))
        |             END AS INT) AS bin,
        |             si, is_pos
        |      FROM sc CROSS JOIN mm)
        |SELECT bin, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       floor(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END)::DOUBLE
        |             / COUNT(*) * 1000 + 0.5) / 1000 AS pos_rate,
        |       floor(CAST(SUM(si) AS BIGINT)::DOUBLE / 1000.0 / COUNT(*)
        |             * 1000 + 0.5) / 1000 AS mean_score
        |FROM b GROUP BY 1""".stripMargin,

    "q_domain_profile" ->
      s"""WITH RECURSIVE $ClusterCtes, j AS (
         |  SELECT d.source,
         |         COALESCE(CAST(cl.cluster_id AS VARCHAR),
         |                  CAST(d.doc_id AS VARCHAR)) AS grp
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id)
         |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_unique,
         |       floor((COUNT(*) - COUNT(DISTINCT grp)) * 1.0 / COUNT(*)
         |             * 1000 + 0.5) / 1000 AS dup_rate
         |FROM j GROUP BY 1""".stripMargin,

    "q_domain_caps" ->
      s"""WITH RECURSIVE $ClusterCtes, j AS (
         |  SELECT d.source,
         |         COALESCE(CAST(cl.cluster_id AS VARCHAR),
         |                  CAST(d.doc_id AS VARCHAR)) AS grp
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
         |prof AS (SELECT source, COUNT(DISTINCT grp) AS n_unique
         |         FROM j GROUP BY 1),
         |caps AS (SELECT source,
         |                GREATEST(1, CAST(FLOOR(n_unique * 3 / 5.0) AS BIGINT)) AS cap
         |         FROM prof),
         |ranked AS (
         |  SELECT d.source, ROW_NUMBER() OVER (
         |    PARTITION BY d.source
         |    ORDER BY md5(CAST(d.doc_id AS VARCHAR))) AS rn
         |  FROM documents d)
         |SELECT r.source, COUNT(*) AS n_kept
         |FROM ranked r JOIN caps c ON r.source = c.source
         |WHERE r.rn <= c.cap GROUP BY 1""".stripMargin,

    "q_er_blocks" ->
      s"""SELECT c_nationkey, c_mktsegment, substring(c_name, 1, 14) AS name_blk,
         |       COUNT(*) AS n,
         |       CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_pairs,
         |       COUNT(*) > $ErMaxBlock AS skipped
         |FROM customer
         |WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
         |  AND c_name IS NOT NULL
         |GROUP BY 1, 2, 3""".stripMargin,

    "q_er_candidates" ->
      s"""WITH $ErCandCtes
         |SELECT id_a, id_b, c_nationkey, c_mktsegment, name_blk
         |FROM p""".stripMargin,

    "q_er_snm" ->
      s"""WITH r AS (
         |  SELECT c_custkey,
         |         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
         |  FROM customer)
         |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |       b.rn - a.rn AS rank_dist
         |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 4""".stripMargin,

    "q_er_matches" ->
      s"""WITH $ErScoreCtes
         |SELECT id_a, id_b,
         |       floor(sim_c_name * 1000 + 0.5) / 1000 AS sim_c_name,
         |       eq_c_mktsegment,
         |       floor(num_c_acctbal * 1000 + 0.5) / 1000 AS num_c_acctbal,
         |       floor(score * 1000 + 0.5) / 1000 AS score
         |FROM scored WHERE score >= $ErThreshold""".stripMargin,

    "q_er_entities" ->
      s"""WITH RECURSIVE $ErScoreCtes, m AS (
         |  SELECT id_a, id_b FROM scored WHERE score >= $ErThreshold
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM m
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM m
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), cl AS (
         |  SELECT src AS id, least(src, MIN(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), ent AS (
         |  SELECT c.c_custkey,
         |         COALESCE(cl.cluster_id, c.c_custkey) AS entity_id
         |  FROM customer c LEFT JOIN cl ON c.c_custkey = cl.id
         |), sz AS (
         |  SELECT entity_id, COUNT(*) AS entity_size FROM ent GROUP BY 1
         |)
         |SELECT entity_size, COUNT(*) AS n_entities,
         |       CAST(SUM(entity_size) AS BIGINT) AS n_records
         |FROM sz GROUP BY 1""".stripMargin,

    "q_er_em" -> {
      // iteration-1 complements as the EXACT Scala doubles the Spark plan
      // embeds (1.0-0.9 is 0.09999999999999998, not 0.1)
      val m0 = 0.9; val u0 = 0.1; val p0 = 0.1
      def pm(m: String, mc: String) =
        s"((CASE WHEN a_name THEN $m ELSE $mc END) * " +
          s"(CASE WHEN a_bal THEN $m ELSE $mc END))"
      def pm2(m1: String, m2: String) =
        s"((CASE WHEN a_name THEN $m1 ELSE 1.0 - $m1 END) * " +
          s"(CASE WHEN a_bal THEN $m2 ELSE 1.0 - $m2 END))"
      val pm1m = pm(m0.toString, (1.0 - m0).toString)
      val pm1u = pm(u0.toString, (1.0 - u0).toString)
      s"""WITH $ErScoreCtes, g AS (
         |  SELECT sim_c_name >= 0.9 AS a_name, num_c_acctbal >= 0.5 AS a_bal
         |  FROM sc
         |), e1 AS (
         |  SELECT a_name, a_bal,
         |         ($p0 * $pm1m)
         |         / (($p0 * $pm1m) + (${1.0 - p0} * $pm1u)) AS w
         |  FROM g
         |), s1 AS (
         |  SELECT SUM(w) AS sw, COUNT(*) AS n,
         |         SUM(CASE WHEN a_name THEN w ELSE 0.0 END) AS ma1,
         |         SUM(CASE WHEN a_name THEN 1.0 - w ELSE 0.0 END) AS ua1,
         |         SUM(CASE WHEN a_bal THEN w ELSE 0.0 END) AS ma2,
         |         SUM(CASE WHEN a_bal THEN 1.0 - w ELSE 0.0 END) AS ua2
         |  FROM e1
         |), p1 AS (
         |  SELECT ma1 / sw AS m1, ma2 / sw AS m2,
         |         ua1 / (n - sw) AS u1, ua2 / (n - sw) AS u2,
         |         sw / n AS pp
         |  FROM s1
         |), e2 AS (
         |  SELECT a_name, a_bal,
         |         (pp * ${pm2("m1", "m2")})
         |         / ((pp * ${pm2("m1", "m2")})
         |            + ((1.0 - pp) * ${pm2("u1", "u2")})) AS w
         |  FROM g CROSS JOIN p1
         |), s2 AS (
         |  SELECT SUM(w) AS sw, COUNT(*) AS n,
         |         SUM(CASE WHEN a_name THEN w ELSE 0.0 END) AS ma1,
         |         SUM(CASE WHEN a_name THEN 1.0 - w ELSE 0.0 END) AS ua1,
         |         SUM(CASE WHEN a_bal THEN w ELSE 0.0 END) AS ma2,
         |         SUM(CASE WHEN a_bal THEN 1.0 - w ELSE 0.0 END) AS ua2
         |  FROM e2
         |), p2 AS (
         |  SELECT ma1 / sw AS m1, ma2 / sw AS m2,
         |         ua1 / (n - sw) AS u1, ua2 / (n - sw) AS u2,
         |         sw / n AS pp
         |  FROM s2
         |)
         |SELECT 'a_name' AS field,
         |       floor(m1 * 1000 + 0.5) / 1000 AS m,
         |       floor(u1 * 1000 + 0.5) / 1000 AS u,
         |       floor(ln(m1 / u1) / ln(2.0) * 1000 + 0.5) / 1000 AS w_agree,
         |       floor(ln((1.0 - m1) / (1.0 - u1)) / ln(2.0) * 1000 + 0.5) / 1000
         |         AS w_disagree,
         |       floor(pp * 1000 + 0.5) / 1000 AS prior
         |FROM p2
         |UNION ALL
         |SELECT 'a_bal',
         |       floor(m2 * 1000 + 0.5) / 1000,
         |       floor(u2 * 1000 + 0.5) / 1000,
         |       floor(ln(m2 / u2) / ln(2.0) * 1000 + 0.5) / 1000,
         |       floor(ln((1.0 - m2) / (1.0 - u2)) / ln(2.0) * 1000 + 0.5) / 1000,
         |       floor(pp * 1000 + 0.5) / 1000
         |FROM p2""".stripMargin
    },

    "q_er_agreement" ->
      s"""WITH RECURSIVE $ErScoreCtes, m AS (
         |  SELECT id_a, id_b FROM scored WHERE score >= $ErThreshold
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM m
         |  UNION SELECT id_b, id_a FROM m
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), cl AS (
         |  SELECT src AS id, least(src, MIN(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), pe AS (
         |  SELECT c.c_custkey, COALESCE(cl.cluster_id, c.c_custkey) AS ea
         |  FROM customer c LEFT JOIN cl ON c.c_custkey = cl.id
         |), rn AS (
         |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
         |         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rnk
         |  FROM customer
         |), sp AS (
         |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |         a.c_name AS name_a, b.c_name AS name_b,
         |         a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
         |         a.c_acctbal AS bal_a, b.c_acctbal AS bal_b
         |  FROM rn a JOIN rn b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 4
         |), ssc AS (
         |  SELECT id_a, id_b,
         |    CASE WHEN name_a IS NULL AND name_b IS NULL THEN 1.0
         |         WHEN name_a IS NULL OR name_b IS NULL THEN 0.0
         |         WHEN greatest(length(name_a), length(name_b)) = 0 THEN 1.0
         |         ELSE 1.0 - CAST(levenshtein(name_a, name_b) AS DOUBLE)
         |                    / greatest(length(name_a), length(name_b)) END
         |      AS sim_c_name,
         |    CASE WHEN seg_a IS NOT DISTINCT FROM seg_b THEN 1.0 ELSE 0.0 END
         |      AS eq_c_mktsegment,
         |    CASE WHEN bal_a IS NULL AND bal_b IS NULL THEN 1.0
         |         WHEN bal_a IS NULL OR bal_b IS NULL THEN 0.0
         |         ELSE greatest(0.0, 1.0 - abs(bal_a - bal_b) / $ErBalScale) END
         |      AS num_c_acctbal
         |  FROM sp
         |), sm AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |           (sim_c_name * $ErWName + eq_c_mktsegment * $ErWSeg
         |            + num_c_acctbal * $ErWBal) / $ErTotW AS score
         |    FROM ssc) WHERE score >= $ErThreshold
         |), sedges AS (
         |  SELECT id_a AS src, id_b AS dst FROM sm
         |  UNION SELECT id_b, id_a FROM sm
         |), sreach(src, dst) AS (
         |  SELECT src, dst FROM sedges
         |  UNION
         |  SELECT r.src, e.dst FROM sreach r JOIN sedges e ON r.dst = e.src
         |), scl AS (
         |  SELECT src AS id, least(src, MIN(dst)) AS cluster_id
         |  FROM sreach GROUP BY src
         |), se AS (
         |  SELECT c.c_custkey, COALESCE(scl.cluster_id, c.c_custkey) AS eb
         |  FROM customer c LEFT JOIN scl ON c.c_custkey = scl.id
         |), ct AS (
         |  SELECT pe.ea, se.eb, COUNT(*) AS n
         |  FROM pe JOIN se ON pe.c_custkey = se.c_custkey GROUP BY 1, 2
         |), tp AS (
         |  SELECT CAST(SUM(CAST(n * (n - 1) / 2 AS BIGINT)) AS BIGINT)
         |           AS shared_pairs,
         |         CAST(SUM(n) AS BIGINT) AS n_ids
         |  FROM ct
         |), apg AS (
         |  SELECT CAST(SUM(CAST(sn * (sn - 1) / 2 AS BIGINT)) AS BIGINT)
         |           AS a_pairs
         |  FROM (SELECT SUM(n) AS sn FROM ct GROUP BY ea)
         |), bpg AS (
         |  SELECT CAST(SUM(CAST(sn * (sn - 1) / 2 AS BIGINT)) AS BIGINT)
         |           AS b_pairs
         |  FROM (SELECT SUM(n) AS sn FROM ct GROUP BY eb)
         |)
         |SELECT n_ids, shared_pairs, a_pairs, b_pairs,
         |  floor(CASE WHEN a_pairs > 0
         |        THEN CAST(shared_pairs AS DOUBLE) / a_pairs END
         |        * 1000 + 0.5) / 1000 AS precision,
         |  floor(CASE WHEN b_pairs > 0
         |        THEN CAST(shared_pairs AS DOUBLE) / b_pairs END
         |        * 1000 + 0.5) / 1000 AS recall,
         |  floor(CASE WHEN a_pairs > 0 AND b_pairs > 0
         |          AND CAST(shared_pairs AS DOUBLE) / a_pairs
         |            + CAST(shared_pairs AS DOUBLE) / b_pairs > 0
         |        THEN 2.0 * (CAST(shared_pairs AS DOUBLE) / a_pairs)
         |             * (CAST(shared_pairs AS DOUBLE) / b_pairs)
         |             / ((CAST(shared_pairs AS DOUBLE) / a_pairs)
         |                + (CAST(shared_pairs AS DOUBLE) / b_pairs)) END
         |        * 1000 + 0.5) / 1000 AS f1
         |FROM tp CROSS JOIN apg CROSS JOIN bpg""".stripMargin,

    "q_target_encode" ->
      s"""$EvCte, gm AS (SELECT AVG(value) AS g FROM e),
         |st AS (SELECT event_type, SUM(value) AS s, COUNT(value) AS n
         |       FROM e GROUP BY 1)
         |SELECT event_id, e.event_type,
         |       floor((CASE WHEN e.value IS NOT NULL
         |              THEN (s - e.value + 20.0 * g) / (n - 1 + 20.0)
         |              ELSE (COALESCE(s, 0.0) + 20.0 * g) / (n + 20.0) END)
         |             * 1000 + 0.5) / 1000 AS enc
         |FROM e JOIN st ON e.event_type IS NOT DISTINCT FROM st.event_type
         |CROSS JOIN gm""".stripMargin,

    "q_priority_sample" ->
      s"""WITH q AS (
         |  SELECT doc_id, n_chars,
         |         CAST(n_chars AS DOUBLE)
         |         / ((${bucketSql("doc_id")} + 0.5) / 10000.0) AS pq
         |  FROM documents WHERE n_chars > 0
         |), top AS (SELECT * FROM q ORDER BY pq DESC, doc_id LIMIT 101),
         |tau AS (SELECT CASE WHEN COUNT(*) < 101 THEN 0.0
         |               ELSE MIN(pq) END AS t FROM top),
         |pick AS (SELECT * FROM top ORDER BY pq DESC, doc_id LIMIT 100)
         |SELECT doc_id, n_chars,
         |       floor(greatest(CAST(n_chars AS DOUBLE), t) * 1000 + 0.5)
         |         / 1000 AS w_hat
         |FROM pick CROSS JOIN tau""".stripMargin,

    "q_changepoint" ->
      s"""$EvCte, w AS (
         |  SELECT user_id, event_id, ts_sec,
         |         AVG(value) OVER tw AS trail_mean,
         |         COUNT(value) OVER tw AS nt,
         |         AVG(value) OVER lw AS lead_mean,
         |         COUNT(value) OVER lw AS nl
         |  FROM e
         |  WINDOW tw AS (PARTITION BY user_id ORDER BY ts_sec, event_id
         |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
         |         lw AS (PARTITION BY user_id ORDER BY ts_sec, event_id
         |                ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING))
         |SELECT user_id, event_id, ts_sec,
         |       floor(trail_mean * 1000 + 0.5) / 1000 AS trail_mean,
         |       floor(lead_mean * 1000 + 0.5) / 1000 AS lead_mean,
         |       floor((lead_mean - trail_mean) * 1000 + 0.5) / 1000 AS shift
         |FROM w
         |WHERE nt = 8 AND nl = 8
         |  AND abs(lead_mean - trail_mean) >= 60.0""".stripMargin,

    "q_kcenter" -> kCenterSql(k = 5),

    "q_bitext" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |a AS (SELECT vec_id AS ia, v AS va FROM v WHERE vec_id % 19 = 1),
         |b AS (SELECT vec_id AS ib, v AS vb FROM v WHERE vec_id % 19 = 2),
         |pp AS (
         |  SELECT ia, ib, ${cosSql("va", "vb")} AS c
         |  FROM a CROSS JOIN b
         |  WHERE ${cosSql("va", "vb")} IS NOT NULL
         |), ta AS (
         |  SELECT ia,
         |         list_reduce(list_sort(list(c), 'DESC'), (x, y) -> x + y) AS sa,
         |         COUNT(*) AS ka
         |  FROM (SELECT ia, c, ROW_NUMBER() OVER (
         |          PARTITION BY ia ORDER BY c DESC, ib) AS rk FROM pp)
         |  WHERE rk <= 4 GROUP BY ia
         |), tb AS (
         |  SELECT ib,
         |         list_reduce(list_sort(list(c), 'DESC'), (x, y) -> x + y) AS sb,
         |         COUNT(*) AS kb
         |  FROM (SELECT ib, c, ROW_NUMBER() OVER (
         |          PARTITION BY ib ORDER BY c DESC, ia) AS rk FROM pp)
         |  WHERE rk <= 4 GROUP BY ib
         |), sc AS (
         |  SELECT ia, ib, c,
         |         c / (sa / (2.0 * ka) + sb / (2.0 * kb)) AS m
         |  FROM pp JOIN ta USING (ia) JOIN tb USING (ib)
         |), rk AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY ia ORDER BY m DESC, ib) AS rka,
         |    ROW_NUMBER() OVER (PARTITION BY ib ORDER BY m DESC, ia) AS rkb
         |  FROM sc)
         |SELECT ia AS id_a, ib AS id_b,
         |       floor(c * 1000 + 0.5) / 1000 AS cos,
         |       floor(m * 1000 + 0.5) / 1000 AS margin
         |FROM rk WHERE rka = 1 AND rkb = 1 AND m >= 1.2""".stripMargin,

    "q_decontam_semantic" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT v AS bv FROM v WHERE vec_id % 19 = 0),
         |c AS (SELECT vec_id, v FROM v WHERE vec_id % 19 <> 0),
         |p AS (SELECT c.vec_id, ${cosSql("c.v", "b.bv")} AS cs
         |      FROM c CROSS JOIN b)
         |SELECT vec_id, COUNT(*) AS n_bench_hits,
         |       floor(MAX(cs) * 1000 + 0.5) / 1000 AS max_cos
         |FROM p WHERE cs >= 0.3 GROUP BY 1""".stripMargin,

    "q_dedup_canonical" ->
      s"""WITH RECURSIVE $ClusterCtes, j AS (
         |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
         |         d.n_chars
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
         |)
         |SELECT cluster_id, doc_id AS keep_id, n_members FROM (
         |  SELECT cluster_id, doc_id,
         |         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |           AS n_members,
         |         row_number() OVER (PARTITION BY cluster_id
         |           ORDER BY n_chars DESC, doc_id ASC) AS rn
         |  FROM j)
         |WHERE rn = 1""".stripMargin,

    "q_dedup_profile" ->
      s"""WITH RECURSIVE $ClusterCtes, j AS (
         |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
         |), s AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM j GROUP BY 1
         |)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
         |       CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_removed
         |FROM s GROUP BY 1""".stripMargin,

    "q_split_leakfree" ->
      s"""WITH RECURSIVE $ClusterCtes
         |SELECT doc_id,
         |  CASE WHEN b < 1000 THEN 'val' WHEN b < 2000 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM (SELECT d.doc_id,
         |        ${bucketSql("COALESCE(cl.cluster_id, d.doc_id)")} AS b
         |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.id)""".stripMargin,

    "q_pii" -> PiiSql,

    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
        |      i -> array_to_string(toks[i:i+1], ' ')) ELSE [] END AS g2,
        |    CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' ')) ELSE [] END AS g3
        |  FROM t
        |)
        |SELECT doc_id,
        |  floor((CASE WHEN len(g2) > 0
        |    THEN (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)
        |    ELSE 0 END)*1000 + 0.5)/1000 AS dup_bigram_frac,
        |  floor((CASE WHEN len(g3) > 0
        |    THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)
        |    ELSE 0 END)*1000 + 0.5)/1000 AS dup_trigram_frac
        |FROM g""".stripMargin,

    "q_sample" ->
      s"SELECT doc_id FROM documents WHERE ${bucketSql("doc_id")} < 3000",

    "q_sample_strat" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${bucketSql("doc_id")} <
         |  (CASE WHEN lang = 'de' THEN 1000 WHEN lang = 'en' THEN 5000 ELSE 10000 END)""".stripMargin,

    "q_split_assign" ->
      s"""SELECT doc_id,
         |  CASE WHEN b < 1000 THEN 'val' WHEN b < 2000 THEN 'test' ELSE 'train' END AS split
         |FROM (SELECT doc_id, ${bucketSql("doc_id")} AS b FROM documents)""".stripMargin,

    "q_mixture" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs, $MixWeightSql AS weight
         |           FROM documents WHERE lang IN ($MixLangsSql) GROUP BY lang),
         |t AS (SELECT MIN(n_docs / weight) AS t_max FROM c)
         |SELECT lang, n_docs,
         |       floor(least(1.0::DOUBLE, weight * t_max / n_docs)*1000 + 0.5)/1000 AS fraction
         |FROM c, t""".stripMargin,

    "q_mixture_temp" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents
        |           WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT SUM(n_docs) AS n_total,
        |             SUM(pow(n_docs::DOUBLE, 0.7)) AS z FROM c)
        |SELECT source, n_docs,
        |       floor(n_docs::DOUBLE / n_total * 1000 + 0.5)/1000 AS p_raw,
        |       floor(pow(n_docs::DOUBLE, 0.7) / z * 1000 + 0.5)/1000 AS p_temp,
        |       floor((pow(n_docs::DOUBLE, 0.7) / z)
        |             / (n_docs::DOUBLE / n_total) * 1000 + 0.5)/1000 AS boost
        |FROM c, t""".stripMargin,

    "q_lm_cross" ->
      """WITH ref AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents WHERE doc_id % 2 = 0),
        |rc AS (SELECT token, COUNT(*) AS cnt FROM ref GROUP BY 1),
        |m AS (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM rc),
        |tt AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
        |       FROM documents WHERE doc_id % 2 = 1),
        |s AS (
        |  SELECT id, COUNT(*) AS n_tokens,
        |         CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_oov_ref,
        |         AVG(ln((coalesce(cnt, 0) + 0.1)
        |               / (total + 0.1 * (v + 1)))) AS logprob
        |  FROM tt LEFT JOIN rc USING (token) CROSS JOIN m GROUP BY 1
        |)
        |SELECT d.doc_id AS id, s.n_tokens, s.n_oov_ref,
        |       floor(s.logprob*1000 + 0.5)/1000 AS logprob
        |FROM documents d LEFT JOIN s ON s.id = d.doc_id
        |WHERE d.doc_id % 2 = 1""".stripMargin,

    "q_mixture_sample" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs, $MixWeightSql AS weight
         |           FROM documents WHERE lang IN ($MixLangsSql) GROUP BY lang),
         |t AS (SELECT MIN(n_docs / weight) AS t_max FROM c),
         |f AS (SELECT lang, least(1.0::DOUBLE, weight * t_max / n_docs) AS fraction FROM c, t)
         |SELECT d.doc_id, d.lang FROM documents d JOIN f USING (lang)
         |WHERE ${bucketSql("doc_id")} < floor(fraction * 10000)""".stripMargin,

    "q_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c0 AS (SELECT doc_id, toks,
        |              unnest(range(0, (len(toks)-1)//10 + 1)) AS pos FROM t),
        |c AS (SELECT doc_id, pos,
        |             array_to_string(toks[(pos*10+1):(pos*10+10)], ' ') AS span
        |      FROM c0),
        |k AS (SELECT doc_id, pos, span,
        |             row_number() OVER (PARTITION BY span
        |               ORDER BY doc_id, pos) AS rn
        |      FROM c),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_kept,
        |             string_agg(span, ' ' ORDER BY pos) AS text_dedup
        |      FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(g.n_spans_kept, 0) AS n_spans_kept,
        |       coalesce(g.text_dedup, '') AS text_dedup
        |FROM documents d LEFT JOIN g USING (doc_id)""".stripMargin,

    "q_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c0 AS (SELECT doc_id, toks,
        |              unnest(range(0, (len(toks)-1)//3 + 1)) AS pos FROM t),
        |c AS (SELECT doc_id, pos,
        |             array_to_string(toks[(pos*3+1):(pos*3+3)], ' ') AS span
        |      FROM c0),
        |f AS (SELECT span FROM c GROUP BY span
        |      HAVING COUNT(DISTINCT doc_id) >= 4),
        |k AS (SELECT doc_id, pos, span FROM c
        |      WHERE span NOT IN (SELECT span FROM f)),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_kept,
        |             string_agg(span, ' ' ORDER BY pos) AS text_clean
        |      FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(g.n_spans_kept, 0) AS n_spans_kept,
        |       coalesce(g.text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN g USING (doc_id)""".stripMargin,

    "q_epoch_order" ->
      """WITH r AS (SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents)
        |SELECT doc_id, rank, CAST((rank - 1) % 8 AS INT) AS shard FROM r""".stripMargin,

    "q_overlap_matrix" ->
      """WITH g AS (
        |  SELECT source AS corpus,
        |         CASE WHEN len(string_split(text,' ')) >= 3
        |           THEN list_transform(range(1, len(string_split(text,' ')) - 1),
        |                i -> array_to_string(string_split(text,' ')[i:i+2], ' '))
        |           ELSE [] END AS s
        |  FROM documents WHERE text IS NOT NULL
        |), el AS (SELECT corpus, md5(unnest(s)) AS h FROM g),
        |dl AS (SELECT DISTINCT corpus, h FROM el),
        |sk AS (SELECT corpus, h FROM (
        |         SELECT corpus, h,
        |                row_number() OVER (PARTITION BY corpus ORDER BY h) AS rn
        |         FROM dl) WHERE rn <= 256),
        |cs AS (SELECT DISTINCT corpus FROM sk),
        |pr AS (SELECT a.corpus AS ca, b.corpus AS cb
        |       FROM cs a JOIN cs b ON a.corpus < b.corpus),
        |uh AS (SELECT DISTINCT pr.ca, pr.cb, s.h
        |       FROM pr JOIN sk s ON s.corpus = pr.ca OR s.corpus = pr.cb),
        |ku AS (SELECT ca, cb, h FROM (
        |         SELECT ca, cb, h,
        |                row_number() OVER (PARTITION BY ca, cb ORDER BY h) AS rn
        |         FROM uh) WHERE rn <= 256),
        |fl AS (SELECT ku.ca, ku.cb, ku.h,
        |              sa.h IS NOT NULL AND sb.h IS NOT NULL AS hit
        |       FROM ku LEFT JOIN sk sa ON sa.corpus = ku.ca AND sa.h = ku.h
        |               LEFT JOIN sk sb ON sb.corpus = ku.cb AND sb.h = ku.h),
        |mm AS (SELECT ca AS corpus_a, cb AS corpus_b,
        |              CAST(COUNT(*) AS INT) AS n_sk, MAX(h) AS kth,
        |              COUNT(*) FILTER (WHERE hit) AS m
        |       FROM fl GROUP BY 1, 2),
        |est AS (SELECT corpus_a, corpus_b, n_sk,
        |  CASE WHEN n_sk < 256 THEN n_sk::DOUBLE
        |       ELSE (n_sk - 1)::DOUBLE /
        |            (('0x' || substr(kth,1,15))::BIGINT / 1152921504606846976.0) END
        |    AS d_union_raw,
        |  CASE WHEN n_sk = 0 THEN 0.0 ELSE m::DOUBLE / n_sk::DOUBLE END AS jac_raw
        |  FROM mm)
        |SELECT corpus_a, corpus_b, n_sk,
        |  CAST(floor(d_union_raw + 0.5) AS BIGINT) AS union_est,
        |  CAST(floor(jac_raw * d_union_raw + 0.5) AS BIGINT) AS inter_est,
        |  floor(jac_raw*1000 + 0.5)/1000 AS jaccard_est
        |FROM est""".stripMargin,

    "q_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |             unnest(range(0, (len(toks)+7)//8)) AS i FROM t)
        |SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |       array_to_string(toks[(i*8+1):(i*8+16)], ' ') AS chunk_text
        |FROM c""".stripMargin,

    "q_cap_stratum" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        |  FROM documents
        |) WHERE rn <= 30""".stripMargin,

    "q_weighted_median" ->
      s"""$EvCte, wsrc AS (
         |  SELECT event_type, value, floor(value * 100) + 1 AS w FROM e
         |  WHERE floor(value * 100) + 1 > 0
         |), c AS (
         |  SELECT event_type, value,
         |         SUM(w) OVER (PARTITION BY event_type ORDER BY value ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         SUM(w) OVER (PARTITION BY event_type) AS tot
         |  FROM wsrc
         |)
         |SELECT event_type,
         |       floor(MIN(value)*1000 + 0.5)/1000 AS weighted_median
         |FROM c WHERE cum >= tot / 2 GROUP BY 1""".stripMargin,

    "q_approx_distinct" ->
      s"""$EvCte
         |SELECT 'user_id' AS col_name, COUNT(DISTINCT user_id) AS n_exact,
         |       TRUE AS approx_ok FROM e
         |UNION ALL SELECT 'event_type', COUNT(DISTINCT event_type), TRUE FROM e
         |UNION ALL SELECT 'value', COUNT(DISTINCT value), TRUE FROM e""".stripMargin,

    "q_cms_topk" ->
      s"""$EvCte
         |SELECT CAST(user_id AS BIGINT) AS key, COUNT(*) AS n_exact,
         |       TRUE AS cms_ok
         |FROM e WHERE user_id IS NOT NULL
         |GROUP BY 1 ORDER BY n_exact DESC, key ASC LIMIT 20""".stripMargin,

    "q_approx_quantiles" ->
      """SELECT lang,
        |       floor(quantile_cont(length(text), 0.25)*1000 + 0.5)/1000 AS p25,
        |       TRUE AS ok_p25,
        |       floor(quantile_cont(length(text), 0.5)*1000 + 0.5)/1000 AS p50,
        |       TRUE AS ok_p50,
        |       floor(quantile_cont(length(text), 0.9)*1000 + 0.5)/1000 AS p90,
        |       TRUE AS ok_p90
        |FROM documents GROUP BY lang""".stripMargin,

    "q_linear_fit" ->
      s"""$EvCte, h AS (
         |  SELECT event_type, value, CAST(hour(ts) AS DOUBLE) AS hod FROM e
         |)
         |SELECT event_type,
         |       floor(corr(value, hod)*1000 + 0.5)/1000 AS pearson_r,
         |       floor(covar_samp(value, hod)*1000 + 0.5)/1000 AS covar,
         |       floor(regr_slope(value, hod)*1000 + 0.5)/1000 AS slope,
         |       floor(regr_intercept(value, hod)*1000 + 0.5)/1000 AS intercept,
         |       COUNT(*) AS n
         |FROM h GROUP BY event_type""".stripMargin,

    "q_pack" ->
      """SELECT doc_id, lang,
        |       CAST(floor(coalesce(SUM(len(string_split(text, ' ')))
        |         OVER (PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         / 512) AS BIGINT) AS pack_id
        |FROM documents""".stripMargin,

    "q_length_batches" ->
      """WITH r AS (
        |  SELECT lang, length(text) AS l,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY length(text) ASC, doc_id ASC) AS rn
        |  FROM documents WHERE length(text) IS NOT NULL
        |)
        |SELECT lang, CAST(floor((rn - 1) / 16) AS BIGINT) AS batch_id,
        |       COUNT(*) AS n_docs, MAX(l) AS max_len,
        |       CAST(SUM(l) AS BIGINT) AS sum_len,
        |       CAST(COUNT(*) * MAX(l) - SUM(l) AS BIGINT) AS padding_waste
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q_quantiles" ->
      """SELECT lang,
        |       floor(quantile_cont(length(text), 0.25)*1000 + 0.5)/1000 AS p25,
        |       floor(quantile_cont(length(text), 0.5)*1000 + 0.5)/1000 AS p50,
        |       floor(quantile_cont(length(text), 0.9)*1000 + 0.5)/1000 AS p90
        |FROM documents GROUP BY lang""".stripMargin,

    "q_range_join" ->
      s"""$SessCte, iv AS (
         |  SELECT session_id, MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec
         |  FROM sess WHERE user_id = 7 GROUP BY session_id
         |)
         |SELECT iv.session_id, COUNT(*) AS n_concurrent
         |FROM e JOIN iv ON e.ts_sec >= iv.start_sec AND e.ts_sec <= iv.end_sec
         |GROUP BY iv.session_id""".stripMargin,

    "q_interval_overlap" ->
      s"""$EvCte, iv AS (
         |  SELECT user_id, ts_sec AS s,
         |         ts_sec + CAST(floor(value * 60) AS BIGINT) AS en, event_id
         |  FROM e),
         |l AS (SELECT user_id, s AS sa, en AS ea FROM iv WHERE event_id % 2 = 0),
         |r AS (SELECT user_id, s AS sb, en AS eb FROM iv WHERE event_id % 2 = 1)
         |SELECT l.user_id, COUNT(*) AS n_pairs
         |FROM l JOIN r ON l.user_id = r.user_id
         |  AND l.sa <= r.eb AND r.sb <= l.ea
         |GROUP BY 1""".stripMargin,

    "q_asof" ->
      s"""$EvCte, r AS (
         |  SELECT user_id, ts_sec, arg_max(value, event_id) AS state_value
         |  FROM e WHERE event_id % 10 = 0 GROUP BY 1, 2
         |)
         |SELECT l.event_id, l.user_id, l.ts_sec, r.state_value
         |FROM e l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec >= r.ts_sec""".stripMargin,

    "q_course" ->
      s"""$EvCte, b AS (
         |  SELECT event_id, user_id, ts_sec, lat, lon,
         |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
         |         lag(ts_sec) OVER w AS pts
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
         |), c AS (
         |  SELECT event_id, user_id, ts_sec, pts,
         |         fmod(fmod(degrees(atan2(
         |           sin(radians(lon - plon)) * cos(radians(lat)),
         |           cos(radians(plat)) * sin(radians(lat)) -
         |           sin(radians(plat)) * cos(radians(lat)) * cos(radians(lon - plon))
         |         )), 360) + 360, 360) AS bearing
         |  FROM b
         |), d AS (
         |  SELECT event_id, bearing, pts, ts_sec,
         |         lag(bearing) OVER (PARTITION BY user_id
         |           ORDER BY ts_sec ASC, event_id ASC) AS pb
         |  FROM c
         |)
         |SELECT event_id,
         |       floor(bearing*1000 + 0.5)/1000 AS bearing_deg,
         |       CASE WHEN (ts_sec - pts) / 60.0 > 0 THEN
         |         floor((fmod(fmod(bearing - pb + 180, 360) + 360, 360) - 180)
         |           / ((ts_sec - pts) / 60.0) * 1000 + 0.5)/1000
         |       END AS turn_deg_per_min
         |FROM d""".stripMargin,

    "q_scd2" ->
      s"""$EvCte, ch AS (
         |  SELECT user_id, ts_sec, event_type, event_id,
         |         CASE WHEN row_number() OVER w = 1
         |              OR lag(event_type) OVER w IS DISTINCT FROM event_type
         |           THEN 1 ELSE 0 END AS chg
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
         |), vs AS (
         |  SELECT user_id, event_type, ts_sec,
         |         CAST(SUM(chg) OVER (PARTITION BY user_id
         |           ORDER BY ts_sec ASC, event_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ver
         |  FROM ch
         |), rolled AS (
         |  SELECT user_id, ver, MIN(ts_sec) AS eff_start,
         |         arg_min(event_type, ts_sec) AS event_type
         |  FROM vs GROUP BY 1, 2
         |)
         |SELECT user_id, event_type, eff_start,
         |       lead(eff_start, 1) OVER (PARTITION BY user_id ORDER BY ver ASC)
         |         AS eff_end,
         |       (lead(eff_start, 1) OVER (PARTITION BY user_id ORDER BY ver ASC)
         |         IS NULL) AS is_current
         |FROM rolled""".stripMargin,

    "q_scd2_current" ->
      s"""$EvCte, ch AS (
         |  SELECT user_id, ts_sec, event_type, event_id,
         |         (row_number() OVER w = 1
         |          OR lag(event_type) OVER w IS DISTINCT FROM event_type) AS chg
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
         |), cur AS (
         |  SELECT user_id, event_type, ts_sec AS eff_start,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY ts_sec DESC, event_id DESC) AS rn
         |  FROM ch WHERE chg
         |)
         |SELECT user_id, event_type, eff_start FROM cur WHERE rn = 1""".stripMargin,

    "q_scd2_asof" ->
      s"""$EvCte, cut AS (
         |  SELECT CAST(floor((MIN(ts_sec) + MAX(ts_sec)) / 2.0) AS BIGINT) AS c
         |  FROM e
         |), f AS (
         |  SELECT e.* FROM e, cut WHERE e.ts_sec <= cut.c
         |), ch AS (
         |  SELECT user_id, ts_sec, event_type, event_id,
         |         (row_number() OVER w = 1
         |          OR lag(event_type) OVER w IS DISTINCT FROM event_type) AS chg
         |  FROM f
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
         |), cur AS (
         |  SELECT user_id, event_type, ts_sec AS eff_start,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY ts_sec DESC, event_id DESC) AS rn
         |  FROM ch WHERE chg
         |)
         |SELECT user_id, event_type, eff_start FROM cur WHERE rn = 1""".stripMargin,

    "q_interval_merge" -> IntervalMergeSql(
      """SELECT user_id, span_id, MIN(s) AS start, MAX(en) AS "end",
        |       COUNT(*) AS n_members
        |FROM sp GROUP BY 1, 2""".stripMargin),

    "q_coverage_gaps" -> IntervalMergeSql(
      """SELECT user_id, gap_start, gap_end, gap_sec FROM (
        |  SELECT user_id,
        |         lag("end", 1) OVER (PARTITION BY user_id ORDER BY start ASC)
        |           AS gap_start,
        |         start AS gap_end,
        |         start - lag("end", 1) OVER (PARTITION BY user_id ORDER BY start ASC)
        |           AS gap_sec
        |  FROM (SELECT user_id, span_id, MIN(s) AS start, MAX(en) AS "end"
        |        FROM sp GROUP BY 1, 2)
        |) WHERE gap_start IS NOT NULL AND gap_sec > 600""".stripMargin),

    "q_asof_fwd" ->
      s"""$EvCte, r AS (
         |  SELECT user_id, ts_sec, arg_max(value, event_id) AS state_value
         |  FROM e WHERE event_id % 10 = 0 GROUP BY 1, 2
         |)
         |SELECT l.event_id, l.user_id, l.ts_sec, r.state_value
         |FROM e l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec <= r.ts_sec""".stripMargin,

    "q_asof_near" ->
      s"""$EvCte, r AS (
         |  SELECT user_id, ts_sec, arg_max(value, event_id) AS state_value
         |  FROM e WHERE event_id % 10 = 0 GROUP BY 1, 2
         |), b AS (
         |  SELECT l.event_id, l.user_id, l.ts_sec,
         |         r.state_value AS bv, r.ts_sec AS bt
         |  FROM e l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec >= r.ts_sec
         |), f AS (
         |  SELECT l.event_id, r.state_value AS fv, r.ts_sec AS ft
         |  FROM e l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec <= r.ts_sec
         |)
         |SELECT b.event_id, b.user_id, b.ts_sec,
         |       CASE WHEN ft IS NULL THEN bv
         |            WHEN bt IS NULL THEN fv
         |            WHEN b.ts_sec - bt <= ft - b.ts_sec THEN bv
         |            ELSE fv END AS state_value
         |FROM b JOIN f ON b.event_id = f.event_id""".stripMargin,

    "q_contamination" ->
      """WITH g AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(string_split(text,' ')) >= 8
        |           THEN list_distinct(list_transform(
        |             range(1, len(string_split(text,' ')) - 6),
        |             i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))
        |           ELSE [] END AS s
        |  FROM documents
        |), pr AS (
        |  SELECT DISTINCT unnest(s) AS sg FROM g WHERE id < 5
        |), hits AS (
        |  SELECT id, COUNT(*) AS n_hits
        |  FROM (SELECT id, unnest(s) AS sg FROM g) e JOIN pr USING (sg)
        |  GROUP BY id
        |)
        |SELECT g.id, coalesce(hits.n_hits, 0) AS n_hits,
        |       coalesce(hits.n_hits, 0) >= 1 AS contaminated
        |FROM g LEFT JOIN hits ON g.id = hits.id""".stripMargin,

    "q_contamination_bloom" ->
      """WITH g AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN len(string_split(text,' ')) >= 8
        |           THEN list_distinct(list_transform(
        |             range(1, len(string_split(text,' ')) - 6),
        |             i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))
        |           ELSE [] END AS s
        |  FROM documents
        |), pr AS (
        |  SELECT DISTINCT unnest(s) AS sg FROM g WHERE id < 5
        |), hits AS (
        |  SELECT id, COUNT(*) AS n_hits
        |  FROM (SELECT id, unnest(s) AS sg FROM g) e JOIN pr USING (sg)
        |  GROUP BY id
        |)
        |SELECT g.id, coalesce(hits.n_hits, 0) AS n_hits,
        |       coalesce(hits.n_hits, 0) >= 1 AS contaminated
        |FROM g LEFT JOIN hits ON g.id = hits.id""".stripMargin,

    "q_vocab" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token HAVING COUNT(*) >= 2)
        |SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
        |FROM c""".stripMargin,

    "q_oov" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY 1),
        |v AS (SELECT token FROM (
        |  SELECT token, row_number() OVER (ORDER BY n DESC, token ASC) AS rank FROM c
        |) WHERE rank <= 100)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       floor(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |         / COUNT(*) * 1000 + 0.5)/1000 AS oov_rate
        |FROM t LEFT JOIN v ON t.token = v.token GROUP BY t.doc_id""".stripMargin,

    "q_cooccur" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |b0 AS (SELECT toks, unnest(range(0, len(toks)-1)) AS i FROM t),
        |bg AS (SELECT toks[i+1] AS w1, toks[i+2] AS w2 FROM b0),
        |c AS (SELECT w1, w2, COUNT(*) AS n_xy FROM bg
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |u AS (SELECT unnest(toks) AS token FROM t),
        |uc AS (SELECT token, COUNT(*) AS n FROM u GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total FROM uc)
        |SELECT c.w1, c.w2, c.n_xy,
        |       floor(ln((c.n_xy::DOUBLE * tot.n_total) /
        |                (ux.n::DOUBLE * uy.n))*1000 + 0.5)/1000 AS pmi
        |FROM c
        |JOIN uc ux ON ux.token = c.w1
        |JOIN uc uy ON uy.token = c.w2, tot""".stripMargin,

    "q_psi_drift" ->
      s"""$EvCte, w AS (
         |  SELECT value, strftime(ts, '%Y-%m-%d') AS day FROM e
         |), base AS (SELECT value FROM w WHERE day < '$CutoffDay'),
         |cur AS (SELECT value FROM w WHERE day >= '$CutoffDay'),
         |ed AS (SELECT CAST(MIN(value) AS DOUBLE) AS lo,
         |              CAST(MAX(value) AS DOUBLE) AS hi FROM base),
         |bb AS (SELECT CASE WHEN hi = lo THEN 0
         |         ELSE CAST(least(greatest(floor((value - lo) * 10 / (hi - lo)), 0), 9) AS INT)
         |       END AS bin FROM base, ed),
         |cb AS (SELECT CASE WHEN hi = lo THEN 0
         |         ELSE CAST(least(greatest(floor((value - lo) * 10 / (hi - lo)), 0), 9) AS INT)
         |       END AS bin FROM cur, ed),
         |bins AS (SELECT unnest(range(0, 10)) AS bin),
         |nb AS (SELECT bin, COUNT(*) AS n FROM bb GROUP BY 1),
         |nc AS (SELECT bin, COUNT(*) AS n FROM cb GROUP BY 1),
         |pb0 AS (SELECT bins.bin, coalesce(nb.n, 0) AS n_base, coalesce(nc.n, 0) AS n_cur
         |        FROM bins LEFT JOIN nb USING (bin) LEFT JOIN nc USING (bin)),
         |tot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS t_base,
         |               CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM pb0)
         |SELECT tot.t_base AS n_base, tot.t_cur AS n_cur,
         |       floor(SUM(((n_cur + 0.5)/(tot.t_cur + 5.0) - (n_base + 0.5)/(tot.t_base + 5.0))
         |         * ln(((n_cur + 0.5)/(tot.t_cur + 5.0)) / ((n_base + 0.5)/(tot.t_base + 5.0))))
         |         *1000 + 0.5)/1000 AS psi
         |FROM pb0, tot GROUP BY tot.t_base, tot.t_cur""".stripMargin,

    "q_table_diff" ->
      """WITH snap AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 3 THEN text || ' EDITED' ELSE text END AS text,
        |         lang
        |  FROM documents WHERE doc_id % 20 <> 0
        |)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows FROM (
        |  SELECT CASE WHEN s.doc_id IS NULL THEN 'only_left'
        |              WHEN d.doc_id IS NULL THEN 'only_right'
        |              WHEN d.text IS NOT DISTINCT FROM s.text
        |                   AND d.lang IS NOT DISTINCT FROM s.lang THEN 'same'
        |              ELSE 'changed' END AS status
        |  FROM documents d FULL OUTER JOIN snap s ON d.doc_id = s.doc_id
        |) GROUP BY status""".stripMargin,

    "q_skew_profile" ->
      s"""$EvCte, c AS (SELECT user_id, COUNT(*) AS n FROM e GROUP BY 1),
         |t AS (SELECT n FROM c ORDER BY n DESC, user_id ASC LIMIT 10)
         |SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM c) AS n_rows,
         |       (SELECT COUNT(*) FROM c) AS n_keys,
         |       (SELECT MAX(n) FROM t) AS top1_rows,
         |       (SELECT CAST(SUM(n) AS BIGINT) FROM t) AS topk_rows,
         |       floor((SELECT MAX(n) FROM t) * (SELECT COUNT(*) FROM c)
         |         / (SELECT CAST(SUM(n) AS DOUBLE) FROM c) * 1000 + 0.5)/1000
         |         AS skew_ratio""".stripMargin,

    "q_urls" ->
      s"""SELECT doc_id,
         |       len(regexp_extract_all(text, '${graft.operators.Text.UrlRegex}')) AS n_urls,
         |       regexp_extract(text, '${graft.operators.Text.UrlDomainRegex}', 1) AS first_domain
         |FROM documents""".stripMargin,

    "q_partition_profile" ->
      s"""$EvCte
         |SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
         |       strftime(ts, '%d') AS day,
         |       COUNT(*) AS n_rows, MIN(ts_sec) AS min_sec, MAX(ts_sec) AS max_sec
         |FROM e GROUP BY ROLLUP (year, month, day)""".stripMargin,

    "q_session_complete" ->
      s"""$SessCte, sm AS (
         |  SELECT user_id, session_id, MAX(ts_sec) AS end_sec
         |  FROM sess GROUP BY 1, 2
         |)
         |SELECT user_id, session_id, end_sec,
         |       end_sec + 10800 < MAX(end_sec) OVER () AS is_complete
         |FROM sm""".stripMargin,

    "q_topk_days" ->
      """WITH d AS (
        |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, day, n, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY n DESC, day ASC) AS rank FROM d
        |) WHERE rank <= 3""".stripMargin,

    "q_transitions" ->
      s"""$EvCte, l AS (
         |  SELECT user_id, event_type,
         |         lag(event_type) OVER (PARTITION BY user_id
         |           ORDER BY ts_sec, event_id) AS prev_cat
         |  FROM e
         |)
         |SELECT prev_cat, event_type AS next_cat, COUNT(*) AS n
         |FROM l WHERE prev_cat IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q_pagerank" -> pagerankSql(iters = 10, damping = 0.85),

    "q_ppr" -> pprSql(iters = 10, damping = 0.85),

    "q_triangles" ->
      s"""$EvCte, ed AS (
         |  SELECT DISTINCT least(user_id % 97, (user_id * 31 + 7) % 97) AS u,
         |         greatest(user_id % 97, (user_id * 31 + 7) % 97) AS v
         |  FROM e
         |  WHERE user_id % 97 <> (user_id * 31 + 7) % 97
         |)
         |SELECT COUNT(*) AS n_triangles
         |FROM ed e1
         |JOIN ed e2 ON e2.u = e1.v
         |JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,

    "q_pct_rank" ->
      """SELECT doc_id, lang,
        |       floor(cume_dist() OVER (PARTITION BY lang
        |         ORDER BY length(text))*1000 + 0.5)/1000 AS pct_rank
        |FROM documents""".stripMargin,

    "q_ks_test" ->
      """WITH f AS (
        |  SELECT CAST(length(text) AS DOUBLE) AS v,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
        |         CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS ib
        |  FROM documents WHERE lang IN ('en', 'de')
        |), c AS (SELECT v, SUM(ia) AS ca, SUM(ib) AS cb FROM f GROUP BY v),
        |cum AS (
        |  SELECT v,
        |         SUM(ca) OVER (ORDER BY v) AS cuma,
        |         SUM(cb) OVER (ORDER BY v) AS cumb
        |  FROM c
        |), t AS (SELECT CAST(SUM(ia) AS DOUBLE) AS na,
        |                CAST(SUM(ib) AS DOUBLE) AS nb FROM f)
        |SELECT floor(MAX(abs(cuma/na - cumb/nb))*1000 + 0.5)/1000 AS ks_d,
        |       CAST(MAX(na) AS BIGINT) AS n_a,
        |       CAST(MAX(nb) AS BIGINT) AS n_b
        |FROM cum CROSS JOIN t""".stripMargin,

    "q_corr_matrix" -> {
      val cols = Seq("value", "lat", "lon", "hod")
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      val branches = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y,
           |       floor(corr($a, $b)*1000 + 0.5)/1000 AS r FROM h"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$EvCte, h AS (
         |  SELECT value, lat, lon, CAST(hour(ts) AS DOUBLE) AS hod FROM e
         |)
         |$branches""".stripMargin
    },

    "q_chi2" ->
      s"""$EvCte, d2 AS (
         |  SELECT event_type AS a, floor(ts_sec / 86400) % 7 AS b FROM e
         |), obs AS (SELECT a, b, COUNT(*) AS n_ab FROM d2 GROUP BY 1, 2),
         |ma AS (SELECT a, SUM(n_ab) AS n_a FROM obs GROUP BY 1),
         |mb AS (SELECT b, SUM(n_ab) AS n_b FROM obs GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS n FROM obs),
         |cells AS (
         |  SELECT ma.a, mb.b,
         |         coalesce(CAST(obs.n_ab AS DOUBLE), 0) AS o,
         |         CAST(ma.n_a AS DOUBLE) * mb.n_b / t.n AS ex,
         |         t.n
         |  FROM ma CROSS JOIN mb
         |  LEFT JOIN obs ON obs.a = ma.a AND obs.b = mb.b
         |  CROSS JOIN t
         |)
         |SELECT floor(SUM((o - ex) * (o - ex) / ex)*1000 + 0.5)/1000 AS chi2,
         |       (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
         |       CAST(MAX(n) AS BIGINT) AS n_total
         |FROM cells""".stripMargin,

    "q_seasonal" ->
      s"""$EvCte, b AS (
         |  SELECT event_id, event_type, value,
         |         CAST(floor(fmod(ts_sec, 86400) / 3600) AS BIGINT) AS season_bucket
         |  FROM e
         |), st AS (
         |  SELECT event_type, season_bucket, COUNT(value) AS n,
         |         SUM(value) AS s, SUM(value * value) AS sq
         |  FROM b GROUP BY 1, 2
         |), z AS (
         |  SELECT event_id, season_bucket,
         |         CASE WHEN n < 2 OR sqrt((sq - s * s / n) / (n - 1)) = 0 THEN NULL
         |              ELSE (value - s / n) / sqrt((sq - s * s / n) / (n - 1))
         |         END AS zr, n
         |  FROM b JOIN st USING (event_type, season_bucket)
         |)
         |SELECT event_id, season_bucket,
         |       floor(zr*1000 + 0.5)/1000 AS season_z,
         |       coalesce(abs(zr) > 2.5, FALSE) AS anomaly
         |FROM z WHERE n >= 2""".stripMargin,

    "q_zscore" ->
      """WITH st AS (
        |  SELECT user_id, COUNT(value) AS n, SUM(value) AS s,
        |         SUM(value * value) AS sq
        |  FROM events GROUP BY 1
        |)
        |SELECT event_id,
        |       CASE WHEN sqrt((sq - s * s / n) / (n - 1)) = 0 THEN NULL
        |            ELSE floor(((value - s / n) /
        |              sqrt((sq - s * s / n) / (n - 1)))*1000 + 0.5)/1000
        |       END AS z
        |FROM events JOIN st USING (user_id) WHERE n >= 2""".stripMargin,

    "q_histogram" ->
      """SELECT floor(value / 25.0) * 25.0 AS bucket, COUNT(*) AS n
        |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin,

    "q_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |       COUNT(*) FILTER (event_type = 'click') AS click,
        |       COUNT(*) FILTER (event_type = 'error') AS error,
        |       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |       COUNT(*) FILTER (event_type = 'signup') AS signup,
        |       COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q_interarrival" ->
      s"""$EvCte, l AS (
         |  SELECT user_id,
         |         ts_sec - lag(ts_sec) OVER (PARTITION BY user_id
         |           ORDER BY ts_sec, event_id) AS gap_s
         |  FROM e
         |)
         |SELECT user_id, COUNT(*) AS n_events,
         |       MIN(gap_s) AS min_gap_s, MAX(gap_s) AS max_gap_s,
         |       floor(AVG(gap_s)*1000 + 0.5)/1000 AS avg_gap_s
         |FROM l GROUP BY 1""".stripMargin,

    "q_ntile" ->
      """SELECT event_id,
        |       ntile(4) OVER (PARTITION BY user_id
        |         ORDER BY value ASC NULLS FIRST, event_id ASC) AS bucket
        |FROM events""".stripMargin,

    "q_rolling" ->
      s"""$EvCte
         |SELECT event_id,
         |       floor(AVG(value) OVER (PARTITION BY user_id
         |         ORDER BY ts_sec, event_id
         |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)*1000 + 0.5)/1000
         |         AS rolling_avg
         |FROM e""".stripMargin,

    "q_anomaly" -> {
      val a = 0.3; val d = 1 - a; val k = 2.0
      s"""$EvCte, win AS (
         |  SELECT event_id, value,
         |         list(value) OVER (PARTITION BY user_id
         |           ORDER BY ts_sec, event_id
         |           ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS vs
         |  FROM e
         |), m AS (
         |  SELECT event_id, value, len(vs) AS n,
         |         CASE WHEN len(vs) > 0 THEN
         |           list_reduce(list_prepend(0.0, vs), (acc, x) -> acc*$d + $a*x) /
         |           list_reduce(list_prepend(0.0, vs), (acc, x) -> acc*$d + $a)
         |         END AS ew,
         |         list_reduce(list_prepend(0.0, vs), (acc, x) -> acc + x) AS s,
         |         list_reduce(list_prepend(0.0, vs), (acc, x) -> acc + x*x) AS sq
         |  FROM win
         |)
         |SELECT event_id,
         |       floor((value - ew)*1000 + 0.5)/1000 AS residual,
         |       CASE WHEN n >= 3 AND sq - s*s/n > 0
         |              AND sqrt((sq - s*s/n) / (n - 1)) > 0
         |         THEN abs(value - ew) > $k * sqrt((sq - s*s/n) / (n - 1))
         |         ELSE NULL END AS anomaly
         |FROM m""".stripMargin
    },

    // same strict left fold as the Spark side: list() preserves frame
    // order, list_prepend(0.0) IS the fold's init, and the recursion is
    // pure iterated multiply-add — bit-identical, no pow()
    "q_ewma" -> {
      val a = 0.3; val d = 1 - a
      s"""$EvCte, win AS (
         |  SELECT event_id,
         |         list(value) OVER (PARTITION BY user_id
         |           ORDER BY ts_sec, event_id
         |           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vs
         |  FROM e
         |)
         |SELECT event_id,
         |       floor(
         |         list_reduce(list_prepend(0.0, vs), (acc, x) -> acc*$d + $a*x) /
         |         list_reduce(list_prepend(0.0, vs), (acc, x) -> acc*$d + $a)
         |         *1000 + 0.5)/1000 AS ewma
         |FROM win""".stripMargin
    },

    "q_cube" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |       COUNT(*) AS n_rows,
        |       floor(SUM(value)*1000 + 0.5)/1000 AS sum_value
        |FROM events GROUP BY CUBE (day, event_type)""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT id, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
        |), tf2 AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY id) AS n_toks FROM tf
        |), dfreq AS (
        |  SELECT token, COUNT(DISTINCT id) AS df FROM toks GROUP BY 1
        |), nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT id, token,
        |         (cnt::DOUBLE / n_toks) * ln(n_docs::DOUBLE / df) AS tfidf
        |  FROM tf2 JOIN dfreq USING (token) CROSS JOIN nd
        |)
        |SELECT id, token, floor(tfidf*1000 + 0.5)/1000 AS tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id
        |    ORDER BY tfidf DESC, token ASC) AS rank FROM scored
        |) WHERE rank <= 1""".stripMargin,

    "q_centroid" ->
      """WITH u AS (
        |  SELECT label, t.i AS dim, embedding[t.i]::DOUBLE AS val
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        |)
        |SELECT label, dim, floor(AVG(val)*1000 + 0.5)/1000 AS mean
        |FROM u GROUP BY 1, 2""".stripMargin,

    "q_embed_outlier" -> {
      val z = "((cos - s / n) / sqrt((sq - s * s / n) / (n - 1)))"
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS (
         |  SELECT label, list_transform(
         |    list_sort(list({'d': dim, 'm': m})), r -> r.m) AS c
         |  FROM (
         |    SELECT label, t.i AS dim, AVG(v[t.i]) AS m
         |    FROM v, unnest(generate_series(1, len(v))) AS t(i)
         |    GROUP BY 1, 2) GROUP BY label),
         |sc AS MATERIALIZED (
         |  SELECT b.vec_id, b.label, ${cosSql("b.v", "c.c")} AS cos
         |  FROM v b JOIN cent c USING (label)),
         |st AS (
         |  SELECT label, SUM(cos) AS s, SUM(cos * cos) AS sq,
         |         CAST(COUNT(cos) AS DOUBLE) AS n
         |  FROM sc GROUP BY label)
         |SELECT vec_id, label,
         |       floor(cos*1000 + 0.5)/1000 AS cos,
         |       CASE WHEN n < 2 OR sqrt((sq - s * s / n) / (n - 1)) = 0 THEN NULL
         |            ELSE floor($z*1000 + 0.5)/1000 END AS z,
         |       CASE WHEN n < 2 OR sqrt((sq - s * s / n) / (n - 1)) = 0 THEN FALSE
         |            ELSE abs($z) > 2.0 END AS outlier
         |FROM sc JOIN st USING (label)""".stripMargin
    },

    "q_embed_drift" -> {
      def centCte(name: String, parity: Int) =
        s"""$name AS (
           |  SELECT label, list_transform(
           |    list_sort(list({'d': dim, 'm': m})), r -> r.m) AS c
           |  FROM (
           |    SELECT label, t.i AS dim, AVG(v[t.i]) AS m
           |    FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings
           |          WHERE vec_id % 2 = $parity) s,
           |         unnest(generate_series(1, len(v))) AS t(i)
           |    GROUP BY 1, 2) GROUP BY label)""".stripMargin
      s"""WITH ${centCte("cb", 0)},
         |${centCte("ca", 1)}
         |SELECT coalesce(cb.label, ca.label) AS label,
         |       CASE WHEN cb.label IS NULL THEN 'added'
         |            WHEN ca.label IS NULL THEN 'removed'
         |            ELSE 'common' END AS status,
         |       CASE WHEN cb.label IS NOT NULL AND ca.label IS NOT NULL
         |            THEN floor(${cosSql("cb.c", "ca.c")}*1000 + 0.5)/1000 END AS cos,
         |       CASE WHEN cb.label IS NOT NULL AND ca.label IS NOT NULL
         |            THEN ${cosSql("cb.c", "ca.c")} >= 0.9 ELSE FALSE END AS ok
         |FROM cb FULL OUTER JOIN ca ON cb.label = ca.label""".stripMargin
    },

    "q_knn_label" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS vq FROM v WHERE vec_id < 20),
         |tk AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.query_id, c.vec_id AS cand_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${cosSql("q.vq", "c.v")} DESC, c.vec_id ASC) AS rnk
         |    FROM v c CROSS JOIN q WHERE q.query_id <> c.vec_id
         |  ) WHERE rnk <= 10),
         |vt AS (
         |  SELECT t.query_id, c.label AS nl, COUNT(*) AS n
         |  FROM tk t JOIN v c ON c.vec_id = t.cand_id
         |  GROUP BY 1, 2)
         |SELECT query_id, nl AS pred_label, n AS n_votes,
         |       CAST(tot AS BIGINT) AS n_neighbors FROM (
         |  SELECT query_id, nl, n,
         |         SUM(n) OVER (PARTITION BY query_id) AS tot,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY n DESC, nl ASC) AS rn
         |  FROM vt) WHERE rn = 1""".stripMargin,

    // the q_knn_label vote tail over the IVFADC `approx` neighbors
    "q_knn_label_ann" ->
      s"""${ivfPqAdcCtes(20, 10)},
         |lv AS (SELECT vec_id, label FROM embeddings),
         |vt AS (
         |  SELECT t.query_id, c.label AS nl, COUNT(*) AS n
         |  FROM approx t JOIN lv c ON c.vec_id = t.cand_id
         |  GROUP BY 1, 2)
         |SELECT query_id, nl AS pred_label, n AS n_votes,
         |       CAST(tot AS BIGINT) AS n_neighbors FROM (
         |  SELECT query_id, nl, n,
         |         SUM(n) OVER (PARTITION BY query_id) AS tot,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY n DESC, nl ASC) AS rn
         |  FROM vt) WHERE rn = 1""".stripMargin,

    "q_blocklist" ->
      """SELECT doc_id FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents b
        |  WHERE b.doc_id < 20 AND b.text = d.text)""".stripMargin,

    "q_resample" ->
      s"""$EvCte, s AS (
         |  SELECT user_id, event_id, value, ts_sec,
         |         CAST(floor(ts_sec / 86400) * 86400 AS BIGINT) AS slot
         |  FROM e
         |), obs AS (
         |  SELECT user_id, slot, v FROM (
         |    SELECT user_id, slot, value AS v,
         |           row_number() OVER (PARTITION BY user_id, slot
         |             ORDER BY ts_sec DESC, event_id DESC) AS rn
         |    FROM s) WHERE rn = 1
         |), b AS (
         |  SELECT user_id, MIN(slot) AS mn, MAX(slot) AS mx FROM s GROUP BY 1
         |), grid AS (
         |  SELECT user_id, unnest(generate_series(mn, mx, 86400)) AS slot FROM b
         |), j AS (
         |  SELECT g.user_id, g.slot, o.v
         |  FROM grid g LEFT JOIN obs o USING (user_id, slot)
         |)
         |SELECT user_id, slot,
         |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |         ORDER BY slot
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
         |FROM j""".stripMargin,

    "q_winsorize" ->
      """WITH q AS (
        |  SELECT user_id, quantile_cont(value, 0.05) AS p5,
        |         quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1
        |)
        |SELECT event_id,
        |       floor((CASE WHEN value < p5 THEN p5
        |                   WHEN value > p95 THEN p95
        |                   ELSE value END)*1000 + 0.5)/1000 AS w
        |FROM events JOIN q USING (user_id)""".stripMargin,

    "q_mad_outlier" ->
      s"""$EvCte,
         |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
         |      FROM e GROUP BY event_type),
         |d AS (SELECT e.event_id, e.event_type, e.value, m.med,
         |             abs(e.value - m.med) AS abs_dev
         |      FROM e JOIN m USING (event_type)),
         |md AS (SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad
         |       FROM d GROUP BY event_type)
         |SELECT d.event_id, d.event_type,
         |       floor(d.med*1000 + 0.5)/1000 AS med,
         |       floor(md.mad*1000 + 0.5)/1000 AS mad,
         |       d.abs_dev > $MadCut * md.mad AS is_outlier
         |FROM d JOIN md USING (event_type)""".stripMargin,

    "q_col_profile" ->
      """SELECT 'user_id' AS col_name, COUNT(*) AS n_rows,
        |       COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS n_null,
        |       COUNT(DISTINCT user_id) AS n_distinct,
        |       floor(MIN(CAST(user_id AS DOUBLE))*1000 + 0.5)/1000 AS min_v,
        |       floor(MAX(CAST(user_id AS DOUBLE))*1000 + 0.5)/1000 AS max_v,
        |       floor(AVG(CAST(user_id AS DOUBLE))*1000 + 0.5)/1000 AS avg_v
        |FROM events
        |UNION ALL
        |SELECT 'value', COUNT(*),
        |       COUNT(CASE WHEN value IS NULL THEN 1 END),
        |       COUNT(DISTINCT value),
        |       floor(MIN(CAST(value AS DOUBLE))*1000 + 0.5)/1000,
        |       floor(MAX(CAST(value AS DOUBLE))*1000 + 0.5)/1000,
        |       floor(AVG(CAST(value AS DOUBLE))*1000 + 0.5)/1000
        |FROM events
        |UNION ALL
        |SELECT 'event_type', COUNT(*),
        |       COUNT(CASE WHEN event_type IS NULL THEN 1 END),
        |       COUNT(DISTINCT event_type),
        |       floor(MIN(CAST(length(event_type) AS DOUBLE))*1000 + 0.5)/1000,
        |       floor(MAX(CAST(length(event_type) AS DOUBLE))*1000 + 0.5)/1000,
        |       floor(AVG(CAST(length(event_type) AS DOUBLE))*1000 + 0.5)/1000
        |FROM events""".stripMargin,

    "q_weighted_sample" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY (ln((${bucketSql("doc_id")} + 0.5) / 10000)
         |                     / CAST(length(text) AS DOUBLE)) DESC, doc_id) AS rn
         |  FROM documents WHERE length(text) > 0
         |)
         |SELECT doc_id, lang FROM w WHERE rn <= 20""".stripMargin,

    "q_dsir" ->
      s"""WITH tk AS (
         |  SELECT doc_id, lang = 'en' AS tgt,
         |         unnest(string_split(text, ' ')) AS token
         |  FROM documents
         |), t AS (
         |  SELECT doc_id, tgt,
         |         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % 1024
         |           AS feat
         |  FROM tk
         |), f AS (
         |  SELECT feat, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc,
         |               SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS rc
         |  FROM t GROUP BY 1
         |), tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM f),
         |lr AS (
         |  SELECT feat, ln((tc + 1.0) / (tt + 1024)) - ln((rc + 1.0) / (rt + 1024))
         |           AS lr
         |  FROM f CROSS JOIN tot
         |), dw AS (
         |  SELECT doc_id, SUM(lr) AS logw
         |  FROM t JOIN lr USING (feat) WHERE NOT tgt GROUP BY 1
         |)
         |SELECT doc_id, floor(logw*1000 + 0.5)/1000 AS logw
         |FROM dw
         |ORDER BY logw - ln(-ln((${bucketSql("doc_id")} + 0.5) / 10000)) DESC,
         |         doc_id
         |LIMIT 50""".stripMargin,

    "q_entropy" ->
      """WITH t AS (
        |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT id, token, COUNT(*) AS cnt FROM t GROUP BY 1, 2
        |), c2 AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY id) AS n FROM c
        |)
        |SELECT id,
        |       floor((-SUM((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)))*1000 + 0.5)/1000
        |         AS entropy
        |FROM c2 GROUP BY id""".stripMargin,

    "q_editdist" ->
      """WITH s AS (
        |  SELECT doc_id, text FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 10000
        |), k AS (
        |  SELECT doc_id AS id, substr(text, 1, 30) AS key,
        |         length(substr(text, 1, 30)) AS l
        |  FROM s
        |)
        |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.key, b.key) AS dist
        |FROM k a JOIN k b ON a.id < b.id AND abs(a.l - b.l) <= 3
        |WHERE levenshtein(a.key, b.key) <= 3""".stripMargin,

    "q_editdist_pairs" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |       TRUE AS within_bound, TRUE AS pairs_distinct""".stripMargin,

    "q_pack_concat" ->
      """WITH p AS (
        |  SELECT doc_id, lang, text,
        |         CAST(floor(coalesce(SUM(len(string_split(text, ' ')))
        |           OVER (PARTITION BY lang ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           / 512) AS BIGINT) AS pack_id
        |  FROM documents
        |)
        |SELECT lang, pack_id, COUNT(*) AS n_docs,
        |       string_agg(text, ' ' ORDER BY doc_id) AS packed_text
        |FROM p GROUP BY 1, 2""".stripMargin,

    "q_unigram_lp" ->
      """WITH t AS (
        |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1
        |), tot AS (SELECT SUM(cnt) AS total FROM c)
        |SELECT id,
        |       floor(AVG(ln(cnt::DOUBLE / total))*1000 + 0.5)/1000 AS logprob
        |FROM t JOIN c USING (token) CROSS JOIN tot
        |GROUP BY id""".stripMargin,

    "q_bigram_lp" ->
      """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT id, unnest(range(1, len(toks))) AS i, toks
        |      FROM t WHERE len(toks) >= 2),
        |b AS (SELECT id, toks[i] AS w1, toks[i+1] AS w2 FROM p),
        |bc AS (SELECT w1, w2, COUNT(*) AS n_xy FROM b GROUP BY 1, 2),
        |uc AS (SELECT unnest(toks) AS w1 FROM t),
        |u AS (SELECT w1, COUNT(*) AS n_x FROM uc GROUP BY 1),
        |v AS (SELECT COUNT(*) AS v FROM u),
        |sc AS (SELECT id, COUNT(*) AS n_bigrams,
        |              AVG(ln((n_xy + 0.5) / (n_x + 0.5 * v))) AS logprob
        |       FROM b JOIN bc USING (w1, w2) JOIN u USING (w1) CROSS JOIN v
        |       GROUP BY id)
        |SELECT t.id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |       floor(sc.logprob*1000 + 0.5)/1000 AS logprob
        |FROM t LEFT JOIN sc USING (id)""".stripMargin,

    "q_novelty" ->
      """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
        |g0 AS (SELECT id, list_distinct(CASE WHEN len(toks) >= 3
        |         THEN list_transform(range(1, len(toks) - 1),
        |                i -> array_to_string(toks[i:i+2], ' '))
        |         ELSE [] END) AS gs FROM t),
        |g AS (SELECT id, unnest(gs) AS g FROM g0),
        |o AS (SELECT g, MIN(id) AS owner_id FROM g GROUP BY g),
        |sc AS (SELECT g.id, COUNT(*) AS n_grams,
        |              CAST(SUM(CASE WHEN o.owner_id = g.id THEN 1 ELSE 0 END)
        |                AS BIGINT) AS n_owned
        |       FROM g JOIN o USING (g) GROUP BY g.id)
        |SELECT t.id, coalesce(sc.n_grams, 0) AS n_grams,
        |       coalesce(sc.n_owned, 0) AS n_owned,
        |       floor((sc.n_owned::DOUBLE / sc.n_grams)*1000 + 0.5)/1000 AS novelty
        |FROM t LEFT JOIN sc USING (id)""".stripMargin,

    "q_inverted_index" ->
      """WITH x AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |p AS (SELECT DISTINCT doc_id, token FROM x),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |i AS (SELECT token, COUNT(*) AS df,
        |             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |      FROM p GROUP BY token)
        |SELECT token, df, postings FROM i CROSS JOIN n
        |WHERE df >= 2 AND df <= n_docs * 0.9""".stripMargin,

    "q_bloom_join" ->
      s"""$EvCte, dim AS (
         |  SELECT DISTINCT user_id, user_id * 2 AS attr
         |  FROM e WHERE user_id % 20 = 0
         |)
         |SELECT e.event_id, e.user_id, dim.attr
         |FROM e JOIN dim USING (user_id)""".stripMargin,

    "q_retention" ->
      s"""$EvCte, d AS (
         |  SELECT user_id, CAST(floor(ts_sec / 86400) AS BIGINT) AS day_n FROM e
         |), c AS (
         |  SELECT user_id, MIN(day_n) AS cohort FROM d GROUP BY 1
         |)
         |SELECT cohort, day_n - cohort AS offset,
         |       COUNT(DISTINCT user_id) AS n_active
         |FROM d JOIN c USING (user_id)
         |GROUP BY 1, 2""".stripMargin,

    "q_funnel" ->
      s"""$EvCte, s1 AS (
         |  SELECT user_id AS k, MIN(ts_sec) AS t, MIN(ts_sec) AS t0
         |  FROM e WHERE event_type = 'view' GROUP BY 1
         |), s2 AS (
         |  SELECT e.user_id AS k, MIN(e.ts_sec) AS t, MIN(s1.t0) AS t0
         |  FROM e JOIN s1 ON e.user_id = s1.k
         |  WHERE e.event_type = 'click' AND e.ts_sec > s1.t
         |    AND e.ts_sec <= s1.t0 + 86400
         |  GROUP BY 1
         |), s3 AS (
         |  SELECT e.user_id AS k, MIN(e.ts_sec) AS t, MIN(s2.t0) AS t0
         |  FROM e JOIN s2 ON e.user_id = s2.k
         |  WHERE e.event_type = 'purchase' AND e.ts_sec > s2.t
         |    AND e.ts_sec <= s2.t0 + 86400
         |  GROUP BY 1
         |)
         |SELECT 1 AS stage, COUNT(*) AS n_entities FROM s1
         |UNION ALL SELECT 2, COUNT(*) FROM s2
         |UNION ALL SELECT 3, COUNT(*) FROM s3""".stripMargin,

    "q_encounters" ->
      s"""$EvCte, p AS (
         |  SELECT a.user_id AS id_a, b.user_id AS id_b,
         |         2 * 6371.0 * asin(sqrt(
         |           pow(sin(radians(b.lat - a.lat) / 2), 2) +
         |           cos(radians(a.lat)) * cos(radians(b.lat)) *
         |           pow(sin(radians(b.lon - a.lon) / 2), 2))) AS km
         |  FROM e a JOIN e b
         |    ON a.user_id < b.user_id
         |   AND abs(a.ts_sec - b.ts_sec) <= 1800
         |   AND abs(a.lat - b.lat) * 111.0 <= 50.0
         |)
         |SELECT id_a, id_b, COUNT(*) AS n_meetings,
         |       floor(MIN(km)*1000 + 0.5)/1000 AS min_km
         |FROM p WHERE km <= 50.0 GROUP BY 1, 2""".stripMargin,

    "q_stay_points" ->
      s"""$EvCte, a AS (
         |  SELECT user_id, ts_sec, event_id, lat, lon,
         |         (value < $SpeedThreshold) AS anch
         |  FROM e
         |), c AS (
         |  SELECT *, CASE WHEN lag(anch) OVER w IS NULL
         |                   OR lag(anch) OVER w <> anch
         |                 THEN 1 ELSE 0 END AS chg
         |  FROM a WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
         |), r AS (
         |  SELECT *, SUM(chg) OVER (PARTITION BY user_id
         |              ORDER BY ts_sec, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stay_id
         |  FROM c
         |)
         |SELECT user_id, CAST(stay_id AS BIGINT) AS stay_id,
         |       MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
         |       COUNT(*) AS n_points,
         |       floor(AVG(lat)*1000 + 0.5)/1000 AS lat_mean,
         |       floor(AVG(lon)*1000 + 0.5)/1000 AS lon_mean
         |FROM r WHERE anch GROUP BY user_id, stay_id
         |HAVING MAX(ts_sec) - MIN(ts_sec) >= 3600""".stripMargin,

    "q_od_matrix" ->
      s"""$SessCte, sc AS (
         |  SELECT user_id, session_id, ts_sec, event_id,
         |         concat(CAST(floor(lat / 20.0) * 20.0 AS INT), ':',
         |                CAST(floor(lon / 20.0) * 20.0 AS INT)) AS cell
         |  FROM sess
         |), od AS (
         |  SELECT user_id, session_id,
         |         first(cell ORDER BY ts_sec, event_id) AS origin,
         |         last(cell ORDER BY ts_sec, event_id) AS dest
         |  FROM sc GROUP BY user_id, session_id
         |)
         |SELECT origin, dest, COUNT(*) AS n_sessions FROM od GROUP BY 1, 2""".stripMargin,

    "q_bbox" ->
      s"""$SessCte
         |SELECT user_id, session_id,
         |       floor(MIN(lat)*1000 + 0.5)/1000 AS lat_min,
         |       floor(MAX(lat)*1000 + 0.5)/1000 AS lat_max,
         |       floor(MIN(lon)*1000 + 0.5)/1000 AS lon_min,
         |       floor(MAX(lon)*1000 + 0.5)/1000 AS lon_max
         |FROM sess GROUP BY 1, 2""".stripMargin,

    "q_hourly" ->
      """SELECT CAST(strftime(ts, '%H') AS INT) AS hour, COUNT(*) AS n,
        |       floor(AVG(value)*1000 + 0.5)/1000 AS avg_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_autocorr" ->
      s"""$EvCte, l AS (
         |  SELECT user_id, value,
         |         lag(value) OVER (PARTITION BY user_id
         |           ORDER BY ts_sec, event_id) AS lagv
         |  FROM e
         |)
         |SELECT user_id, floor(corr(value, lagv)*1000 + 0.5)/1000 AS autocorr,
         |       COUNT(lagv) AS n_pairs
         |FROM l GROUP BY 1""".stripMargin,

    "q_survival" ->
      s"""$EvCte, hz AS (SELECT MAX(ts_sec) AS h FROM e),
         |life AS (
         |  SELECT user_id,
         |         CAST(floor((MAX(ts_sec) - MIN(ts_sec)) / 86400.0) AS BIGINT)
         |           AS duration,
         |         MAX(ts_sec) AS last_ts,
         |         first(event_type ORDER BY ts_sec, event_id) AS cohort
         |  FROM e GROUP BY user_id
         |), obs AS (
         |  SELECT cohort, duration AS t,
         |         CASE WHEN last_ts < h - 604800 THEN 1 ELSE 0 END AS ev
         |  FROM life CROSS JOIN hz
         |), byt AS (
         |  SELECT cohort, t, SUM(ev) AS d, COUNT(*) AS m FROM obs GROUP BY 1, 2
         |), w AS (
         |  SELECT cohort, t, d, m,
         |         SUM(m) OVER (PARTITION BY cohort ORDER BY t
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
         |  FROM byt
         |), f AS (
         |  SELECT *, CAST(n_risk - d AS DOUBLE) / n_risk AS fac FROM w
         |), s AS (
         |  SELECT *,
         |         MAX(CASE WHEN fac = 0 THEN 1 ELSE 0 END) OVER cw AS hit0,
         |         SUM(CASE WHEN fac > 0 THEN ln(fac) END) OVER cw AS sl
         |  FROM f WINDOW cw AS (PARTITION BY cohort ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT cohort, t, CAST(n_risk AS BIGINT) AS n_risk,
         |       CAST(d AS BIGINT) AS n_event,
         |       CAST(m - d AS BIGINT) AS n_censor,
         |       CASE WHEN hit0 = 1 THEN 0.0
         |            ELSE floor(exp(sl)*1000 + 0.5)/1000 END AS survival
         |FROM s""".stripMargin,

    "q_spearman" -> {
      val cols = Seq("l_quantity", "l_discount", "l_tax")
      val rks = cols.map(c =>
        s"""rank() OVER (ORDER BY $c)
           |           + (COUNT(*) OVER (PARTITION BY $c) - 1) / 2.0 AS rk_$c"""
          .stripMargin)
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      val branches = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y,
           |       floor(corr(rk_$a, rk_$b)*1000 + 0.5)/1000 AS rho FROM r"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH r AS (
         |  SELECT ${rks.mkString(",\n         ")}
         |  FROM lineitem
         |  WHERE ${cols.map(_ + " IS NOT NULL").mkString(" AND ")}
         |)
         |$branches""".stripMargin
    },

    "q_assoc" ->
      """WITH obs AS (
        |  SELECT c_mktsegment AS a, c_nationkey AS b, COUNT(*) AS n_ab
        |  FROM customer GROUP BY 1, 2
        |), ma AS (SELECT a, SUM(n_ab) AS n_a FROM obs GROUP BY 1),
        |mb AS (SELECT b, SUM(n_ab) AS n_b FROM obs GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS n FROM obs),
        |cells AS (
        |  SELECT ma.a, mb.b,
        |         coalesce(CAST(obs.n_ab AS DOUBLE), 0) AS o,
        |         CAST(ma.n_a AS DOUBLE) * mb.n_b / t.n AS ex,
        |         CAST(ma.n_a AS DOUBLE) AS n_a, CAST(mb.n_b AS DOUBLE) AS n_b,
        |         t.n
        |  FROM ma CROSS JOIN mb
        |  LEFT JOIN obs ON obs.a = ma.a AND obs.b = mb.b
        |  CROSS JOIN t
        |)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_total,
        |       floor(SUM(CASE WHEN o > 0
        |               THEN (o/n) * ln(o*n/(n_a*n_b)) ELSE 0 END)
        |             *1000 + 0.5)/1000 AS mi,
        |       floor(SUM((o-ex)*(o-ex)/ex)*1000 + 0.5)/1000 AS chi2,
        |       CASE WHEN LEAST(COUNT(DISTINCT a), COUNT(DISTINCT b)) <= 1
        |            THEN NULL
        |            ELSE floor(sqrt(SUM((o-ex)*(o-ex)/ex)
        |                   / (MAX(n) * (LEAST(COUNT(DISTINCT a),
        |                                      COUNT(DISTINCT b)) - 1)))
        |                 *1000 + 0.5)/1000 END AS cramers_v
        |FROM cells""".stripMargin,

    "q_gini" ->
      s"""$EvCte, act AS (
         |  SELECT event_type, user_id, COUNT(*) AS n_ev FROM e GROUP BY 1, 2
         |), rk AS (
         |  SELECT event_type, n_ev,
         |         ROW_NUMBER() OVER (PARTITION BY event_type
         |           ORDER BY n_ev, user_id) AS i
         |  FROM act
         |)
         |SELECT event_type, COUNT(*) AS n,
         |       floor((2.0*SUM(i*n_ev) - (COUNT(*)+1)*SUM(n_ev))
         |             / (COUNT(*)*SUM(n_ev)) *1000 + 0.5)/1000 AS gini
         |FROM rk GROUP BY 1""".stripMargin,

    "q_powerlaw" ->
      s"""$EvCte, d AS (SELECT user_id, COUNT(*) AS deg FROM e GROUP BY 1),
         |t AS (SELECT COUNT(*) AS n, SUM(ln(deg / 4.5)) AS sl
         |      FROM d WHERE deg >= 5)
         |SELECT n, CAST(5 AS BIGINT) AS xmin,
         |       CASE WHEN n = 0 OR sl <= 0 THEN NULL
         |            ELSE floor((1.0 + n/sl)*1000 + 0.5)/1000 END AS alpha,
         |       CASE WHEN n = 0 OR sl <= 0 THEN NULL
         |            ELSE floor((n/sl)/sqrt(n)*1000 + 0.5)/1000 END AS alpha_se
         |FROM t""".stripMargin,

    "q_clustering_coef" ->
      s"""$EvCte, ed AS (
         |  SELECT DISTINCT least(user_id % 97, (user_id * 31 + 7) % 97) AS u,
         |         greatest(user_id % 97, (user_id * 31 + 7) % 97) AS v
         |  FROM e
         |  WHERE user_id % 97 <> (user_id * 31 + 7) % 97
         |), tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM ed e1
         |  JOIN ed e2 ON e2.u = e1.v
         |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
         |), tn AS (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri
         |), tc AS (SELECT node, COUNT(*) AS n_tri FROM tn GROUP BY 1),
         |dg AS (
         |  SELECT n AS node, COUNT(*) AS degree
         |  FROM (SELECT u AS n FROM ed UNION ALL SELECT v FROM ed)
         |  GROUP BY 1
         |)
         |SELECT dg.node, dg.degree,
         |       coalesce(tc.n_tri, 0) AS n_tri,
         |       CASE WHEN dg.degree >= 2
         |            THEN floor(coalesce(tc.n_tri, 0)*2.0
         |                   / (dg.degree*(dg.degree-1)) *1000 + 0.5)/1000
         |       END AS coef
         |FROM dg LEFT JOIN tc ON tc.node = dg.node""".stripMargin,

    "q_benford" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS g, o_totalprice AS x
        |  FROM orders WHERE o_totalprice > 0
        |), dd AS (
        |  SELECT g, CASE WHEN floor(x / pow(10, floor(log10(x)))) = 10 THEN 1
        |            ELSE CAST(floor(x / pow(10, floor(log10(x)))) AS INT)
        |            END AS d
        |  FROM v
        |), cnt AS (SELECT g, d, COUNT(*) AS nd FROM dd GROUP BY 1, 2),
        |tot AS (SELECT g, SUM(nd) AS n FROM cnt GROUP BY 1),
        |digits AS (SELECT UNNEST(range(1, 10)) AS d),
        |cells AS (
        |  SELECT tot.g, digits.d, tot.n,
        |         coalesce(CAST(cnt.nd AS DOUBLE), 0) AS o,
        |         log10(1.0 + 1.0/digits.d) * tot.n AS e,
        |         log10(1.0 + 1.0/digits.d) AS ed
        |  FROM tot CROSS JOIN digits
        |  LEFT JOIN cnt ON cnt.g = tot.g AND cnt.d = digits.d
        |)
        |SELECT g AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
        |       floor(SUM((o-e)*(o-e)/e)*1000 + 0.5)/1000 AS chi2,
        |       floor(SUM(abs(o/n - ed))/9.0*1000 + 0.5)/1000 AS mad
        |FROM cells GROUP BY 1""".stripMargin,

    "q_kanon" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz,
        |         COUNT(DISTINCT c_acctbal) AS ls
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT 5 AS k,
        |       CAST(SUM(sz) AS BIGINT) AS n_rows,
        |       COUNT(*) AS n_classes,
        |       CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS risky_classes,
        |       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |         AS risky_rows,
        |       MIN(sz) AS min_class_size,
        |       CAST(SUM(CASE WHEN ls < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS low_diversity_classes
        |FROM cls""".stripMargin,

    "q_kn_bigram" ->
      """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT id, unnest(range(1, len(toks))) AS i, toks
        |      FROM t WHERE len(toks) >= 2),
        |b AS (SELECT id, toks[i] AS w1, toks[i+1] AS w2 FROM p),
        |bc AS (SELECT w1, w2, COUNT(*) AS n_xy FROM b GROUP BY 1, 2),
        |cx AS (SELECT w1, SUM(n_xy) AS c_ctx, COUNT(*) AS n1p_fwd
        |       FROM bc GROUP BY 1),
        |cn AS (SELECT w2, COUNT(*) AS n1p_bwd FROM bc GROUP BY 1),
        |ty AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_types FROM bc),
        |sc AS (SELECT id, COUNT(*) AS n_bigrams,
        |              AVG(ln((greatest(n_xy - 0.75, 0.0)
        |                      + 0.75 * n1p_fwd * (n1p_bwd / n_types))
        |                     / c_ctx)) AS kn_logprob
        |       FROM b JOIN bc USING (w1, w2) JOIN cx USING (w1)
        |            JOIN cn USING (w2) CROSS JOIN ty
        |       GROUP BY id)
        |SELECT t.id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |       floor(sc.kn_logprob*1000 + 0.5)/1000 AS kn_logprob
        |FROM t LEFT JOIN sc USING (id)""".stripMargin,

    "q_mannwhitney" ->
      """WITH f AS (
        |  SELECT CAST(length(text) AS DOUBLE) AS v,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
        |         CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS ib
        |  FROM documents WHERE lang IN ('en', 'de')
        |), c AS (SELECT v, SUM(ia) AS ca, SUM(ib) AS cb FROM f GROUP BY v),
        |r AS (
        |  SELECT *, coalesce(SUM(ca + cb) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + (ca + cb + 1) / 2.0 AS rk
        |  FROM c
        |), t AS (
        |  SELECT CAST(SUM(ca) AS DOUBLE) AS na,
        |         CAST(SUM(cb) AS DOUBLE) AS nb,
        |         SUM(ca * rk) AS ra,
        |         CAST(SUM((ca+cb)*(ca+cb)*(ca+cb) - (ca+cb)) AS DOUBLE) AS ties
        |  FROM r
        |)
        |SELECT floor((ra - na*(na+1)/2)*1000 + 0.5)/1000 AS u,
        |       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       CASE WHEN na = 0 OR nb = 0
        |              OR na*nb/12.0*((na+nb+1) - ties/((na+nb)*(na+nb-1))) <= 0
        |            THEN NULL
        |            ELSE floor((ra - na*(na+1)/2 - na*nb/2)
        |                   / sqrt(na*nb/12.0*((na+nb+1)
        |                          - ties/((na+nb)*(na+nb-1))))
        |                 *1000 + 0.5)/1000 END AS z
        |FROM t""".stripMargin,

    "q_jsd" ->
      """WITH c AS (
        |  SELECT source AS k,
        |         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
        |         SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS cb
        |  FROM documents WHERE lang IN ('en', 'de') GROUP BY 1
        |), t AS (SELECT CAST(SUM(ca) AS DOUBLE) AS na,
        |                CAST(SUM(cb) AS DOUBLE) AS nb FROM c),
        |d AS (
        |  SELECT ca / na AS p, cb / nb AS q, (ca/na + cb/nb) / 2 AS m,
        |         na, nb
        |  FROM c CROSS JOIN t
        |)
        |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
        |       floor((SUM(CASE WHEN p > 0 THEN p * ln(p/m) ELSE 0 END) / 2
        |              + SUM(CASE WHEN q > 0 THEN q * ln(q/m) ELSE 0 END) / 2)
        |             *1000 + 0.5)/1000 AS jsd,
        |       floor((SUM(CASE WHEN p > 0 THEN p * ln(p/m) ELSE 0 END) / 2
        |              + SUM(CASE WHEN q > 0 THEN q * ln(q/m) ELSE 0 END) / 2)
        |             / ln(2.0) *1000 + 0.5)/1000 AS jsd_bits
        |FROM d""".stripMargin,

    "q_theilsen" ->
      s"""$EvCte, p AS (
         |  SELECT user_id, CAST(floor(ts_sec / 86400) AS DOUBLE) AS x,
         |         SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT))
         |           / (1000.0 * COUNT(*)) AS y
         |  FROM e GROUP BY user_id, floor(ts_sec / 86400)
         |), s AS (
         |  SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS sl
         |  FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x
         |), r AS (
         |  SELECT user_id, sl,
         |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sl) AS rn,
         |         COUNT(*) OVER (PARTITION BY user_id) AS n
         |  FROM s
         |)
         |SELECT user_id, MAX(n) AS n_pairs,
         |       floor(AVG(CASE WHEN rn = CAST(floor((n+1)/2.0) AS BIGINT)
         |                        OR rn = CAST(floor(n/2.0) AS BIGINT) + 1
         |                      THEN sl END)*1000 + 0.5)/1000 AS slope
         |FROM r GROUP BY user_id""".stripMargin,

    "q_mannkendall" ->
      s"""$EvCte, p AS (
         |  SELECT user_id, CAST(floor(ts_sec / 86400) AS DOUBLE) AS x,
         |         SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT))
         |           / (1000.0 * COUNT(*)) AS y
         |  FROM e GROUP BY user_id, floor(ts_sec / 86400)
         |), st AS (
         |  SELECT a.user_id,
         |         CAST(SUM(CASE WHEN b.y > a.y THEN 1
         |                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
         |  FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x
         |  GROUP BY 1
         |), nt AS (SELECT user_id, COUNT(*) AS n FROM p GROUP BY 1),
         |tt AS (
         |  SELECT user_id,
         |         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS ties
         |  FROM (SELECT user_id, COUNT(*) AS t FROM p GROUP BY user_id, y)
         |  GROUP BY 1
         |), v AS (
         |  SELECT nt.user_id, nt.n, st.s,
         |         (nt.n * (nt.n - 1) * (2 * nt.n + 5) - tt.ties)::DOUBLE / 18.0
         |           AS var_s
         |  FROM nt JOIN st USING (user_id) JOIN tt USING (user_id)
         |)
         |SELECT user_id, n, s, floor(var_s * 1000 + 0.5) / 1000 AS var_s,
         |       floor(CASE WHEN var_s <= 0.0 THEN NULL
         |                  WHEN s > 0 THEN (s - 1)::DOUBLE / sqrt(var_s)
         |                  WHEN s < 0 THEN (s + 1)::DOUBLE / sqrt(var_s)
         |                  ELSE 0.0 END * 1000 + 0.5) / 1000 AS z
         |FROM v""".stripMargin,

    "q_walks" -> {
      def stepCte(s: Int, prev: String): String =
        s"""s$s AS (
           |  SELECT walk_id,
           |         arg_min(dst, md5('w0:' || walk_id || ':$s:' || dst)) AS cur
           |  FROM $prev JOIN sym ON sym.src = $prev.cur GROUP BY walk_id
           |)""".stripMargin
      s"""$EvCte, p0 AS (
         |  SELECT user_id % 97 AS src, (user_id * 31 + 7) % 97 AS dst FROM e
         |  WHERE user_id % 97 <> (user_id * 31 + 7) % 97
         |), sym AS (
         |  SELECT src, dst FROM p0
         |  UNION
         |  SELECT dst, src FROM p0
         |), w0 AS (
         |  SELECT DISTINCT src || ':0' AS walk_id, src AS cur FROM sym
         |),
         |${stepCte(1, "w0")},
         |${stepCte(2, "s1")},
         |${stepCte(3, "s2")}
         |SELECT walk_id, 0 AS step, cur AS node FROM w0
         |UNION ALL SELECT walk_id, 1, cur FROM s1
         |UNION ALL SELECT walk_id, 2, cur FROM s2
         |UNION ALL SELECT walk_id, 3, cur FROM s3""".stripMargin
    },

    "q_feat_prop" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |ed0 AS (
        |  SELECT a.vec_id AS ea, a.vec_id + 7 AS eb
        |  FROM v a
        |  WHERE EXISTS (SELECT 1 FROM v x WHERE x.vec_id = a.vec_id + 7)
        |), sym AS (
        |  SELECT ea, eb FROM ed0 UNION SELECT eb, ea FROM ed0
        |), ex AS (
        |  SELECT sym.ea AS id, i - 1 AS pos, emb[i] AS x
        |  FROM sym JOIN v ON v.vec_id = sym.eb
        |  CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i)
        |), nm AS (SELECT id, pos, AVG(x) AS m FROM ex GROUP BY 1, 2)
        |SELECT v.vec_id, i - 1 AS pos,
        |       floor((CASE WHEN nm.m IS NULL THEN emb[i]
        |              ELSE 0.5 * emb[i] + 0.5 * nm.m END)*1000 + 0.5)/1000
        |         AS x
        |FROM v CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i)
        |LEFT JOIN nm ON nm.id = v.vec_id AND nm.pos = i - 1""".stripMargin,

    "q_negsample" ->
      s"""$EvCte, pos AS (
         |  SELECT DISTINCT user_id, event_type FROM e WHERE user_id % 100 = 0
         |), fr AS (SELECT event_type AS item, COUNT(*) AS freq FROM e GROUP BY 1),
         |sl AS (
         |  SELECT item AS neg, w,
         |         coalesce(SUM(w) OVER (ORDER BY item
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS slot_from
         |  FROM (SELECT item,
         |               CAST(floor(pow(CAST(freq AS DOUBLE), 0.75)*1000 + 0.5)
         |                 AS BIGINT) AS w
         |        FROM fr WHERE freq > 0)
         |  WHERE w > 0
         |), sl2 AS (SELECT neg, slot_from, slot_from + w AS slot_to FROM sl),
         |tot AS (SELECT MAX(slot_to) AS total FROM sl2),
         |dr AS (
         |  SELECT user_id, event_type, j,
         |         CAST(concat('0x', substr(md5(user_id || ':' || event_type
         |             || ':' || j), 1, 15)) AS BIGINT) % total AS u
         |  FROM pos CROSS JOIN (SELECT UNNEST(range(1, 4)) AS j)
         |  CROSS JOIN tot
         |)
         |SELECT dr.user_id, dr.event_type, j AS draw, neg AS negative,
         |       neg = dr.event_type AS accidental_hit
         |FROM dr JOIN sl2 ON u >= slot_from AND u < slot_to""".stripMargin,

    "q_cuped" ->
      s"""$EvCte, mid AS (
         |  SELECT CAST(floor((MIN(ts_sec) + MAX(ts_sec)) / 2.0) AS BIGINT)
         |    AS m FROM e
         |), u AS (
         |  SELECT user_id, user_id % 2 AS variant,
         |         SUM(CASE WHEN ts_sec >= m
         |             THEN CAST(floor(value*100 + 0.5) AS BIGINT)
         |             ELSE 0 END) AS y,
         |         SUM(CASE WHEN ts_sec < m
         |             THEN CAST(floor(value*100 + 0.5) AS BIGINT)
         |             ELSE 0 END) AS x
         |  FROM e CROSS JOIN mid GROUP BY 1, 2
         |), pooled AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |         SUM(CAST(x AS DOUBLE)) AS sx,
         |         SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx,
         |         SUM(CAST(y AS DOUBLE)) AS sy,
         |         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS sxy
         |  FROM u
         |), th AS (
         |  SELECT CASE WHEN n < 2 OR sxx - sx*sx/n <= 0 THEN 0.0
         |              ELSE (sxy - sx*sy/n) / (sxx - sx*sx/n) END AS theta,
         |         sx / n AS xbar
         |  FROM pooled
         |), adj AS (
         |  SELECT variant, theta, CAST(y AS DOUBLE) AS y,
         |         CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar) AS a
         |  FROM u CROSS JOIN th
         |)
         |SELECT variant, COUNT(*) AS n,
         |       floor(MAX(theta)*1000 + 0.5)/1000 AS theta,
         |       floor(SUM(y)/COUNT(*)*1000 + 0.5)/1000 AS mean_raw,
         |       floor(SUM(a)/COUNT(*)*1000 + 0.5)/1000 AS mean_cuped,
         |       CASE WHEN COUNT(*) < 2
         |                  OR SUM(y*y) - SUM(y)*SUM(y)/COUNT(*) <= 0 THEN NULL
         |            ELSE floor((SUM(a*a) - SUM(a)*SUM(a)/COUNT(*))
         |                   / (SUM(y*y) - SUM(y)*SUM(y)/COUNT(*))
         |                   * 1000 + 0.5)/1000 END AS var_ratio
         |FROM adj GROUP BY 1""".stripMargin,

    "q_did" ->
      s"""$EvCte, mid AS (
         |  SELECT CAST(floor((MIN(ts_sec) + MAX(ts_sec)) / 2.0) AS BIGINT)
         |    AS m FROM e
         |), f AS (
         |  SELECT user_id % 2 = 1 AS t, ts_sec >= m AS post,
         |         floor(value*100 + 0.5) AS v
         |  FROM e CROSS JOIN mid
         |), c AS (
         |  SELECT
         |    SUM(CASE WHEN t AND post THEN v END)
         |      / COUNT(CASE WHEN t AND post THEN v END) AS t_post,
         |    COUNT(CASE WHEN t AND post THEN v END) AS n_t_post,
         |    SUM(CASE WHEN t AND NOT post THEN v END)
         |      / COUNT(CASE WHEN t AND NOT post THEN v END) AS t_pre,
         |    COUNT(CASE WHEN t AND NOT post THEN v END) AS n_t_pre,
         |    SUM(CASE WHEN NOT t AND post THEN v END)
         |      / COUNT(CASE WHEN NOT t AND post THEN v END) AS c_post,
         |    COUNT(CASE WHEN NOT t AND post THEN v END) AS n_c_post,
         |    SUM(CASE WHEN NOT t AND NOT post THEN v END)
         |      / COUNT(CASE WHEN NOT t AND NOT post THEN v END) AS c_pre,
         |    COUNT(CASE WHEN NOT t AND NOT post THEN v END) AS n_c_pre
         |  FROM f
         |)
         |SELECT n_t_post, n_t_pre, n_c_post, n_c_pre,
         |       floor(t_post*1000 + 0.5)/1000 AS t_post,
         |       floor(t_pre*1000 + 0.5)/1000 AS t_pre,
         |       floor(c_post*1000 + 0.5)/1000 AS c_post,
         |       floor(c_pre*1000 + 0.5)/1000 AS c_pre,
         |       CASE WHEN n_t_post = 0 OR n_t_pre = 0 OR n_c_post = 0
         |              OR n_c_pre = 0 THEN NULL
         |            ELSE floor(((t_post - t_pre) - (c_post - c_pre))
         |                   *1000 + 0.5)/1000 END AS did
         |FROM c""".stripMargin,

    "q_huber" ->
      s"""$EvCte, r AS (
         |  SELECT user_id, value,
         |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value)
         |           AS rn,
         |         COUNT(*) OVER (PARTITION BY user_id) AS n
         |  FROM e
         |), m AS (
         |  SELECT user_id,
         |         AVG(CASE WHEN rn = CAST(floor((n+1)/2.0) AS BIGINT)
         |                    OR rn = CAST(floor(n/2.0) AS BIGINT) + 1
         |                  THEN value END) AS med
         |  FROM r GROUP BY 1
         |), r2 AS (
         |  SELECT e.user_id, e.value, m.med,
         |         ROW_NUMBER() OVER (PARTITION BY e.user_id
         |           ORDER BY abs(e.value - m.med)) AS rn,
         |         COUNT(*) OVER (PARTITION BY e.user_id) AS n
         |  FROM e JOIN m USING (user_id)
         |), md AS (
         |  SELECT user_id,
         |         AVG(CASE WHEN rn = CAST(floor((n+1)/2.0) AS BIGINT)
         |                    OR rn = CAST(floor(n/2.0) AS BIGINT) + 1
         |                  THEN abs(value - med) END) AS mad
         |  FROM r2 GROUP BY 1
         |), w AS (
         |  SELECT e.user_id, e.value, m.med, md.mad,
         |         CASE WHEN md.mad = 0 OR abs(e.value - m.med) = 0 THEN 1.0
         |              ELSE least(1.0,
         |                1.345 * (md.mad / 0.6745) / abs(e.value - m.med))
         |              END AS w
         |  FROM e JOIN m USING (user_id) JOIN md USING (user_id)
         |)
         |SELECT user_id, COUNT(*) AS n,
         |       floor(MAX(med)*1000 + 0.5)/1000 AS median,
         |       floor(MAX(mad)*1000 + 0.5)/1000 AS mad,
         |       CASE WHEN MAX(mad) = 0 THEN floor(MAX(med)*1000 + 0.5)/1000
         |            ELSE floor(SUM(w*value)/SUM(w)*1000 + 0.5)/1000
         |       END AS huber_mean
         |FROM w GROUP BY 1""".stripMargin,

    "q_ttest" ->
      """WITH f AS (
        |  SELECT CAST(length(text) AS DOUBLE) AS v,
        |         lang = 'en' AS ia
        |  FROM documents WHERE lang IN ('en', 'de')
        |), m AS (
        |  SELECT SUM(CASE WHEN ia THEN v END) AS sa,
        |         SUM(CASE WHEN ia THEN v*v END) AS qa,
        |         CAST(COUNT(CASE WHEN ia THEN v END) AS DOUBLE) AS na,
        |         SUM(CASE WHEN NOT ia THEN v END) AS sb,
        |         SUM(CASE WHEN NOT ia THEN v*v END) AS qb,
        |         CAST(COUNT(CASE WHEN NOT ia THEN v END) AS DOUBLE) AS nb
        |  FROM f
        |), d AS (
        |  SELECT *,
        |         (qa - sa*sa/na) / (na - 1) / na AS sea,
        |         (qb - sb*sb/nb) / (nb - 1) / nb AS seb
        |  FROM m
        |)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       floor(sa/na*1000 + 0.5)/1000 AS mean_a,
        |       floor(sb/nb*1000 + 0.5)/1000 AS mean_b,
        |       CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0
        |            THEN floor((sa/na - sb/nb) / sqrt(sea + seb)*1000 + 0.5)
        |                 /1000 END AS t,
        |       CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0
        |              AND sea*sea/(na-1) + seb*seb/(nb-1) > 0
        |            THEN floor((sea + seb)*(sea + seb)
        |                   / (sea*sea/(na-1) + seb*seb/(nb-1))*1000 + 0.5)
        |                 /1000 END AS dof
        |FROM d""".stripMargin,

    "q_seasonal_decompose" ->
      s"""$EvCte, d AS (
         |  SELECT event_type, CAST(floor(ts_sec / 86400) AS BIGINT) AS day,
         |         CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM e GROUP BY 1, 2
         |), t AS (
         |  SELECT *, AVG(n) OVER wf AS trend, COUNT(n) OVER wf AS nw
         |  FROM d WINDOW wf AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |), tr AS (
         |  SELECT *, day % 7 AS phase, n - trend AS detr FROM t WHERE nw = 7
         |), se AS (
         |  SELECT event_type, phase, AVG(detr) AS smean FROM tr GROUP BY 1, 2
         |), sc AS (
         |  SELECT event_type, phase,
         |         smean - AVG(smean) OVER (PARTITION BY event_type) AS seasonal
         |  FROM se
         |)
         |SELECT tr.event_type, tr.day, tr.n AS y,
         |       floor(trend*1000 + 0.5)/1000 AS trend,
         |       floor(seasonal*1000 + 0.5)/1000 AS seasonal,
         |       floor((tr.n - trend - seasonal)*1000 + 0.5)/1000 AS residual
         |FROM tr JOIN sc ON sc.event_type = tr.event_type
         |  AND sc.phase = tr.phase""".stripMargin
  )

  /** DuckDB left-fold cosine between two DOUBLE[] expressions — same
   * accumulation order as [[graft.operators.Similarity.dot]], so the
   * doubles are bit-identical across engines. */
  /** Shared interval-flattening CTE chain: events → per-row spans →
   * running-max span ids. `tail` consumes `sp(user_id, s, en, span_id)`
   * — the Spark twin is Intervals.mergeIntervals' window recipe. */
  private def IntervalMergeSql(tail: String): String =
    s"""$EvCte, iv AS (
       |  SELECT user_id, ts_sec AS s,
       |         ts_sec + CAST(floor(value * 60) AS BIGINT) AS en, event_id
       |  FROM e),
       |mk AS (
       |  SELECT user_id, s, en, event_id,
       |         CASE WHEN lagmax IS NULL OR s > lagmax THEN 1 ELSE 0 END AS nw
       |  FROM (
       |    SELECT user_id, s, en, event_id,
       |           max(en) OVER (PARTITION BY user_id
       |             ORDER BY s ASC, en ASC, event_id ASC
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lagmax
       |    FROM iv)),
       |sp AS (
       |  SELECT user_id, s, en,
       |         CAST(SUM(nw) OVER (PARTITION BY user_id
       |           ORDER BY s ASC, en ASC, event_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS span_id
       |  FROM mk)
       |$tail""".stripMargin

  /** DuckDB twin of [[Text.bm25TopK]](docs, docs where doc_id < 5,
   * k1=1.2, b=0.75, scoreRoundDecimals=3) — expression shapes mirror
   * the Spark column tree exactly (left-associated products, the
   * (k1 + 1.0) constant interpolated from the Scala double so both
   * engines divide by the bit-identical value). Shared by q_bm25 and
   * q_rrf_hybrid's sparse branch. */
  /** The BM25 CTE chain ending in `ranked` (top-`k` per query) — the
   * query set is a SQL predicate over documents so eval harnesses can
   * retrieve for a derived query population (q_retrieval_eval) while
   * q_bm25/q_rrf_hybrid keep the fixed probe set. */
  private def bm25Ctes(k: Int, queryFilter: String = "doc_id < 5"): String =
    s"""toks AS (
       |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
       |  FROM documents
       |), tf AS (
       |  SELECT id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
       |), tf2 AS (
       |  SELECT *, SUM(tf) OVER (PARTITION BY id) AS dl FROM tf
       |), dfreq AS (
       |  SELECT token, COUNT(DISTINCT id) AS df FROM toks GROUP BY 1
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl
       |  FROM (SELECT id, COUNT(*) AS dl FROM toks GROUP BY 1)
       |), qt AS (
       |  SELECT DISTINCT doc_id AS query_id,
       |         unnest(string_split(text, ' ')) AS token
       |  FROM documents WHERE $queryFilter
       |), scored AS (
       |  SELECT query_id, id,
       |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ${1.2 + 1.0}
       |           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
       |  FROM tf2 JOIN dfreq USING (token) JOIN qt USING (token)
       |       CROSS JOIN stats
       |  WHERE query_id <> id
       |), agg AS (
       |  SELECT query_id, id AS doc_id,
       |         floor(SUM(w)*1000 + 0.5)/1000 AS bm25, COUNT(*) AS n_terms
       |  FROM scored GROUP BY 1, 2
       |), ranked AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY bm25 DESC, doc_id ASC) AS rank FROM agg
       |  ) WHERE rank <= $k
       |)""".stripMargin

  private def bm25Sql(k: Int, cols: String): String =
    s"""WITH ${bm25Ctes(k)}
       |SELECT $cols FROM ranked""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_transform($a, (x,i) -> x * $b[i]), (x,y) -> x + y)
       | / (sqrt(list_reduce(list_transform($a, (x,i) -> x * $a[i]), (x,y) -> x + y))
       |  * sqrt(list_reduce(list_transform($b, (x,i) -> x * $b[i]), (x,y) -> x + y))))"""
      .stripMargin.replace("\n", " ")

  /** Strict left-fold dot product (same IEEE accumulation order as the
   * graft DotProduct kernel). `b` may be a literal DuckDB list. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform($a, (x,i) -> x * $b[i]), (x,y) -> x + y)"

  /** The same deterministic hyperplane tables lshTopK(seed=42, nPlanes=4,
   * nTables=8) uses, rendered as DuckDB list literals — the oracle
   * reproduces the exact per-table bucket strings (Double.toString
   * round-trips bit-exactly in both engines). Returns one bucket
   * expression per table. */
  private def lshBucketSqls(v: String): Seq[String] =
    operators.Similarity.lshTables(nPlanes = 4, nTables = 8, dim = 64, seed = 42L)
      .map(_.map { p =>
        val lst = p.map(_.toString).mkString("([", ",", "])")
        s"(CASE WHEN ${dotSql(v, lst)} >= 0 THEN '1' ELSE '0' END)"
      }.mkString("concat(", ", ", ")"))

  /** q_pagerank oracle: the transition-graph PageRank unrolled as a
   * chained CTE — r0 is uniform, each r_{i+1} applies the same damped
   * update Analytics.pagerank runs (src-normalized weights, dangling
   * mass uniform). Constants are interpolated from the SAME Scala
   * doubles the operator uses, so both engines iterate identical IEEE
   * arithmetic. Integer edge weights make the per-src normalizing sums
   * EXACT in double, and the per-dst mass sums are ≤|nodes| terms, so
   * 10 iterations stay bit-stable far below the 1e-6 round. */
  /** k-center greedy oracle: seed = md5-min id, then k−1 rounds of
   * farthest-point selection — round r's min distance is LEAST over the
   * r−1 picked vectors of the SAME (v2 − 2·v·c + c2) left-fold form the
   * Spark side runs on the DotProduct kernel; argmax ties to vec_id. */
  private def kCenterSql(k: Int): String = {
    val rounds = (2 to k).map { r =>
      val dists = (1 until r).map { j =>
        s"(p.v2 - 2.0 * ${dotSql("p.v", s"s$j.v")} " +
          s"+ ${dotSql(s"s$j.v", s"s$j.v")})"
      }.mkString(", ")
      val joins = (1 until r).map(j => s"CROSS JOIN s$j").mkString(" ")
      s"""d$r AS (
         |  SELECT p.vec_id, p.v, LEAST($dists) AS mind
         |  FROM pool p $joins
         |), s$r AS (
         |  SELECT vec_id, v, mind FROM d$r
         |  ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val outs = (2 to k).map(r =>
      s"""UNION ALL SELECT $r AS round, vec_id,
         |floor(mind * 1000 + 0.5) / 1000 AS dist2 FROM s$r"""
        .stripMargin.replace("\n", " ")).mkString("\n")
    s"""WITH pool AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS v2
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |), s1 AS (
       |  SELECT vec_id, v FROM pool
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
       |),
       |$rounds
       |SELECT 1 AS round, vec_id, CAST(NULL AS DOUBLE) AS dist2 FROM s1
       |$outs""".stripMargin
  }

  /** Personalized-PageRank oracle: the [[pagerankSql]] chain with the
   * uniform teleport replaced by the seed vector t (1/|S∩V| on seeds,
   * 0 elsewhere); r0 = t, each step pr = (1−d)·t + d·(in + dangling·t).
   * Same MATERIALIZED discipline — every round reads the previous 2–3
   * times. */
  private def pprSql(iters: Int, damping: Double): String = {
    val d = damping.toString
    val omd = (1.0 - damping).toString
    val steps = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (
         |  SELECT tl.node,
         |         $omd*tl.t + $d*(coalesce(c.m, 0) + dg.dm*tl.t) AS pr
         |  FROM tele tl
         |  LEFT JOIN (SELECT ed.dst, SUM($p.pr * ed.wn) AS m
         |             FROM $p JOIN ed ON $p.node = ed.src GROUP BY ed.dst) c
         |    ON c.dst = tl.node
         |  CROSS JOIN (SELECT coalesce(SUM(pr), 0) AS dm FROM $p
         |              WHERE node NOT IN (SELECT src FROM ed)) dg)""".stripMargin
    }.mkString(",\n")
    s"""$EvCte, l AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts_sec, event_id) AS prev_cat
       |  FROM e
       |), tr AS (
       |  SELECT prev_cat AS src, event_type AS dst, COUNT(*) AS nw
       |  FROM l WHERE prev_cat IS NOT NULL GROUP BY 1, 2
       |), ed AS MATERIALIZED (
       |  SELECT src, dst, CAST(nw AS DOUBLE) /
       |         SUM(CAST(nw AS DOUBLE)) OVER (PARTITION BY src) AS wn
       |  FROM tr
       |), nodes AS MATERIALIZED (
       |  SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |sd AS (SELECT node FROM nodes WHERE node < 'm'),
       |ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sd),
       |tele AS MATERIALIZED (
       |  SELECT nodes.node,
       |         CASE WHEN nodes.node IN (SELECT node FROM sd)
       |              THEN 1.0/ns.n ELSE 0.0 END AS t
       |  FROM nodes CROSS JOIN ns),
       |r0 AS MATERIALIZED (SELECT node, t AS pr FROM tele),
       |$steps
       |SELECT node, floor(r$iters.pr*1000000 + 0.5)/1000000 AS pr
       |FROM r$iters""".stripMargin
  }

  /** q_louvain oracle: both Louvain phases unrolled as chained CTEs.
   * Every quantity the algorithm compares is BIGINT (DuckDB widens the
   * SUMs to HUGEINT — still exact), the candidate argmax is a
   * row_number window ordered (score DESC, cand ASC) — the same
   * (−score, cand) min_by struct the Spark side runs — and the
   * parity-alternated move gate replays the md5 first-nibble test
   * verbatim (md5 hex is identical across engines), so the replay is
   * bit-for-bit with NO tolerance anywhere. */
  /** Louvain move-round CTE chain, shared by [[louvainSql]] and
   * [[leidenSql]]: `tag`0 must already exist as the starting partition
   * CTE; emits `tag`1..`tag`moveRounds with the bit-for-bit BIGINT ΔQ
   * replay and the md5-nibble parity move gate. */
  private def louvainRoundsSql(moveRounds: Int, tag: String, sym: String,
                               deg: String, w2: String): String = {
    // move gate for round i: nodes whose md5 first hex nibble has
    // parity i%2 adopt their best candidate, the rest hold
    def moveCond(i: Int, node: String): String = {
      val digits = if (i % 2 == 1) "13579bdf" else "02468ace"
      s"strpos('$digits', substr(md5(CAST($node AS VARCHAR)), 1, 1)) > 0"
    }
    (1 to moveRounds).map { i =>
        val prev = s"$tag${i - 1}"
        s"""$tag$i AS MATERIALIZED (
           |  SELECT l.node,
           |         CASE WHEN ${moveCond(i, "l.node")}
           |              THEN p.best ELSE l.comm END AS comm
           |  FROM $prev l
           |  JOIN (
           |    SELECT node, cand AS best FROM (
           |      SELECT sc.node, sc.cand,
           |             row_number() OVER (PARTITION BY sc.node
           |               ORDER BY sc.score DESC, sc.cand ASC) AS rnk
           |      FROM (
           |        SELECT c.node, c.cand,
           |               w.w2 * c.k - d.d *
           |                 (dc.dcm - CASE WHEN c.cand = l2.comm
           |                                THEN d.d ELSE 0 END) AS score
           |        FROM (
           |          SELECT node, cand, SUM(w) AS k FROM (
           |            SELECT sy.u AS node, l3.comm AS cand, sy.w
           |            FROM $sym sy JOIN $prev l3 ON sy.v = l3.node
           |            UNION ALL
           |            SELECT node, comm AS cand, 0 FROM $prev
           |          ) GROUP BY 1, 2) c
           |        JOIN (SELECT l4.comm, SUM(d4.d) AS dcm
           |              FROM $prev l4 JOIN $deg d4 ON d4.node = l4.node
           |              GROUP BY 1) dc ON dc.comm = c.cand
           |        JOIN $prev l2 ON l2.node = c.node
           |        JOIN $deg d ON d.node = c.node
           |        CROSS JOIN $w2 w
           |      ) sc
           |    ) WHERE rnk = 1
           |  ) p ON p.node = l.node)""".stripMargin
      }.mkString(",\n")
  }

  private def louvainSql(moveRounds: Int): String = {
    def rounds(tag: String, sym: String, deg: String, w2: String): String =
      louvainRoundsSql(moveRounds, tag, sym, deg, w2)
    val r = moveRounds
    s"""WITH ed0 AS (
       |  SELECT user_id % 97 AS a, (user_id * 31 + 7) % 97 AS b FROM events
       |  UNION ALL
       |  SELECT user_id % 97, (user_id * 57 + 13) % 97 FROM events
       |), g AS (
       |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
       |  FROM ed0 WHERE a <> b AND a IS NOT NULL AND b IS NOT NULL
       |), sym1 AS MATERIALIZED (
       |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM g
       |  UNION ALL SELECT v, u, CAST(1 AS BIGINT) FROM g
       |), deg1 AS MATERIALIZED (
       |  SELECT u AS node, SUM(w) AS d FROM sym1 GROUP BY 1
       |), w21 AS MATERIALIZED (SELECT SUM(d) AS w2 FROM deg1),
       |p1r0 AS MATERIALIZED (SELECT node, node AS comm FROM deg1),
       |${rounds("p1r", "sym1", "deg1", "w21")},
       |tg AS MATERIALIZED (
       |  SELECT cu.comm AS cu, cv.comm AS cv, sy.w
       |  FROM sym1 sy JOIN p1r$r cu ON sy.u = cu.node
       |               JOIN p1r$r cv ON sy.v = cv.node
       |), sym2 AS MATERIALIZED (
       |  SELECT cu AS u, cv AS v, SUM(w) AS w FROM tg
       |  WHERE cu <> cv GROUP BY 1, 2
       |), self2 AS MATERIALIZED (
       |  SELECT cu AS node, SUM(w) // 2 AS sw FROM tg
       |  WHERE cu = cv GROUP BY 1
       |), deg2 AS MATERIALIZED (
       |  SELECT COALESCE(nb.node, sf.node) AS node,
       |         COALESCE(nb.dn, 0) + 2 * COALESCE(sf.sw, 0) AS d
       |  FROM (SELECT u AS node, SUM(w) AS dn FROM sym2 GROUP BY 1) nb
       |  FULL JOIN self2 sf ON nb.node = sf.node
       |), w22 AS MATERIALIZED (SELECT SUM(d) AS w2 FROM deg2),
       |p2r0 AS MATERIALIZED (SELECT node, node AS comm FROM deg2),
       |${rounds("p2r", "sym2", "deg2", "w22")}
       |SELECT CAST(c1.node AS BIGINT) AS node,
       |       CAST(COALESCE(c2.comm, c1.comm) AS BIGINT) AS community
       |FROM p1r$r c1 LEFT JOIN p2r$r c2 ON c2.node = c1.comm""".stripMargin
  }

  /** q_leiden oracle: the FULL Leiden loop unrolled — level-1 moves
   * (the bit-for-bit BIGINT [[louvainRoundsSql]] replay), REFINEMENT as
   * recursive min-label CC over intra-community edges, aggregation on
   * the REFINED partition, level-2 moves STARTING from the parent
   * partition (Leiden's other difference from Louvain), projection back
   * through the refinement mapping, and the final well-connectedness
   * repair on the original graph. Same zero-tolerance replay discipline
   * as q_louvain: the only non-integer machinery is md5 parity, which
   * is identical across engines. */
  private def leidenSql(moveRounds: Int): String = {
    val r = moveRounds
    s"""WITH RECURSIVE ed0 AS (
       |  SELECT user_id % 97 AS a, (user_id * 31 + 7) % 97 AS b FROM events
       |  UNION ALL
       |  SELECT user_id % 97, (user_id * 57 + 13) % 97 FROM events
       |), g AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
       |  FROM ed0 WHERE a <> b AND a IS NOT NULL AND b IS NOT NULL
       |), sym1 AS MATERIALIZED (
       |  SELECT u, v, CAST(1 AS BIGINT) AS w FROM g
       |  UNION ALL SELECT v, u, CAST(1 AS BIGINT) FROM g
       |), deg1 AS MATERIALIZED (
       |  SELECT u AS node, SUM(w) AS d FROM sym1 GROUP BY 1
       |), w21 AS MATERIALIZED (SELECT SUM(d) AS w2 FROM deg1),
       |p1r0 AS MATERIALIZED (SELECT node, node AS comm FROM deg1),
       |${louvainRoundsSql(r, "p1r", "sym1", "deg1", "w21")},
       |intra1 AS MATERIALIZED (
       |  SELECT g.u, g.v FROM g
       |  JOIN p1r$r cu ON g.u = cu.node
       |  JOIN p1r$r cv ON g.v = cv.node
       |  WHERE cu.comm = cv.comm
       |), redges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM intra1
       |  UNION
       |  SELECT v, u FROM intra1
       |), rreach(src, dst) AS (
       |  SELECT src, dst FROM redges
       |  UNION
       |  SELECT rr.src, e.dst FROM rreach rr JOIN redges e ON rr.dst = e.src
       |), rf AS MATERIALIZED (
       |  SELECT p.node, p.comm, COALESCE(rc.ref, p.node) AS ref
       |  FROM p1r$r p LEFT JOIN (
       |    SELECT src AS node, least(src, MIN(dst)) AS ref
       |    FROM rreach GROUP BY src) rc ON rc.node = p.node
       |), tg AS MATERIALIZED (
       |  SELECT ru.ref AS cu, rv.ref AS cv, sy.w
       |  FROM sym1 sy JOIN rf ru ON sy.u = ru.node
       |               JOIN rf rv ON sy.v = rv.node
       |), sym2 AS MATERIALIZED (
       |  SELECT cu AS u, cv AS v, SUM(w) AS w FROM tg
       |  WHERE cu <> cv GROUP BY 1, 2
       |), self2 AS MATERIALIZED (
       |  SELECT cu AS node, SUM(w) // 2 AS sw FROM tg
       |  WHERE cu = cv GROUP BY 1
       |), deg2 AS MATERIALIZED (
       |  SELECT COALESCE(nb.node, sf.node) AS node,
       |         COALESCE(nb.dn, 0) + 2 * COALESCE(sf.sw, 0) AS d
       |  FROM (SELECT u AS node, SUM(w) AS dn FROM sym2 GROUP BY 1) nb
       |  FULL JOIN self2 sf ON nb.node = sf.node
       |), w22 AS MATERIALIZED (SELECT SUM(d) AS w2 FROM deg2),
       |p2r0 AS MATERIALIZED (
       |  SELECT d2.node, COALESCE(ini.comm, d2.node) AS comm
       |  FROM deg2 d2 LEFT JOIN (
       |    SELECT DISTINCT ref AS node, comm FROM rf) ini
       |    ON ini.node = d2.node
       |),
       |${louvainRoundsSql(r, "p2r", "sym2", "deg2", "w22")},
       |memb AS MATERIALIZED (
       |  SELECT rf.node, p2.comm
       |  FROM rf JOIN p2r$r p2 ON p2.node = rf.ref
       |), fintra AS MATERIALIZED (
       |  SELECT g.u, g.v FROM g
       |  JOIN memb mu ON g.u = mu.node
       |  JOIN memb mv ON g.v = mv.node
       |  WHERE mu.comm = mv.comm
       |), fedges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM fintra
       |  UNION
       |  SELECT v, u FROM fintra
       |), freach(src, dst) AS (
       |  SELECT src, dst FROM fedges
       |  UNION
       |  SELECT fr.src, e.dst FROM freach fr JOIN fedges e ON fr.dst = e.src
       |)
       |SELECT CAST(m.node AS BIGINT) AS node,
       |       CAST(COALESCE(fc.cluster_id, m.node) AS BIGINT) AS community
       |FROM memb m LEFT JOIN (
       |  SELECT src AS node, least(src, MIN(dst)) AS cluster_id
       |  FROM freach GROUP BY src) fc ON fc.node = m.node""".stripMargin
  }

  /** q_kmeanspp oracle: the k-means|| rounds + greedy weighted recluster
   * unrolled as chained CTEs — candidate sets are data-dependent, so the
   * replay JOINS the accumulating candidate CTEs instead of literals;
   * all distances are the strict-left-fold d² = v² − 2a·b + c² in the
   * exact order the Spark expressions evaluate. */
  private def kmeansppSql(k: Int, lk: Int, rounds: Int): String = {
    def d2(v: String, v2: String, c: String, c2: String) =
      s"$v2 - 2.0 * ${dotSql(v, c)} + $c2"
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"c${r - 1}"
      s"""qr$r AS MATERIALIZED (
         |  SELECT b.id, GREATEST(CAST(floor(
         |    MIN(${d2("b.vv", "b.v2", "c.vv", "c.c2")}) * 1048576.0 + 0.5)
         |    AS BIGINT), 0) AS q
         |  FROM b, $prev c GROUP BY b.id
         |), ph$r AS MATERIALIZED (SELECT SUM(q) AS phi FROM qr$r),
         |d$r AS MATERIALIZED (
         |  SELECT b.id, b.vv, b.v2 AS c2 FROM qr$r q
         |  JOIN b ON b.id = q.id CROSS JOIN ph$r
         |  WHERE (2 * (CAST(concat('0x',
         |          substr(md5(CAST(q.id AS VARCHAR) || ':' || $r), 1, 8))
         |          AS BIGINT) % 10000) + 1) * ph$r.phi
         |        < ${2L * lk * 10000} * q.q
         |), c$r AS MATERIALIZED (
         |  SELECT id, vv, c2 FROM $prev
         |  UNION ALL
         |  SELECT id, vv, c2 FROM d$r)""".stripMargin
    }.mkString(",\n")
    val pickCtes = (2 to k).map { n =>
      val prevPicks = (1 until n).map(i => s"SELECT vv, c2 FROM f$i")
        .mkString(" UNION ALL ")
      val prevIds = (1 until n).map(i => s"SELECT id FROM f$i")
        .mkString(" UNION ALL ")
      s"""f$n AS MATERIALIZED (
         |  SELECT cw.id, cw.vv, cw.c2, cw.wt FROM cw JOIN (
         |    SELECT id FROM (
         |      SELECT c.id, c.wt * MIN(${d2("c.vv", "c.c2", "p.vv", "p.c2")}) AS val
         |      FROM cw c, ($prevPicks) p
         |      WHERE c.id NOT IN ($prevIds)
         |      GROUP BY c.id, c.wt)
         |    WHERE val > 0 ORDER BY val DESC, id LIMIT 1) s ON s.id = cw.id)"""
        .stripMargin
    }.mkString(",\n")
    val unionTail = (2 to k).map(n =>
      s"UNION ALL SELECT $n, CAST(id AS BIGINT), wt FROM f$n").mkString("\n")
    s"""WITH v AS (SELECT CAST(vec_id AS BIGINT) AS id,
       |            embedding::DOUBLE[] AS vv FROM embeddings),
       |b AS MATERIALIZED (SELECT id, vv, ${dotSql("vv", "vv")} AS v2 FROM v),
       |c0 AS MATERIALIZED (
       |  SELECT id, vv, v2 AS c2 FROM b
       |  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1),
       |$roundCtes,
       |wv AS MATERIALIZED (
       |  SELECT cid, COUNT(*) AS wt FROM (
       |    SELECT b.id, c.id AS cid,
       |           row_number() OVER (PARTITION BY b.id
       |             ORDER BY ${d2("b.vv", "b.v2", "c.vv", "c.c2")}, c.id) AS rn
       |    FROM b, c$rounds c) WHERE rn = 1 GROUP BY cid),
       |cw AS MATERIALIZED (
       |  SELECT c.id, c.vv, c.c2, wv.wt
       |  FROM c$rounds c JOIN wv ON wv.cid = c.id),
       |f1 AS MATERIALIZED (SELECT id, vv, c2, wt FROM cw
       |                    ORDER BY wt DESC, id LIMIT 1),
       |$pickCtes
       |SELECT 1 AS rank, CAST(id AS BIGINT) AS center_id, wt AS weight FROM f1
       |$unionTail""".stripMargin
  }

  private def pagerankSql(iters: Int, damping: Double): String = {
    val d = damping.toString
    val omd = (1.0 - damping).toString
    val steps = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      // MATERIALIZED: every round reads the previous one 2–3 times, and
      // without it DuckDB re-INLINES the chain — the same 3^iters blowup
      // the Spark side cuts with localCheckpoint
      s"""r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |         $omd/nn.n + $d*(coalesce(c.m, 0) + dg.dm/nn.n) AS pr
         |  FROM nodes
         |  LEFT JOIN (SELECT ed.dst, SUM($p.pr * ed.wn) AS m
         |             FROM $p JOIN ed ON $p.node = ed.src GROUP BY ed.dst) c
         |    ON c.dst = nodes.node
         |  CROSS JOIN (SELECT coalesce(SUM(pr), 0) AS dm FROM $p
         |              WHERE node NOT IN (SELECT src FROM ed)) dg
         |  CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""$EvCte, l AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts_sec, event_id) AS prev_cat
       |  FROM e
       |), tr AS (
       |  SELECT prev_cat AS src, event_type AS dst, COUNT(*) AS nw
       |  FROM l WHERE prev_cat IS NOT NULL GROUP BY 1, 2
       |), ed AS MATERIALIZED (
       |  SELECT src, dst, CAST(nw AS DOUBLE) /
       |         SUM(CAST(nw AS DOUBLE)) OVER (PARTITION BY src) AS wn
       |  FROM tr
       |), nodes AS MATERIALIZED (
       |  SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT node, 1.0/nn.n AS pr FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT node, floor(r$iters.pr*1000000 + 0.5)/1000000 AS pr
       |FROM r$iters""".stripMargin
  }

  /** The q_ann_opq rotation, rendered as a DuckDB list of left-fold dot
   * products against the SAME literal orthogonal rows
   * rotationMatrix(dim=64, seed=13) uses — the oracle replays the
   * rotation bit-for-bit (the JL literal-matrix precedent, upgraded
   * from ±1 signs to a full rotation). */
  private def rotSql(v: String): String =
    operators.Similarity.rotationMatrix(dim = 64, seed = 13L)
      .map(r => dotSql(v, r.map(_.toString).mkString("([", ",", "])")))
      .mkString("[", ",\n", "]")

  /** The q_rand_proj projection, rendered as a DuckDB list of left-fold
   * dot products against the SAME literal ±1/√16 sign rows
   * randomProject(outDim=16, dim=64, seed=7) uses — the oracle replays
   * the projection bit-for-bit. */
  private def projSql(v: String): String =
    operators.Similarity.signMatrix(outDim = 16, dim = 64, seed = 7L)
      .map(r => dotSql(v, r.map(_.toString).mkString("([", ",", "])")))
      .mkString("[", ",\n", "]")

  /** Exact brute-force top-5 CTE body (expects CTEs `v` and `q`). */
  private val BruteTop5Cte =
    s"""brute AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.query_id, c.vec_id AS cand_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${cosSql("q.vq", "c.v")} DESC, c.vec_id ASC) AS rnk
       |    FROM v c CROSS JOIN q WHERE q.query_id <> c.vec_id
       |  ) WHERE rnk <= 5)""".stripMargin

  /** Recall@5 tail shared by the ANN oracles (expects CTEs `q`, `approx`,
   * `brute`). */
  private val RecallTailSql =
    """st AS (
      |  SELECT l.query_id, COUNT(*) AS n_retrieved,
      |         CAST(SUM(CASE WHEN b.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true
      |  FROM approx l LEFT JOIN brute b
      |    ON l.query_id = b.query_id AND l.cand_id = b.cand_id
      |  GROUP BY l.query_id)
      |SELECT q.query_id, coalesce(st.n_retrieved, 0) AS n_retrieved,
      |       coalesce(st.n_true, 0) AS n_true,
      |       floor((coalesce(st.n_true, 0) / 5.0)*1000 + 0.5)/1000 AS recall_at_5
      |FROM q LEFT JOIN st ON q.query_id = st.query_id""".stripMargin

  /** IVFADC oracle replay — q_ann_ivf's coarse quantizer, q_ann_pq's
   * subspace Lloyd over the RESIDUALS (v − coarse centroid), then
   * qc + LUT-sum ADC scoring restricted to the probed cells — ending at
   * an `approx(query_id, cand_id)` CTE holding the top-`k` per query.
   * Shared by q_ann_ivfpq (recall tail) and q_knn_label_ann (vote
   * tail); the index shape is pinned to the Spark calls' (nCells=16,
   * nProbe=4, m=8, ks=64, iters=2, dim=64). Queries are the
   * `vec_id < qmax` rows. */
  private def ivfPqAdcCtes(qmax: Int, k: Int): String = {
    def assign(cents: String) =
        s"""SELECT id, ivf_cell, sub, vs, nrm, cell FROM (
           |    SELECT b.id, b.ivf_cell, b.sub, b.vs, b.nrm, c.cell,
           |           row_number() OVER (PARTITION BY b.id, b.sub
           |             ORDER BY (${dotSql("c.c", "c.c")}
           |               - 2.0 * ${dotSql("b.vs", "c.c")}) ASC, c.cell ASC) AS rn
           |    FROM rsv b JOIN $cents c ON c.sub = b.sub) WHERE rn = 1""".stripMargin
      def refit(asg: String) =
        s"""SELECT sub, cell, list_transform(
           |    list_sort(list({'d': dim, 'm': m})), r -> r.m) AS c FROM (
           |    SELECT sub, cell, t.i AS dim, AVG(u.vs[t.i]) AS m
           |    FROM $asg u, unnest(generate_series(1, len(u.vs))) AS t(i)
           |    GROUP BY 1, 2, 3) GROUP BY sub, cell""".stripMargin
    s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS MATERIALIZED (
         |  SELECT v AS cv, sqrt(${dotSql("v", "v")}) AS cnrm,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC) - 1 AS cell
         |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC LIMIT 16),
         |cassign AS MATERIALIZED (
         |  SELECT cand_id, v, nrm, cell AS ivf_cell FROM (
         |    SELECT b.vec_id AS cand_id, b.v AS v,
         |           sqrt(${dotSql("b.v", "b.v")}) AS nrm, c.cell,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.v", "c.cv")} / c.cnrm DESC, c.cell ASC) AS rn
         |    FROM v b CROSS JOIN cent c
         |  ) WHERE rn = 1),
         |rsv AS MATERIALIZED (
         |  SELECT a.cand_id AS id, a.ivf_cell, s.sub AS sub,
         |         list_transform(a.v, (x,i) -> x - ct.cv[i])
         |           [s.sub*8 + 1 : s.sub*8 + 8] AS vs,
         |         a.nrm
         |  FROM cassign a JOIN cent ct ON ct.cell = a.ivf_cell,
         |       unnest(generate_series(0, 7)) AS s(sub)),
         |picked AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC) - 1
         |           AS cell
         |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC LIMIT 64),
         |c0 AS MATERIALIZED (
         |  SELECT b.sub, p.cell, b.vs AS c FROM rsv b JOIN picked p ON b.id = p.id),
         |a1 AS MATERIALIZED (${assign("c0")}),
         |c1 AS MATERIALIZED (${refit("a1")}),
         |a2 AS MATERIALIZED (${assign("c1")}),
         |c2 AS MATERIALIZED (${refit("a2")}),
         |codes AS MATERIALIZED (
         |  SELECT id AS cand_id, ivf_cell, sub, cell AS code, nrm AS nrm_c
         |  FROM (${assign("c2")})),
         |probe AS MATERIALIZED (
         |  SELECT query_id, cell, qc, nrmq FROM (
         |    SELECT b.vec_id AS query_id, c.cell,
         |           ${dotSql("b.v", "c.cv")} AS qc,
         |           sqrt(${dotSql("b.v", "b.v")}) AS nrmq,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.v", "c.cv")} / c.cnrm DESC, c.cell ASC) AS rn
         |    FROM v b CROSS JOIN cent c WHERE b.vec_id < $qmax
         |  ) WHERE rn <= 4),
         |lut AS MATERIALIZED (
         |  SELECT qv.query_id, s.sub, c.cell,
         |         ${dotSql("qv.v[s.sub*8 + 1 : s.sub*8 + 8]", "c.c")} AS dp
         |  FROM (SELECT vec_id AS query_id, v FROM v WHERE vec_id < $qmax) qv,
         |       unnest(generate_series(0, 7)) AS s(sub), c2 c
         |  WHERE c.sub = s.sub),
         |scored AS MATERIALIZED (
         |  SELECT p.query_id, k.cand_id,
         |         ANY_VALUE(p.qc) + SUM(l.dp) AS adot,
         |         ANY_VALUE(k.nrm_c) AS nrm_c, ANY_VALUE(p.nrmq) AS nrm_q
         |  FROM codes k
         |  JOIN probe p ON p.cell = k.ivf_cell
         |  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub
         |            AND l.cell = k.code
         |  GROUP BY 1, 2),
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY adot / NULLIF(nrm_q * nrm_c, 0) DESC, cand_id ASC)
         |             AS rnk
         |    FROM scored WHERE query_id <> cand_id
         |  ) WHERE rnk <= $k)""".stripMargin
  }

  /** Shared CTEs: per-doc distinct word-3-gram sets and co-occurring pair
   * intersection counts via an inverted index (equivalent to the all-pairs
   * formulation — a pair at jaccard ≥ t > 0 must share a shingle, so
   * zero-overlap pairs are droppable — but near-linear instead of O(n²)
   * list intersections, which keeps the oracle itself tractable at 10×
   * gate scale). */
  private val JaccardCtes =
    """sh AS (
      |  SELECT doc_id AS id,
      |         CASE WHEN len(string_split(text,' ')) >= 3
      |           THEN list_distinct(list_transform(
      |             range(1, len(string_split(text,' ')) - 1),
      |             i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
      |           ELSE [] END AS s
      |  FROM documents
      |), sz AS (
      |  SELECT id, len(s) AS n FROM sh
      |), inv AS (
      |  SELECT id, unnest(s) AS g FROM sh
      |), co AS (
      |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
      |  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
      |  GROUP BY 1, 2
      |), p AS (
      |  SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b
      |  FROM co JOIN sz na ON na.id = co.id_a JOIN sz nb ON nb.id = co.id_b
      |)""".stripMargin

  /** Exact word-3-gram Jaccard pairs at t≥0.7. */
  private val JaccardSql =
    s"""WITH $JaccardCtes
       |SELECT id_a, id_b, common::DOUBLE / (n_a + n_b - common) AS jaccard
       |FROM p WHERE common::DOUBLE / (n_a + n_b - common) >= 0.7""".stripMargin

  /** Connected components over the t≥0.7 Jaccard pairs: transitive
   * closure by recursive CTE, component id = min reachable id. */
  private val ClusterCtes =
    s"""$JaccardCtes, pr AS (
       |  SELECT id_a, id_b FROM p
       |  WHERE common::DOUBLE / (n_a + n_b - common) >= 0.7
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pr
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pr
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), cl AS (
       |  SELECT src AS id, least(src, MIN(dst)) AS cluster_id
       |  FROM reach GROUP BY src
       |)""".stripMargin

  private val ClusterSql =
    s"""WITH RECURSIVE $ClusterCtes
       |SELECT id, cluster_id FROM cl""".stripMargin

  /** DuckDB twin of [[graft.operators.Text.languageIdScored]], generated
   * from the SAME profile constants (one source of truth): per-language
   * exact-integer scores via replace-and-measure substring counts over
   * the space-padded text, then argmax/margin in profile order. */
  private val LangNCtes = {
    val profiles = graft.operators.Text.LangProfiles
    def scoreSql(pats: Seq[(String, Int)]): String =
      pats.map { case (p, w) =>
        val esc = p.replace("'", "''")
        s"((length(pt) - length(replace(pt, '$esc', ''))) // ${p.length}) * $w"
      }.mkString(" + ")
    val langs = profiles.map(_._1)
    val scoreCols = profiles
      .map { case (l, ps) => s"CAST(${scoreSql(ps)} AS BIGINT) AS s_$l" }
      .mkString(",\n         ")
    val sList = langs.map(l => s"s_$l").mkString(", ")
    val pickCases = langs.init
      .map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ")
    val secondArgs = langs
      .map(l => s"CASE WHEN '$l' = pick THEN NULL ELSE s_$l END")
      .mkString(", ")
    s"""pt AS (SELECT doc_id, ' ' || coalesce(text, '') || ' ' AS pt
       |       FROM documents),
       |sc AS (SELECT doc_id,
       |         $scoreCols
       |       FROM pt),
       |bx AS (SELECT doc_id, greatest($sList) AS best, $sList FROM sc),
       |pk AS (SELECT doc_id, best, $sList,
       |         CASE WHEN best <= 0 THEN 'und' $pickCases
       |              ELSE '${langs.last}' END AS pick
       |       FROM bx),
       |ln AS (SELECT doc_id, pick AS lang_pred,
       |         CASE WHEN best > 0 THEN best ELSE 0 END AS score_milli,
       |         CASE WHEN best > 0 THEN best -
       |           greatest(coalesce(greatest($secondArgs), 0), 0)
       |         ELSE 0 END AS margin_milli
       |       FROM pk)""".stripMargin
  }

  /** DuckDB twin of the linear classifier (train + per-doc ordered
   * score fold), shared by q_ft_classify and q_ft_eval: same md5-prefix
   * hashed uni+bigram buckets, same NB log-odds with explicit DOUBLE
   * casts, and the per-doc score as list_reduce over the weights in
   * feature order seeded with 0.0 — the exact FP accumulation order of
   * the Spark fold. */
  private val FtCtes =
    """d AS (SELECT doc_id, lang = 'en' AS pos,
      |             string_split(text, ' ') AS l FROM documents),
      |feats AS (
      |  SELECT doc_id, pos,
      |         list_concat(
      |           list_transform(l, t ->
      |             CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 1024),
      |           list_transform(range(1, len(l)), i ->
      |             CAST(concat('0x', substr(md5(l[i] || ' ' || l[i+1]), 1, 8))
      |                  AS BIGINT) % 1024)) AS fl
      |  FROM d),
      |f AS (SELECT doc_id, pos, unnest(fl) AS feat,
      |             generate_subscripts(fl, 1) AS ord FROM feats),
      |agg AS (SELECT feat, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS tc,
      |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS rc
      |        FROM f GROUP BY 1),
      |tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM agg),
      |w AS (SELECT feat,
      |             ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE)) -
      |             ln(CAST(rc + 1 AS DOUBLE) / CAST(rt + 1024 AS DOUBLE)) AS w
      |      FROM agg CROSS JOIN tot),
      |pw AS (SELECT f.doc_id,
      |              list_reduce(
      |                list_prepend(CAST(0.0 AS DOUBLE),
      |                  ARRAY_AGG(w.w ORDER BY f.ord)), (a, b) -> a + b) AS s
      |       FROM f JOIN w USING (feat) GROUP BY f.doc_id),
      |prior AS (SELECT ln(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1
      |                         AS DOUBLE)) -
      |                 ln(CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) + 1
      |                         AS DOUBLE)) AS bias FROM d)""".stripMargin

  /** DuckDB twin of the SEED-trained classifier scoring the FULL corpus
   * (q_curate_scored): weights fit on the seed slice only; buckets the
   * seed never saw fall back to the Spark default weight
   * ln(α/(tt+αB)) − ln(α/(rt+αB)) via the LEFT-join coalesce. Same
   * md5-prefix hashing and ordered list_reduce fold as [[FtCtes]]. */
  private val FtSeedCtes =
    """dall AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |dtr AS (SELECT doc_id, lang = 'en' AS pos FROM documents
      |        WHERE source IN ('src0', 'src1', 'src2', 'src3')),
      |featsall AS (
      |  SELECT doc_id,
      |         list_concat(
      |           list_transform(l, t ->
      |             CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 1024),
      |           list_transform(range(1, len(l)), i ->
      |             CAST(concat('0x', substr(md5(l[i] || ' ' || l[i+1]), 1, 8))
      |                  AS BIGINT) % 1024)) AS fl
      |  FROM dall),
      |fall AS (SELECT doc_id, unnest(fl) AS feat,
      |                generate_subscripts(fl, 1) AS ord FROM featsall),
      |ftr AS (SELECT f.doc_id, d.pos, f.feat FROM fall f
      |        JOIN dtr d USING (doc_id)),
      |agg AS (SELECT feat, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS tc,
      |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS rc
      |        FROM ftr GROUP BY 1),
      |tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM agg),
      |w AS (SELECT feat,
      |             ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE)) -
      |             ln(CAST(rc + 1 AS DOUBLE) / CAST(rt + 1024 AS DOUBLE)) AS w
      |      FROM agg CROSS JOIN tot),
      |pw AS (SELECT f.doc_id,
      |              list_reduce(
      |                list_prepend(CAST(0.0 AS DOUBLE),
      |                  ARRAY_AGG(coalesce(w.w,
      |                    ln(CAST(1 AS DOUBLE) / CAST(t.tt + 1024 AS DOUBLE)) -
      |                    ln(CAST(1 AS DOUBLE) / CAST(t.rt + 1024 AS DOUBLE)))
      |                    ORDER BY f.ord)), (a, b) -> a + b) AS s
      |       FROM fall f LEFT JOIN w USING (feat) CROSS JOIN tot t
      |       GROUP BY f.doc_id),
      |prior AS (SELECT ln(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1
      |                         AS DOUBLE)) -
      |                 ln(CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) + 1
      |                         AS DOUBLE)) AS bias FROM dtr)""".stripMargin

  /** DuckDB PII scrub generated from the SAME pattern list as the Spark
   * operator ([[graft.operators.Text.PiiPatterns]]) — one source of truth. */
  private val PiiSql = {
    val chain = graft.operators.Text.PiiPatterns.foldLeft("text") {
      case (acc, (pat, repl)) => s"regexp_replace($acc, '$pat', '$repl', 'g')"
    }
    s"SELECT doc_id, $chain AS redacted FROM documents"
  }

  /** DuckDB twin of [[Text.canonicalizeUrl]], generated from the SAME
   * pattern list — replacements rewrite Java `$n` group refs to RE2
   * `\n` (the one dialect difference the shared patterns carry). */
  private def urlCanonSql(expr: String): String =
    graft.operators.Text.UrlCanonPatterns.foldLeft(expr) {
      case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '$pat', '${repl.replace("$", "\\")}', 'g')"
    }

  /** Cross-engine deterministic sampling bucket: first 32 bits of
   * md5(key) mod 10000 — twin of [[graft.operators.Sampling.hashBucket]]. */
  private def bucketSql(keyExpr: String): String =
    s"CAST(concat('0x', substr(md5(CAST($keyExpr AS VARCHAR)), 1, 8)) AS BIGINT) % 10000"

  /** Geofence fixture: five zone circles spanning the synthetic lat/lon
   * range — one source of truth for the Spark frame and the oracle's
   * VALUES list. */
  private val ZoneList = Seq(
    ("z0", -40.0, -80.0, 1500.0), ("z1", -20.0, -40.0, 2000.0),
    ("z2", 0.0, 0.0, 2500.0), ("z3", 20.0, 40.0, 2000.0),
    ("z4", 40.0, 80.0, 1500.0))
  private val ZoneValuesSql = ZoneList
    .map { case (z, la, lo, r) => s"('$z', ${la}::DOUBLE, ${lo}::DOUBLE, ${r}::DOUBLE)" }
    .mkString(", ")

  /** Data-mixing target: 50% en / 30% de / 20% fr (es/zh excluded). */
  private val MixWeights = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)
  /** ::DOUBLE so DuckDB does IEEE division like Spark, not DECIMAL math. */
  private val MixWeightSql =
    "(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3 WHEN 'fr' THEN 0.2 END)::DOUBLE"
  private val MixLangsSql = "'en','de','fr'"

  /** Bisection geohash-6, the exact IEEE ops of
   * [[graft.expressions.GeohashExpression.encode]] (midpoints are dyadic
   * averages, identical in both engines → bit-exact parity). */
  private val GeohashSql = {
    val b32 = "'0123456789bcdefghjkmnpqrstuvwxyz'"
    val chars = (0 to 5).map(j =>
      s"substr($b32, 1 + CAST((bits >> ${25 - 5 * j}) & 31 AS INT), 1)").mkString(",\n  ")
    s"""${EvCte.replaceFirst("WITH", "WITH RECURSIVE")}, g AS (
       |  SELECT event_id, lat, lon, 0 AS i,
       |         (-90)::DOUBLE AS latmin, (90)::DOUBLE AS latmax,
       |         (-180)::DOUBLE AS lonmin, (180)::DOUBLE AS lonmax,
       |         0::BIGINT AS bits
       |  FROM e
       |  UNION ALL
       |  SELECT event_id, lat, lon, i + 1,
       |    CASE WHEN i % 2 = 1 AND lat >= (latmin+latmax)/2 THEN (latmin+latmax)/2 ELSE latmin END,
       |    CASE WHEN i % 2 = 1 AND lat <  (latmin+latmax)/2 THEN (latmin+latmax)/2 ELSE latmax END,
       |    CASE WHEN i % 2 = 0 AND lon >= (lonmin+lonmax)/2 THEN (lonmin+lonmax)/2 ELSE lonmin END,
       |    CASE WHEN i % 2 = 0 AND lon <  (lonmin+lonmax)/2 THEN (lonmin+lonmax)/2 ELSE lonmax END,
       |    bits * 2 + (CASE WHEN i % 2 = 0
       |                THEN (CASE WHEN lon >= (lonmin+lonmax)/2 THEN 1 ELSE 0 END)
       |                ELSE (CASE WHEN lat >= (latmin+latmax)/2 THEN 1 ELSE 0 END) END)
       |  FROM g WHERE i < 30
       |)
       |SELECT event_id, concat(
       |  $chars) AS gh
       |FROM g WHERE i = 30""".stripMargin
  }
}
