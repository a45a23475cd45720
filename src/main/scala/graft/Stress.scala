package graft

import graft.operators._
import graft.sources.LakeWriter
import org.apache.spark.sql.functions._

/**
 * Scale probe: run the heavy operator families on synthetic frames one
 * to two orders of magnitude past the bench scale (generated
 * distributed via `spark.range` — nothing is collected or written).
 * Prints one line per probe: seconds + output rows. This is the "would
 * the plan survive 100×?" check: anything quadratic, skew-collapsed, or
 * driver-bound shows up as a wall instead of a slope.
 *
 * Usage: SPARK_GRAFT_STRESS_SCALE=1 sbt "runMain graft.Stress"
 * (scale multiplies the base sizes below).
 */
object Stress {
  def main(args: Array[String]): Unit = {
    val scale = sys.env.getOrElse("SPARK_GRAFT_STRESS_SCALE", "1").toInt
    val spark = Harness.driverSession()
    import spark.implicits._

    // SPARK_GRAFT_STRESS_ONLY=<substring> runs just the matching probes
    // (fast iteration on one operator family); skipped probes report 0
    val only = sys.env.getOrElse("SPARK_GRAFT_STRESS_ONLY", "")
    def probe(name: String)(body: => Long): Double = {
      if (!name.toLowerCase.contains(only.toLowerCase)) return 0.0
      val t0 = System.nanoTime()
      val rows = CacheScope.scoped(body)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[stress] $name%-28s $dt%8.2f s  $rows%12d rows")
      dt
    }

    // --- events: 5M rows, 100k entities (50 points each) ---
    val nEvents = 5000000L * scale
    val nUsers = 100000L * scale
    val events = spark.range(nEvents).select(
      (col("id") % nUsers).as("user_id"),
      (col("id") / nUsers * 600 + pmod(xxhash64(col("id")), lit(300))).as("ts_sec"),
      pmod(xxhash64(col("id"), lit(1)), lit(10000)).cast("double").divide(100).as("value"),
      col("id").as("event_id"))

    val tSessUniform = probe(s"sessionize ${nEvents / 1000000}M x ${nUsers / 1000}k users") {
      Sessionize(events, "user_id", "ts_sec", 1200L, tieBreak = Seq("event_id")).count()
    }
    val tSummUniform = probe("sessionSummary") {
      Rollup.sessionSummary(
        Sessionize(events, "user_id", "ts_sec", 1200L, tieBreak = Seq("event_id")),
        Seq("user_id", "session_id"), "ts_sec", "value").count()
    }

    // --- skewed keys: 1% of entities carry 50% of the rows (the hot-MMSI
    // shape a real AIS feed has). The per-entity window family sorts each
    // key's rows within its partition, so a 100× hotter key means a 100×
    // longer sorted run but NOT a 100× slower stage — the ratio against
    // the uniform probe above is the proof. ---
    val nHot = nUsers / 100
    val skewed = spark.range(nEvents).select(
      when(col("id") < nEvents / 2, col("id") % nHot)
        .otherwise(lit(nHot) + col("id") % (nUsers - nHot)).as("user_id"),
      (col("id") / nUsers * 600 + pmod(xxhash64(col("id")), lit(300))).as("ts_sec"),
      pmod(xxhash64(col("id"), lit(1)), lit(10000)).cast("double").divide(100).as("value"),
      col("id").as("event_id"))
    val tSessSkew = probe(s"sessionize SKEWED (1% keys = 50% rows)") {
      Sessionize(skewed, "user_id", "ts_sec", 1200L, tieBreak = Seq("event_id")).count()
    }
    val tSummSkew = probe("sessionSummary SKEWED") {
      Rollup.sessionSummary(
        Sessionize(skewed, "user_id", "ts_sec", 1200L, tieBreak = Seq("event_id")),
        Seq("user_id", "session_id"), "ts_sec", "value").count()
    }
    probe("saltedJoin SKEWED big x 100k dim") {
      val dim = spark.range(nUsers).select(col("id").as("user_id"),
        concat(lit("n"), col("id")).as("name"))
      Skew.saltedJoin(skewed, dim, "user_id", saltFactor = 8).count()
    }
    if (tSessUniform > 0 && tSummUniform > 0)
      println(f"[stress] skew/uniform ratio: sessionize ${tSessSkew / tSessUniform}%.2fx, " +
        f"sessionSummary ${tSummSkew / tSummUniform}%.2fx (target: within ~3x)")
    probe("asof join (10% state side)") {
      val state = events.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts_sec")
        .agg(max_by(col("value"), col("event_id")).as("state_value"))
      AsOf.join(events.select("event_id", "user_id", "ts_sec"), state,
        Seq("user_id"), "ts_sec", Seq("state_value")).count()
    }
    probe("resample+ffill (1h grid)") {
      Trajectory.resampleForwardFill(events, Seq("user_id"), "ts_sec",
        "value", 3600L, "event_id").count()
    }

    // --- documents: 200k synthetic docs over a 2k-word vocab, planted dups ---
    val nDocs = 200000L * scale
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      // every 100th doc is a near-copy of its predecessor (same seed)
      array_join(transform(sequence(lit(0), lit(39)),
        i => concat(lit("w"), pmod(xxhash64((col("id") / 100).cast("long") * 100, i), lit(2000)))),
        " ").as("text"))

    val tFullPair = probe(s"minhashLsh ${nDocs / 1000}k docs") {
      Dedup.minhashLsh(docs, "doc_id", "text", n = 3, threshold = 0.7).count()
    }
    probe("ngramJaccard (prefix filter)") {
      Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.7).count()
    }
    probe("cluster pairs") {
      Dedup.clusterPairs(
        Dedup.minhashLsh(docs, "doc_id", "text", n = 3, threshold = 0.7),
        "id_a", "id_b").count()
    }
    // incremental posture: once the archive is indexed, a 1% delta must
    // cost a small fraction of the full re-pair above (signing the delta
    // + two equi-joins + candidate-only verify)
    val archive = docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
    val idx = graft.CacheScope.persist(
      Dedup.minhashIndex(archive, "doc_id", "text"))
    probe(s"minhash index build ${nDocs * 99 / 100 / 1000}k") { idx.count() }
    val tDelta = probe("delta dedup 1% vs index") {
      // adversarial density: EVERY delta doc has 99 archive near-copies,
      // so the probe verifies ~99 true pairs per delta doc
      Dedup.dedupAgainstIndex(delta, idx, archive, "doc_id", "text",
        threshold = 0.7).count()
    }
    if (tFullPair > 0 && tDelta > 0)
      println(f"[stress] delta-probe/full-re-pair ratio ${tDelta / tFullPair}%.2fx " +
        "(a daily ingest pays probe + matched-candidate verify, never the archive re-pair)")
    probe("tfidf") { Text.tfidf(docs, "doc_id", "text").count() }
    probe(s"contaminationLarge ${nDocs / 1000}k docs vs 2k probes (bloom)") {
      // probe set = 1% of the corpus → ~real shingle overlap density;
      // the bloom must keep the corpus-side shuffle at the hit fraction
      Text.contaminationLarge(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(100)) === 0), "text",
        n = 8, expectedItems = 200000L).count()
    }
    probe(s"duplicatedSpans ${nDocs / 1000}k docs") {
      // every 100th doc is a near-copy → dense genuine duplication; the
      // seed-count groupBy and semi-join must stay linear regardless
      Text.duplicatedSpans(docs, "doc_id", "text", n = 8).count()
    }
    probe(s"suffixSpans ${nDocs / 1000}k docs (truncated suffix ranks)") {
      // same dense-duplication corpus, exact (hash-free) path: 3 doubling
      // rounds over ~8M positions — join/groupBy/join per round must stay
      // linear; the window text is never materialized
      Text.suffixSpans(docs, "doc_id", "text", minLen = 8).count()
    }

    // --- embeddings: 500k x 64 dims ---
    val nVecs = 500000L * scale
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => pmod(xxhash64(col("id"), i), lit(1000)).cast("double").divide(500) - 1).as("embedding"))

    probe(s"ANN brute ${nVecs / 1000}k x 10 queries") {
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5).count()
    }
    probe("ANN IVF (64 cells, probe 8)") {
      Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nCentroids = 64, nProbe = 8).count()
    }
    probe("ANN multi-table LSH (8x4)") {
      Similarity.lshTopK(vecs, vecs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64).count()
    }
    probe(s"ANN PQ (m=8 ks=64) ${nVecs / 1000}k") {
      // train + encode + ADC-score the full corpus for 10 queries —
      // the whole pipeline must stay linear in nVecs
      Similarity.pqTopK(vecs, vecs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, m = 8, ks = 64, iters = 2).count()
    }
    probe(s"knnLabelAnn ${nVecs / 1000}k labeled x 100 queries (IVFADC)") {
      // label propagation against the IVF-PQ index: the labeled corpus
      // is read once at build; the query batch probes 4 of 16 cells —
      // linear in nVecs (index build dominates), never |labeled|·|queries|
      val labeled = vecs.withColumn("label",
        pmod(col("vec_id"), lit(50)).cast("string"))
      Similarity.knnLabelAnn(labeled, labeled.filter(col("vec_id") < 100),
        "vec_id", "embedding", "label", k = 10, dim = 64,
        nCells = 16, nProbe = 4, m = 8, ks = 64, iters = 2).count()
    }
    probe(s"ANN IVF-PQ (16 cells/4 probe, m=8 ks=64) ${nVecs / 1000}k") {
      // the full IVFADC build + query path at 500k×64: coarse assign,
      // residual codebook training, encode, probed-cell ADC — every stage
      // linear in nVecs, broadcast-only joins
      Similarity.ivfPqTopK(vecs, vecs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64,
        nCells = 16, nProbe = 4, m = 8, ks = 64, iters = 2).count()
    }
    // the ANN-prefiltered miner's claim is a WORK ratio, not recall:
    // exhaustive scoring pays |corpus|·|anchors| kernel evals, the
    // prefiltered one |corpus|·nCells + probed-cell scoring
    val tMineFull = probe(s"tripletMine EXHAUSTIVE ${nVecs / 1000}k x 100 anchors") {
      Similarity.tripletMine(vecs, vecs.filter(col("vec_id") < 100),
        "vec_id", "embedding", posThreshold = 0.9, nNegatives = 3).count()
    }
    val tMineAnn = probe("tripletMine ANN-prefiltered (16c/4p)") {
      Similarity.tripletMineAnn(vecs, vecs.filter(col("vec_id") < 100),
        "vec_id", "embedding", posThreshold = 0.9, nNegatives = 3,
        candidateK = 50, nCells = 16, nProbe = 4).count()
    }
    if (tMineFull > 0 && tMineAnn > 0)
      println(f"[stress] triplet ann/exhaustive = ${tMineAnn / tMineFull}%.2fx")
    probe(s"budgetSelect ${nEvents / 1000000}M docs, ~10% budget") {
      // threshold+boundary selection: the full-bucket path moves ~10% of
      // rows with no ordering; only the one cutoff bucket (~1/1000 of
      // the corpus) pays a prefix window
      val scored = spark.range(nEvents).select(
        col("id").as("doc_id"),
        (pmod(xxhash64(col("id"), lit(51)), lit(1000)).cast("double") / 1000).as("score"),
        (pmod(xxhash64(col("id"), lit(52)), lit(400)) + 50).as("toks"))
      Sampling.budgetSelect(scored, "doc_id", "score", "toks",
        budget = nEvents * 25L).count()
    }
    probe(s"DSIR draw top-10k of ${nDocs / 1000}k docs") {
      Sampling.dsirSelect(docs, "doc_id", "text",
        isTarget = col("doc_id") % 10 === 0, k = 10000).count()
    }
    probe(s"simhash banded ${nDocs / 1000}k docs") {
      Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3).count()
    }

    // --- edit-distance PassJoin: 200k short keys, one planted 1-edit
    // pair per even/odd id couple (output exactly nDocs/2 — linear by
    // construction); unrelated keys are 24 random hex chars apart.
    // Probed in BOTH join regimes: index-broadcast (single-node/bench
    // shape) and the forced shuffled-hash fallback (the 1000-executor
    // shape) — the two must cost the same order and return equal counts ---
    val edKeys = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat(
        substring(md5(concat(lit("ed"),
          ((col("id") / 2).cast("long") * 2).cast("string"))), 1, 24),
        when(pmod(col("id"), lit(2)) === 1, lit("x")).otherwise(lit(""))).as("key"))
    val tEdBroadcast = probe(s"editDistance bcast ${nDocs / 1000}k keys") {
      Dedup.editDistancePairs(edKeys, "doc_id", "key", maxDist = 3).count()
    }
    val tEdShuffle = probe(s"editDistance shuffle ${nDocs / 1000}k keys") {
      Dedup.editDistancePairs(edKeys, "doc_id", "key", maxDist = 3,
        broadcastIndexMaxRows = 0L).count()
    }
    if (tEdBroadcast > 0 && tEdShuffle > 0)
      println(f"[stress] editdist shuffle/bcast = ${tEdShuffle / tEdBroadcast}%.2fx")

    // --- state store: 2M-key bootstrap, then a 50-key incremental merge
    // (the touched-only contract: the small merge reads/writes ~50/512
    // of the state, so its cost must be a small fraction of bootstrap) ---
    val stateRoot = java.nio.file.Files
      .createTempDirectory("graft-stress-state").toString
    val nKeys = 2000000L * scale
    def stateDeltas(n: Long) = spark.range(n).select(
      concat(lit("e"), col("id")).as("entity"),
      lit(1.0).as("dist"),
      (col("id") % 1000).as("start_sec"),
      (col("id") % 1000 + 10).as("end_sec"))
    probe(s"state-store bootstrap ${nKeys / 1000000}M keys") {
      sources.StateStore.merge(spark, stateRoot, "2024-01-01", stateDeltas(nKeys),
        Seq("entity"), Seq("dist"), Seq("start_sec"), Seq("end_sec"), nBuckets = 512)
      sources.StateStore.read(spark, stateRoot).map(_.count()).getOrElse(0L)
    }
    probe("state-store 50-key merge") {
      sources.StateStore.merge(spark, stateRoot, "2024-01-02", stateDeltas(50),
        Seq("entity"), Seq("dist"), Seq("start_sec"), Seq("end_sec"), nBuckets = 512)
      new java.io.File(s"$stateRoot/v=2024-01-02")
        .listFiles().count(f => f.isDirectory && f.getName.startsWith("bucket="))
    }

    // --- round-5 additions ---
    // PageRank: 5M weighted edges over 1M nodes, 10 damped rounds — each
    // round is one src-keyed join + one dst groupBy; the probe proves the
    // localCheckpoint keeps per-round cost flat instead of compounding
    val nNodes = 1000000L * scale
    probe(s"pagerank ${nEvents / 1000000}M edges x ${nNodes / 1000000}M nodes") {
      val edges = spark.range(nEvents).select(
        (col("id") % nNodes).as("src"),
        pmod(xxhash64(col("id")), lit(nNodes)).as("dst"),
        (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).cast("double").as("w"))
      Analytics.pagerank(edges, "src", "dst", Some("w"), iters = 10).count()
    }
    probe(s"weightedSample global top-1k of ${nEvents / 1000000}M") {
      Sampling.weightedSample(events.withColumn("w", col("value") + 1.0),
        "event_id", "w", k = 1000).count()
    }
    probe("chiSquare 5M x (users%100, hour)") {
      Analytics.chiSquare(
        events.withColumn("ua", col("user_id") % 100)
          .withColumn("hb", floor(col("ts_sec") / 3600) % 24),
        "ua", "hb").count()
    }
    probe(s"madOutliers per-entity over ${nEvents / 1000000}M") {
      Quality.madOutliers(events, Seq("user_id"), "value").count()
    }
    probe(s"invertedIndex ${nDocs / 1000}k docs") {
      Text.invertedIndex(docs, "doc_id", "text", minDf = 2L, maxDfFrac = 0.99).count()
    }
    probe(s"noveltyRate ${nDocs / 1000}k docs") {
      Text.noveltyRate(docs, "doc_id", "text").count()
    }
    probe(s"bigramLogProb ${nDocs / 1000}k docs") {
      Text.bigramLogProb(docs, "doc_id", "text").count()
    }
    probe(s"encounters ${nEvents / 1000000}M pts (50km/30min)") {
      // realistic density: fixes spread over a full month and the full
      // globe (the bench-events fixture packs 5M points into 8 hours and
      // 100° of latitude — genuinely ~10⁹ qualifying pairs, which is a
      // statement about that data, not the plan). ~3 points per
      // (band, bucket) keeps candidates linear; the output is the real
      // pair count at nautical densities.
      val pts = spark.range(nEvents).select(
        col("id").as("user_id"),
        pmod(xxhash64(col("id"), lit(5)), lit(2592000L)).as("ts_sec"),
        (pmod(xxhash64(col("id"), lit(3)), lit(18000)).cast("double") / 100 - 90).as("lat"),
        (pmod(xxhash64(col("id"), lit(4)), lit(36000)).cast("double") / 100 - 180).as("lon"))
      Trajectory.encounters(pts, "user_id", "ts_sec", "lat", "lon",
        maxKm = 50.0, maxGapSec = 1800L).count()
    }
    probe("encounters busy strait (83% in one 50km band)") {
      // the r5-verdict skew shape: 2.5M of 3M fixes inside ONE 50 km lat
      // band (a Malacca-length 4° strait) over a month. Band-only
      // blocking collapses this into 1.4k keys of ~2.8k rows each
      // (~3×10¹⁰ candidates); longitude sub-bucketing splits each into
      // ~9 lon cells, and the remaining work is dominated by GENUINE
      // close pairs (the strait really is that dense).
      val strait = spark.range(2500000L * scale).select(
        col("id").as("user_id"),
        pmod(xxhash64(col("id"), lit(11)), lit(2592000L)).as("ts_sec"),
        (pmod(xxhash64(col("id"), lit(12)), lit(45)).cast("double") / 100).as("lat"),
        (pmod(xxhash64(col("id"), lit(13)), lit(400)).cast("double") / 100 + 100).as("lon"))
      val global = spark.range(500000L * scale).select(
        (col("id") + 3000000L).as("user_id"),
        pmod(xxhash64(col("id"), lit(14)), lit(2592000L)).as("ts_sec"),
        (pmod(xxhash64(col("id"), lit(15)), lit(18000)).cast("double") / 100 - 90).as("lat"),
        (pmod(xxhash64(col("id"), lit(16)), lit(36000)).cast("double") / 100 - 180).as("lon"))
      Trajectory.encounters(strait.union(global), "user_id", "ts_sec", "lat", "lon",
        maxKm = 50.0, maxGapSec = 1800L).count()
    }
    // anchorage burst: 25k fixes inside ONE (band, bucket, lon-cell) —
    // 1000 anchored vessels reporting every ~70 s for 30 min. Unsalted,
    // that key is a single ~6×10⁸-candidate straggler task; the adaptive
    // salt splits it by ceil(sqrt(L·R/budget))² tasks. Same output both
    // ways (asserted) — the delta is pure task balance.
    val anchorage = spark.range(25000L).select(
      col("id").as("user_id"),
      (lit(600L) + pmod(xxhash64(col("id"), lit(21)), lit(1500))).as("ts_sec"),
      (pmod(xxhash64(col("id"), lit(22)), lit(30)).cast("double") / 100 + 1.0).as("lat"),
      (pmod(xxhash64(col("id"), lit(23)), lit(30)).cast("double") / 100 + 103.8).as("lon"))
    val anchored = spark.range(1000000L * scale).select(
      (col("id") + 100000L).as("user_id"),
      pmod(xxhash64(col("id"), lit(24)), lit(2592000L)).as("ts_sec"),
      (pmod(xxhash64(col("id"), lit(25)), lit(18000)).cast("double") / 100 - 90).as("lat"),
      (pmod(xxhash64(col("id"), lit(26)), lit(36000)).cast("double") / 100 - 180).as("lon"))
      .union(anchorage)
    var nSalted = 0L; var nUnsalted = 0L
    val tSalt = probe("encounters anchorage SALTED") {
      nSalted = Trajectory.encounters(anchored, "user_id", "ts_sec", "lat", "lon",
        maxKm = 50.0, maxGapSec = 1800L).count()
      nSalted
    }
    val tNoSalt = probe("encounters anchorage UNSALTED") {
      nUnsalted = Trajectory.encounters(anchored, "user_id", "ts_sec", "lat", "lon",
        maxKm = 50.0, maxGapSec = 1800L, hotPairBudget = Long.MaxValue).count()
      nUnsalted
    }
    if (tNoSalt > 0 && tSalt > 0)
      println(f"[stress] anchorage salted/unsalted = ${tSalt / tNoSalt}%.2fx" +
        s" (counts equal: ${nSalted == nUnsalted})")
    assert(nSalted == nUnsalted, "salting changed the encounter count")
    probe(s"bloomJoin 5M fact vs 1k-key dim") {
      // selective-join shape: the dim holds 1% of the fact's keys, so the
      // bloom prunes ~99% of the fact BEFORE its shuffle
      val dim = spark.range(nUsers / 100).select((col("id") * 100).as("user_id"),
        concat(lit("d"), col("id")).as("attr"))
      Skew.bloomJoin(events, dim, "user_id").count()
    }
    probe(s"randomProject+gate ${nVecs / 1000}k x 64->16") {
      Similarity.jlFidelityGate(vecs, "vec_id", "embedding",
        outDim = 16, dim = 64, queryPred = col("vec_id") < 10, eps = 1.0).count()
    }
    probe(s"triangles ${nEvents / 1000000}M edges + hot hub") {
      // 5M random edges over 100k nodes (avg degree ~100) plus a 50k-edge
      // hub on node 0 — the degree ordering must keep the hub's wedge
      // fan-out at O(sqrt(m)), not 50k^2
      val hub = spark.range(50000L).select(lit(0L).as("a"),
        pmod(xxhash64(col("id"), lit(31)), lit(nUsers)).as("b"))
      val rnd = spark.range(nEvents).select(
        pmod(xxhash64(col("id"), lit(32)), lit(nUsers)).as("a"),
        pmod(xxhash64(col("id"), lit(33)), lit(nUsers)).as("b"))
      Analytics.triangles(rnd.union(hub), "a", "b").head.getLong(0)
    }
    probe("kmeans 200k x 64d, k=64, 3 iters") {
      Similarity.kmeansCentroids(vecs.filter(col("vec_id") < 200000),
        "vec_id", "embedding", k = 64, iters = 3).count()
    }
    probe("semanticDedup 200k x 64d, 512 cells") {
      Similarity.semanticDedup(vecs.filter(col("vec_id") < 200000),
        "vec_id", "embedding", nCells = 512, threshold = 0.9,
        maxCellSize = 5000L).filter(col("dropped")).count()
    }
    probe(s"ewma ${nEvents / 1000000}M rows, window 20") {
      Analytics.ewma(events, Seq("user_id"), "ts_sec", "value",
        alpha = 0.3, window = 20, tieBreak = Seq("event_id")).count()
    }
    probe(s"weightedMedian 5M x 8 fat groups") {
      // few huge groups = the family's worst case (per-group sorted
      // window); the probe documents that cost staying linear
      Quality.weightedMedian(
        events.withColumn("g", col("user_id") % 8)
          .withColumn("w", floor(col("value")) + 1),
        Seq("g"), "value", "w").count()
    }
    probe(s"cms heavy hitters over skewed ${nEvents / 1000000}M") {
      Quality.cmsHeavyHitters(skewed, "user_id", k = 100).count()
    }
    probe(s"scd2Current ${nEvents / 1000000}M changes x ${nUsers * 10 / 1000}k keys") {
      // the queryable-current view over a wide change log: ~5 changes +
      // heartbeats per key; one window + exchange-reused max_by per key
      // (PlanSpec locks the single shuffle; this probe proves the slope)
      val changes = spark.range(nEvents).select(
        (col("id") % (nUsers * 10)).as("entity"),
        (col("id") / (nUsers * 10)).as("ts_sec"),
        // attribute flips on ~1/5 of each key's rows — the rest are
        // heartbeats scd2Current must discard before aggregating
        pmod(xxhash64(col("id"), lit(41)), lit(5)).as("attr"))
      Dims.scd2Current(changes, Seq("entity"), "ts_sec", Seq("attr")).count()
    }
    probe(s"gopherRules ${nDocs / 1000}k docs") {
      Text.gopherRules(docs, "doc_id", "text").count()
    }
    probe(s"asof NEAREST (10% state side)") {
      val state = events.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts_sec")
        .agg(max_by(col("value"), col("event_id")).as("state_value"))
      AsOf.join(events.select("event_id", "user_id", "ts_sec"), state,
        Seq("user_id"), "ts_sec", Seq("state_value"),
        direction = "nearest").count()
    }
    probe(s"lmCrossScore ${nDocs / 1000}k target vs 50% reference") {
      // the CCNet screen: model pass over the reference half + one
      // token-keyed left join over the target half
      Text.lmCrossScore(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text").count()
    }
    probe(s"bm25 ${nDocs / 1000}k docs x 20 query docs") {
      // one tokenize pass feeds tf/df; 20 query docs broadcast into the
      // token-keyed match join — the corpus shuffles only on tokens
      Text.bm25TopK(docs, docs.filter(col("doc_id") < 20), "doc_id", "text",
        "doc_id", "text", k = 10).count()
    }
    probe(s"maxSim ${nVecs / 8000}k bags (8 vecs each) x 2 query bags") {
      // 500k vectors / 8-per-bag corpus scanned ONCE; the 16-vector query
      // bag broadcasts; both partial aggs collapse before any shuffle
      val mv = vecs.withColumn("mdoc", floor(col("vec_id") / 8).cast("long"))
      Similarity.maxSimTopK(mv, mv.filter(col("mdoc") < 2),
        "mdoc", "vec_id", "embedding", k = 5, dim = 64).count()
    }
    probe(s"sketchRollup ${nEvents / 1000000}M events -> day/month HLL") {
      Quality.sketchRollup(
        events.withColumn("ts", timestamp_seconds(col("ts_sec"))),
        "ts", "user_id", dims = Seq.empty).count()
    }
    probe(s"quantileRollup ${nEvents / 1000000}M events -> day/month KLL") {
      Quality.quantileRollup(
        events.withColumn("ts", timestamp_seconds(col("ts_sec"))),
        "ts", "value").count()
    }
    // the sketch side alone (no exact gate): ONE map-only pass over the
    // corpus, ≤ k hashes leave each task — this is the 100 TB path
    probe(s"kmvSketch ${nEvents / 1000000}M elems (k=512)") {
      Quality.kmvSketch(
        events.select(concat(lit("e"), col("event_id")).as("e")),
        "e", k = 512).count()
    }
    probe(s"kmvOverlapEstimate ${nEvents / 1000000}M x ${nEvents / 1000000}M (~50% overlap)") {
      val left = events.filter(col("event_id") < nEvents * 3 / 4)
        .select(concat(lit("e"), col("event_id")).as("e"))
      val right = events.filter(col("event_id") >= nEvents / 4)
        .select(concat(lit("e"), col("event_id")).as("e"))
      Quality.kmvOverlapEstimate(
        Quality.kmvSketch(left, "e", 512),
        Quality.kmvSketch(right, "e", 512), 512).count()
    }
    probe(s"writeZOrdered ${nEvents / 1000000}M rows (2 dims, 32 files)") {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-stress-z").toString
      LakeWriter.writeZOrdered(
        events.select(col("user_id"), col("value"), col("event_id")),
        dir, Seq("user_id", "value"), nFiles = 32)
      val n = spark.read.parquet(dir).count()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      n
    }
    // the between-retrain ingest path: the RESIDENT index build is the
    // amortized cost a service pays once per retrain — materialize it
    // UNTIMED (unmanaged persist; the session ends right after), then
    // time what an ingest actually pays: one broadcast-assign encode of
    // the 1% delta + the union count over resident codes
    if ("pqindexappend".contains(only.toLowerCase)) {
      val pqBase = Similarity.pqIndexBuild(
        vecs.filter(pmod(col("vec_id"), lit(100)) =!= 0),
        "vec_id", "embedding", dim = 64, m = 8, ks = 64, iters = 2)
      pqBase.codes.count()
      probe(s"pqIndexAppend 1% delta onto ${nVecs / 1000}k index") {
        Similarity.pqIndexAppend(pqBase,
          vecs.filter(pmod(col("vec_id"), lit(100)) === 0),
          "vec_id", "embedding").codes.count()
      }
    }

    // --- IVM: refresh cost is feed-sized, a rescan is corpus-sized ---
    val tIvmRescan = probe(s"ivm RESCAN aggregate ${nEvents / 1000000}M rows") {
      StateOps.aggTable(
        events.select(pmod(col("user_id"), lit(100)).as("grp"), col("value")),
        Seq("grp"), Seq("value")).count()
    }
    // mirror the bm25 guard below: the block only runs when the RESCAN
    // probe above also ran, so the ratio's denominator is never 0
    if (only.isEmpty || "ivm rescan aggregate".contains(only.toLowerCase)) {
      // base table and feed are what a refresh HOLDS (the agg store read
      // + the CDF the producer emitted) — materialized untimed, so the
      // probe times exactly what a refresh pays
      val ivmBase = StateOps.aggTable(
        events.select(pmod(col("user_id"), lit(100)).as("grp"), col("value")),
        Seq("grp"), Seq("value")).localCheckpoint(true)
      val ivmFeed = {
        val touched = events.filter(pmod(col("event_id"), lit(100)) === 0)
          .select(pmod(col("user_id"), lit(100)).as("grp"), col("value"))
        touched.withColumn("change_type", lit("update_preimage"))
          .unionByName(touched.withColumn("value", col("value") * 2)
            .withColumn("change_type", lit("update_postimage")))
          .localCheckpoint(true)
      }
      val tIvmDelta = probe("ivm apply 1% CDF feed") {
        StateOps.ivmAggregate(ivmBase, ivmFeed, Seq("grp"), Seq("value")).count()
      }
      if (tIvmRescan > 0.0)
        println(f"[stress] ivm feed-apply/rescan = ${tIvmDelta / tIvmRescan}%.2fx " +
          "(base read is agg-table-sized; the raw 5M rows are never re-read)")
    }

    // --- text-index maintenance: 1% delta vs full re-tokenize ---
    val tBm25Full = probe(s"bm25Postings build ${nDocs / 1000}k docs") {
      Text.bm25Postings(docs, "doc_id", "text").count()
    }
    if (only.isEmpty || "bm25Postings build".toLowerCase.contains(only.toLowerCase)) {
      val resident = Text.bm25Postings(
        docs.filter(pmod(col("doc_id"), lit(100)) =!= 0), "doc_id", "text")
        .localCheckpoint(true)
      val delta = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      val feed = delta.withColumn("change_type", lit("insert"))
      val tBm25Delta = probe("bm25 apply 1% CDF feed") {
        Text.bm25PostingsApplyChanges(resident, feed, "doc_id", "text").count()
      }
      println(f"[stress] bm25 feed-apply/rebuild = ${tBm25Delta / tBm25Full}%.2fx " +
        "(only the delta's text tokenizes; resident postings anti-join once)")
    }

    // --- All-but-the-top: iters x one-pass power iteration + map-only removal ---
    probe(s"topPc+remove ${nVecs / 1000}k x 64d (8 iters)") {
      val (mu, pc) = Similarity.topPc(vecs, "embedding", dim = 64, iters = 8)
      Similarity.removeTopPc(vecs, "vec_id", "embedding", dim = 64,
        fitted = Some((mu, pc))).count()
    }

    // --- k-core: edge-linear peel rounds on a power-law-ish graph ---
    probe(s"kCore k=3 over ${nEvents / 1000000}M edges") {
      // skewed endpoints (pmod of a product) give a dense core plus a
      // long low-degree fringe — several cascade rounds, never a wall
      val edges = spark.range(nEvents).select(
        pmod(xxhash64(col("id")), lit(nUsers / 10)).as("a"),
        pmod(pmod(xxhash64(col("id"), lit(1)), lit(1000000)) *
          pmod(col("id"), lit(97)), lit(nUsers)).as("b"))
      Analytics.kCore(edges, "a", "b", k = 3).count()
    }

    // --- MMR rerank: queries parallelize, pools stay bounded ---
    probe("mmrRerank 2k queries x 100-cand pools") {
      val pools = spark.range(200000).select(
        (col("id") / 100).as("query_id"), col("id").as("cand_id"),
        pmod(xxhash64(col("id")), lit(1000)).cast("double").divide(1000).as("rel"),
        transform(sequence(lit(0), lit(63)),
          i => pmod(xxhash64(col("id"), i), lit(1000)).cast("double")
            .divide(500) - 1).as("v"))
      Similarity.mmrRerank(pools, "query_id", "cand_id", "rel", "v",
        k = 10, lambda = 0.5).count()
    }

    // --- linear classifier: train is one agg pass, inference map-only ---
    val labelled = docs.withColumn("_pos", pmod(col("doc_id"), lit(3)) === 0)
    val tClsTrain = probe(s"classifier train ${nDocs / 1000}k docs") {
      Text.linearClassifierTrain(labelled, "text", col("_pos"),
        buckets = 4096).count()
    }
    if (only.isEmpty || "classifier train".contains(only.toLowerCase)) {
      val model = Text.linearClassifierTrain(labelled, "text", col("_pos"),
        buckets = 4096).localCheckpoint(true)
      val tClsScore = probe(s"classifier score ${nDocs / 1000}k docs (resident model)") {
        Text.linearClassifierScore(docs, model, "doc_id", "text",
          buckets = 4096).count()
      }
      if (tClsTrain > 0.0)
        println(f"[stress] classifier score/train = ${tClsScore / tClsTrain}%.2fx " +
          "(inference is the map-only half; at 100 TB you train once and scan)")
      // CDF maintenance: the 1% delta costs delta work, not a re-train
      val counts = Text.classifierCounts(labelled, "text", col("_pos"),
        buckets = 4096).localCheckpoint(true)
      probe("classifier counts apply 1% CDF feed") {
        val delta = labelled.filter(pmod(col("doc_id"), lit(100)) === 0)
          .withColumn("change_type", lit("insert"))
        Text.classifierCountsApplyChanges(counts, delta, "text", col("_pos"),
          buckets = 4096).count()
      }
    }

    // --- crawl-frontier planning: profile + per-domain caps ---
    probe(s"domain profile + caps ${nDocs / 1000}k docs x 1k domains") {
      val domained = docs.withColumn("source",
        concat(lit("d"), pmod(xxhash64(col("doc_id")), lit(1000))))
      val prof = Dedup.domainDedupProfile(domained, "doc_id", "text", "source")
      val caps = prof.select(col("source"),
        greatest(lit(1L), floor(col("n_unique") * 3 / 5.0).cast("long")).as("cap"))
      Sampling.capPerStratumBy(domained, "doc_id", "source", caps).count()
    }

    // --- corpus-frequency boilerplate scrub: the 100-doc replica groups
    // make EVERY span corpus-frequent at maxDocFreq=50 — worst case for
    // the anti join (nothing survives, the frequent set is maximal) ---
    probe(s"boilerplateScrub ${nDocs / 1000}k docs (3-word spans)") {
      Text.boilerplateScrub(docs, "doc_id", "text", spanWords = 3,
        maxDocFreq = 50).count()
    }

    // --- epoch shuffle: one distributed sort, no single-task window ---
    probe(s"epochOrder ${nEvents / 1000000}M rows -> 1024 shards") {
      Sampling.epochOrder(spark.range(nEvents).toDF("id"), "id",
        epoch = 3, nShards = 1024).count()
    }

    // --- N-way overlap matrix: 50 corpora over 5M element rows — ONE
    // grouped sketch pass, 1225 pair estimates from k-row arrays ---
    probe(s"overlapMatrix 50 corpora x ${nEvents / 1000000}M elem rows") {
      val elems = spark.range(nEvents).select(
        concat(lit("c"), pmod(col("id"), lit(50))).as("corpus"),
        concat(lit("e"), pmod(xxhash64(col("id")), lit(100000))).as("elem"))
      Quality.overlapMatrix(elems, "corpus", "elem", k = 512).count()
    }

    // --- entity resolution at 1M records: ~100k blocks of ~10, typo'd
    // names (digits bijected per replica-of-10), scored + matched +
    // transitive entities. Blocking bounds pairs at Σ b² ≈ 45·100k ---
    val erRecs = CacheScope.persist(spark.range(1000000L * scale).select(
      col("id"),
      concat(lit("person-"), (col("id") / 10).cast("string"),
        lit("-x"), pmod(xxhash64(col("id")), lit(10)).cast("string")).as("name"),
      pmod(col("id"), lit(100000L * scale)).cast("string").as("blk"),
      pmod(xxhash64(col("id"), lit(2)), lit(10000)).cast("double").as("bal")))
    val tErCand = probe(s"ER blockCandidates 1M recs, 100k blocks") {
      EntityResolution.blockCandidates(erRecs, "id", Seq("blk"),
        maxBlock = 100).count()
    }
    probe(s"ER score+match+entities 1M recs") {
      val cands = EntityResolution.blockCandidates(erRecs, "id", Seq("blk"),
        maxBlock = 100)
      val m = EntityResolution.matches(erRecs, cands, "id", threshold = 0.8,
        stringCols = Seq("name" -> 0.7),
        numericCols = Seq(("bal", 0.3, 1000.0)))
      EntityResolution.entities(erRecs, m.select("id_a", "id_b"), "id").count()
    }
    probe(s"ER snmCandidates 1M recs, w=10") {
      EntityResolution.snmCandidates(erRecs, "id", Seq("name", "id"),
        window = 10).count()
    }
    if (tErCand > 0) erRecs.unpersist(false)

    // --- CC on a pathological 200k-long CHAIN: pointer shortcutting
    // makes this O(log d) rounds; neighbor-only propagation would need
    // 200k rounds (i.e. never finish) ---
    probe("clusterPairs 200k-long chain") {
      val chain = spark.range(1, 200000L).select(
        col("id").as("id_a"), (col("id") + 1).as("id_b"))
      Dedup.clusterPairs(chain, "id_a", "id_b", maxIter = 40)
        .select(countDistinct(col("cluster_id")).as("n"))
        .as[Long].head()
    }

    // --- LPA communities: 5 synchronous rounds over 5M random edges ---
    probe(s"lpaCommunities ${nEvents / 1000000}M edges, 5 rounds") {
      val e = spark.range(nEvents).select(
        pmod(xxhash64(col("id")), lit(1000000L)).as("a"),
        pmod(xxhash64(col("id"), lit(3)), lit(1000000L)).as("b"))
      Analytics.lpaCommunities(e, "a", "b", iters = 5).count()
    }

    // --- priority sampling: one TakeOrdered pass over 5M weighted rows ---
    probe(s"prioritySample k=1000 over ${nEvents / 1000000}M") {
      Sampling.prioritySample(
        spark.range(nEvents).select(col("id"),
          pmod(xxhash64(col("id")), lit(1000)).cast("double").as("w")),
        "id", "w", k = 1000).count()
    }

    // --- changepoint screen: one window pass over the 5M-event table ---
    probe(s"meanShift ${nEvents / 1000000}M x ${nUsers / 1000}k users") {
      Analytics.meanShift(events, Seq("user_id"), "ts_sec", "value",
        window = 8, threshold = 30.0, tieBreak = Seq("event_id")).count()
    }

    // --- target encoding: 1M rows, 100k categories, broadcast stats ---
    probe("targetEncode 5M rows x 100k cats") {
      Analytics.targetEncode(
        spark.range(nEvents).select(col("id"),
          pmod(col("id"), lit(100000)).cast("string").as("cat"),
          pmod(xxhash64(col("id")), lit(1000)).cast("double").as("y")),
        "cat", "y", smoothing = 20.0).count()
    }

    // --- Kaplan-Meier: 1M lifetimes, 5 cohorts, day-bucketed durations
    // (the windows run over DISTINCT durations per cohort — ~2k rows) ---
    probe("kaplanMeier 1M lifetimes x 5 cohorts") {
      val life = spark.range(1000000L * scale).select(
        pmod(col("id"), lit(5)).cast("string").as("cohort"),
        pmod(xxhash64(col("id")), lit(2000)).as("dur"),
        (pmod(xxhash64(col("id"), lit(2)), lit(10)) < 7).as("ev"))
      Analytics.kaplanMeier(life, Seq("cohort"), "dur", "ev").count()
    }

    // --- Spearman: 5M rows, 3 columns, value cardinality 1000 (the
    // fractionalRank bounded-distinct contract) ---
    probe(s"spearmanMatrix ${nEvents / 1000000}M x 3 cols (1k distinct)") {
      val m = spark.range(nEvents).select(
        pmod(xxhash64(col("id")), lit(1000)).cast("double").as("a"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).cast("double").as("b"),
        pmod(xxhash64(col("id"), lit(2)), lit(1000)).cast("double").as("c"))
      Analytics.spearmanMatrix(m, Seq("a", "b", "c")).count()
    }

    // --- Boruvka MST: 1M random edges on 100k nodes (O(log V) rounds,
    // each edge-linear; the merge CC runs on the picked forest only) ---
    probe("minimumSpanningForest 1M edges x 100k nodes") {
      val e = spark.range(1000000L * scale).select(
        pmod(xxhash64(col("id")), lit(100000L)).as("a"),
        pmod(xxhash64(col("id"), lit(3)), lit(100000L)).as("b"),
        pmod(xxhash64(col("id"), lit(4)), lit(100000L)).cast("double").as("w"))
      Analytics.minimumSpanningForest(e, "a", "b", "w").count()
    }

    // --- Douglas-Peucker: 2M points x 20k trajectories (level-
    // synchronous split rounds; split frames are segment-sized) ---
    probe("dpSimplify 2M pts x 20k trajs") {
      val pts = spark.range(2000000L * scale).select(
        (col("id") % 20000L).as("traj"),
        (col("id") / 20000L).as("seq"),
        (col("id") / 20000L).cast("double").as("x"),
        pmod(xxhash64(col("id")), lit(100)).cast("double").as("y"))
      Trajectory.simplify(pts, Seq("traj"), "seq", "x", "y",
        epsilon = 30.0, maxIter = 60).count()
    }

    // --- Kneser-Ney: the 200k-doc corpus through the full model-table
    // build + per-doc scoring ---
    probe(s"knBigramScore ${nDocs / 1000}k docs") {
      Text.knBigramScore(docs, "doc_id", "text").count()
    }

    // --- local clustering coefficient: 1M edges (degree-ordered wedges
    // keep candidates O(m^1.5) even with hubs) ---
    probe("clusteringCoefficient 1M edges") {
      val e = spark.range(1000000L * scale).select(
        pmod(xxhash64(col("id")), lit(50000L)).as("a"),
        pmod(xxhash64(col("id"), lit(3)), lit(50000L)).as("b"))
      Analytics.clusteringCoefficient(e, "a", "b").count()
    }

    // --- random-walk corpus: 100k nodes x 2 walks x 4 steps over 1M
    // edges (per step one frontier join + one argmin groupBy) ---
    probe("randomWalks 1M edges x 100k nodes x 2x4") {
      val e = spark.range(1000000L * scale).select(
        pmod(xxhash64(col("id")), lit(100000L)).as("a"),
        pmod(xxhash64(col("id"), lit(3)), lit(100000L)).as("b"))
      Analytics.randomWalks(e, "a", "b", walksPerNode = 2, walkLen = 4).count()
    }

    spark.stop()
  }
}
