package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication family: exact (content-hash) plus the near-duplicate
 * operators a training-data pipeline needs (MinHash+LSH, SimHash,
 * n-gram Jaccard, embedding cosine — the last in [[Similarity]]).
 *
 * Reference anchor: utils/common_functions_raw.py:198 drop_duplicates
 * (sha256-of-JSON-struct content key) and
 * utils/common_functions_curated.py:191 add_hash_key (xxhash64-of-struct).
 */
object Dedup {

  /** Stable 64-bit content key over the given columns
   * (reference: common_functions_curated.py:191 add_hash_key). */
  def hashKey(df: DataFrame, cols: Seq[String], outCol: String = "hash_key"): DataFrame =
    df.withColumn(outCol, xxhash64(to_json(struct(cols.map(col): _*))))

  /** 256-bit content key, collision-safe at national-archive scale
   * (reference: common_functions_raw.py:198 drop_duplicates). */
  def contentKey(df: DataFrame, cols: Seq[String], outCol: String = "dedupe_key"): DataFrame =
    df.withColumn(outCol, sha2(to_json(struct(cols.map(col): _*)), 256))

  /**
   * Exact dedup on a content key: one row kept per distinct key.
   * Equivalent to the reference's dropDuplicates-on-hash; an aggregation
   * with map-side combine that keeps the first value of every other
   * column.
   *
   * It is a codegen HashAggregate only while every column outside
   * `keyCols` is fixed-width (numbers, booleans, dates, timestamps). One
   * string, binary or nested column in that payload makes Spark plan an
   * interpreted SortAggregate instead: a sort plus a row-at-a-time loop
   * outside whole-stage codegen, on both sides of the shuffle. Derive
   * columns that are functions of the keys (e.g. `date_format` partition
   * strings) after the dedup, as [[graft.pipelines.RawToStaging]] does.
   */
  def exact(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.dropDuplicates(keyCols)

  /**
   * Deterministic exact dedup: keep the row minimizing `orderCol` within
   * each key group (e.g. smallest doc_id), and report group size.
   * min_by/count aggregate — single shuffle, partial-agg friendly.
   */
  def exactKeepFirst(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val payload = df.columns.filterNot(c => keyCols.contains(c)).toSeq
    val aggs = payload.map(c => min_by(col(c), col(orderCol)).as(c)) :+
      count(lit(1)).as("n_dups")
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Quality-aware exact dedup: among duplicates, keep the row MAXIMIZING
   * `rankCol` (a NUMERIC quality score / recency / source priority) with
   * `tieBreak` ascending as the deterministic tiebreaker — the curation
   * move when the same text arrives from several sources and you want
   * the best copy, not the first. Same single-shuffle min_by shape as
   * [[exactKeepFirst]]; one row per key reaches the shuffle.
   *
   * The negation lives on the numeric rank (min of (-rank, tieBreak)),
   * so `tieBreak` may be ANY orderable type — negating the tiebreak
   * instead would break on string/UUID ids.
   *
   * A NULL rank LOSES to any real score (SQL `ORDER BY rank DESC NULLS
   * LAST` semantics): the leading null-flag field sorts non-null ranks
   * (0) ahead of null ranks (1). Without it, Spark's struct ordering
   * would sort the null `-rank` field SMALLEST and a scoreless
   * duplicate would beat every scored copy.
   */
  def exactKeepBest(df: DataFrame, keyCols: Seq[String], rankCol: String,
                    tieBreak: String): DataFrame = {
    val payload = df.columns.filterNot(c => keyCols.contains(c)).toSeq
    val ord = struct(col(rankCol).isNull.cast("int"), -col(rankCol), col(tieBreak))
    val aggs = payload.map(c => min_by(col(c), ord).as(c)) :+
      count(lit(1)).as("n_dups")
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Distinct word n-gram shingle set of a text column. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(Text.wordShingles(text, n))

  /** (id, shh, n_sh): distinct hashed shingle set per document, computed
   * by the [[graft.expressions.HashedShingles]] codegen kernel — one pass
   * over the text bytes, no per-shingle string allocation. Downstream
   * re-mixes longs (128-perm signatures) instead of re-hashing strings. */
  private def hashedShingleSets(docs: DataFrame, idCol: String, textCol: String,
                                n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        graft.functions.Hashing.hashedShingles(col(textCol), n).as("shh"))
      .withColumn("n_sh", size(col("shh")))

  /**
   * Exact n-gram Jaccard similarity join with AllPairs/PPJoin-style
   * prefix filtering (Bayardo et al., WWW'07; Xiao et al., PPJoin):
   *
   *  1. order every document's shingles by ascending global frequency
   *     (rarest first, hash tie-break — one total order both sides);
   *  2. index only the PREFIX of `n_sh - ceil(t·n_sh) + 1` rarest
   *     shingles per doc — two sets with Jaccard ≥ t MUST share at least
   *     one prefix shingle, so the equi-join on prefix entries is a
   *     lossless candidate generator;
   *  3. length filter (`t·n_a ≤ n_b`) prunes impossible pairs for free;
   *  4. exact verify: `array_intersect` of the full hashed sets.
   *
   * Candidate volume falls from Σ_s freq(s)² over ALL shingles to the
   * same sum over rare-prefix entries only — the difference between a
   * quadratic blowup and near-linear work at 100 TB. Everything is
   * hashed 64-bit shingles: 8-byte join keys, long compares.
   *
   * `maxShingleFreq` remains as a degenerate-skew guard: shingles more
   * frequent than the cap never enter the index (pairs sharing ONLY such
   * boilerplate shingles are dropped by construction — at a near-dup
   * threshold they would not verify anyway).
   */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   maxShingleFreq: Long = 1000L): DataFrame = {
    val sets = graft.CacheScope.persist(
      hashedShingleSets(docs, idCol, textCol, n)
        .select(col("id"), col("shh"), col("n_sh")))
    val inv = sets.select(col("id"), col("n_sh"), explode(col("shh")).as("s"))
    val freq = inv.groupBy("s").agg(count(lit(1)).as("freq"))
      .filter(col("freq") <= maxShingleFreq)
    // global-frequency order per doc; window key is the high-cardinality
    // doc id, so the sort stays balanced
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("freq").asc, col("s").asc)
    // FP-conservative prefix: ceil(t·n - ε) can only lengthen the prefix
    // (more candidates), never shorten it (which would lose pairs)
    val prefixLen = col("n_sh") - ceil(col("n_sh") * threshold - 1e-9) + 1
    val prefix = graft.CacheScope.persist(
      inv.join(freq, "s")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= prefixLen)
        .select(col("s"), col("id"), col("n_sh")))

    val a = prefix.select(col("s"), col("id").as("id_a"), col("n_sh").as("n_a"))
    val b = prefix.select(col("s"), col("id").as("id_b"), col("n_sh").as("n_b"))
    val cand = a.hint("shuffle_hash").join(b, Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("n_b") * threshold <= col("n_a") &&
        col("n_a") * threshold <= col("n_b"))
      .select("id_a", "id_b").distinct()

    cand
      .join(sets.select(col("id").as("id_a"), col("shh").as("sh_a"), col("n_sh").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shh").as("sh_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("common",
        graft.functions.Hashing.intersectionSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * One-sided CONTAINMENT join: pairs where at least `threshold` of
   * doc A's shingles appear in doc B (`|A∩B| / |A| ≥ t`) — the
   * quote/excerpt detector. A short document pasted inside a long one
   * has low Jaccard (the union is dominated by B) but high containment;
   * this is the dedup rule for "B embeds A", complementary to
   * [[ngramJaccard]]'s symmetric near-dup rule.
   *
   * Candidate generation is the ASYMMETRIC prefix filter: if
   * |A∩B| ≥ t·|A|, then A's `⌊(1−t)·n_a⌋+1` rarest shingles cannot ALL
   * miss B — so probing only A's prefix against B's FULL inverted index
   * is lossless. The index is linear in corpus shingles (what makes this
   * viable at 100 TB, vs the prefix×prefix join which would miss
   * containment pairs). `maxShingleFreq` is the same boilerplate-skew
   * guard as in [[ngramJaccard]].
   */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, threshold: Double,
                      maxShingleFreq: Long = 1000L): DataFrame = {
    val sets = graft.CacheScope.persist(
      hashedShingleSets(docs, idCol, textCol, n)
        .select(col("id"), col("shh"), col("n_sh")))
    val inv = sets.select(col("id"), col("n_sh"), explode(col("shh")).as("s"))
    // persisted: TWO consumers (the prefix build and the container-side
    // index join below) otherwise each pay the full explode+groupBy
    // frequency pass — the executed plan showed the aggregation
    // duplicated under two separate broadcasts
    val freq = graft.CacheScope.persist(
      inv.groupBy("s").agg(count(lit(1)).as("freq"))
        .filter(col("freq") <= maxShingleFreq))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("freq").asc, col("s").asc)
    val prefixLen = col("n_sh") - ceil(col("n_sh") * threshold - 1e-9) + 1
    val prefix = inv.join(freq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .select(col("s"), col("id").as("id_a"))
    // container side: FULL freq-capped inverted index, not a prefix
    val containerIdx = inv.join(freq.select("s"), "s")
      .select(col("s"), col("id").as("id_b"))
    val cand = prefix.hint("shuffle_hash").join(containerIdx, Seq("s"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("shh").as("sh_a"),
        col("n_sh").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shh").as("sh_b")), "id_b")
      .withColumn("common",
        graft.functions.Hashing.intersectionSize(col("sh_a"), col("sh_b")))
      .withColumn("containment", col("common").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /**
   * MinHash signature over PRE-HASHED shingles: permutation p is
   * xxhash64(shingle_hash, p) — long-to-long mixing, no string re-hash
   * per permutation (strings are hashed once upstream). Signature
   * element p = min over shingles. Pure higher-order-function pipeline —
   * no UDF, no extra shuffle.
   */
  def minhashSignature(shingleHashes: Column, numPerms: Int): Column =
    transform(sequence(lit(0), lit(numPerms - 1)),
      p => array_min(transform(shingleHashes, h => xxhash64(h, p))))

  /**
   * MinHash + LSH banding near-duplicate join
   * (shingle → minhash → band → bucket-join → exact verify):
   *  1. signature of `numPerms` minhashes per doc;
   *  2. split into `bands` bands of numPerms/bands rows, hash each band;
   *  3. docs colliding in any (band, hash) bucket become candidates —
   *     an equi-join, not a cross join;
   *  4. candidates are verified with EXACT Jaccard on the shingle sets,
   *     so false positives are filtered and the output matches the exact
   *     join wherever LSH recall holds (P[miss] ≈ (1-t^r)^b, ~1e-4 at
   *     t=0.7 with 128/32).
   *
   * Skew guard: buckets larger than `maxBucketSize` are dropped (their
   * pairs are degenerate near-constant text at scale).
   */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, numPerms: Int = 128, bands: Int = 32,
                 threshold: Double = 0.7,
                 maxBucketSize: Long = 10000L): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    // only the hashed sets are carried: signature + banding happen inside
    // one codegen kernel, and verification intersects the hash arrays.
    // NO spread/banded-persist here, unlike the ICWS twin below: the
    // integer-mixing kernel is ~1 op per (perm, element) — cheap enough
    // (~0.7 s cpu at sf0.1) that the repartition + cache-build + changed
    // join shape cost MORE than the recomputation they save (measured:
    // the treated variant ran 0.83→1.85 s wall, 0.7→11 s cpu)
    val sets = graft.CacheScope.persist(
      hashedShingleSets(docs, idCol, textCol, n)
        .select(col("id"), col("shh"), col("n_sh")))

    // empty docs are excluded from banding — they'd all collide in one
    // degenerate bucket (and an empty-vs-empty pair has no defined Jaccard)
    val banded = sets.filter(col("n_sh") > 0)
      .select(col("id"),
        posexplode(graft.functions.Hashing.minhashBands(col("shh"), numPerms, bands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh"))

    // skew guard: the few over-cap buckets are found with a map-side-
    // combined count and removed with a broadcast anti-join — unlike a
    // count-over-window, the banded stream itself is never shuffled
    val big = banded.groupBy("band", "bh").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucketSize).select("band", "bh")
    val kept = banded.join(broadcast(big), Seq("band", "bh"), "left_anti")
    val cand = kept.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(kept.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    cand
      .join(sets.select(col("id").as("id_a"), col("shh").as("sh_a"), col("n_sh").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shh").as("sh_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("common",
        graft.functions.Hashing.intersectionSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * WEIGHTED MinHash + LSH near-duplicate join (Ioffe 2010 ICWS) — the
   * MULTISET upgrade of [[minhashLsh]]: plain MinHash scores "spam"
   * and "spam spam spam spam" as identical because it sees shingle
   * SETS; this one weights every shingle by its term frequency and
   * targets the weighted Jaccard J_w = Σ min(tf)/Σ max(tf), the measure
   * corpus curation actually wants for repetitive web text (idf or any
   * other weighting rides the same kernels by pre-scaling counts).
   *
   * Same four-stage shape as the set version, with the weighted kernels
   * swapped in: (1) one codegen pass builds the interleaved (hash, tf)
   * multiset per doc; (2) ICWS draws `numPerms` consistent samples —
   * collision probability EXACTLY J_w — banded into `bands` band
   * hashes inside the same kernel; (3) bucket equi-join over (band,
   * hash) with the identical map-side-combined skew guard; (4)
   * candidates verified with the EXACT Σmin merge, so false positives
   * vanish and the output matches the exact weighted join wherever
   * recall holds (P[miss] ≈ (1−t^r)^b, ~1e-4 at t=0.7 with 128/32 —
   * and MEASURED against the exact join in the round-13 spec).
   *
   * The ICWS variates go through libm transcendentals, so unlike the
   * set version's pure integer mixing the SIGNATURE is not
   * oracle-replayable — but the OUTPUT is: candidates are verified
   * exactly, so the oracle is the exact weighted-Jaccard join (the
   * q_dedup_minhash pattern).
   */
  def minhashLshWeighted(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, numPerms: Int = 128, bands: Int = 32,
                         threshold: Double = 0.7,
                         maxBucketSize: Long = 10000L): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    // spread: a single-row-group input would run the ICWS kernel on ONE
    // core (see [[graft.Parallelism]] — measured 5.4 s wall on 6.8 s cpu)
    val sets = graft.CacheScope.persist(
      graft.Parallelism.spread(docs).select(col(idCol).as("id"),
          graft.functions.Hashing.hashedShingleCounts(col(textCol), n).as("shc"))
        .withColumn("tot", graft.functions.Hashing.weightedTotal(col("shc"))))

    // zero-mass docs are excluded from banding (the empty-doc rule of
    // the set version — they'd all collide in one degenerate bucket).
    // persisted: the ICWS draws (numPerms × 5 hashes + 3 logs per
    // element) are the operator's dominant cpu and banded feeds THREE
    // consumers (bucket-size profile + both candidate self-join sides) —
    // uncached the kernel re-ran per consumer (measured 2.07 s wall /
    // 16.5 s cpu spread-only vs 1.45 s / 9.5 s with the cache; the
    // set-version twin deliberately SKIPS both treatments — its integer
    // kernel is too cheap to pay the cache+repartition overhead)
    val banded = graft.CacheScope.persist(sets.filter(col("tot") > 0)
      .select(col("id"),
        posexplode(graft.functions.Hashing.icwsBands(col("shc"), numPerms, bands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh")))

    val big = banded.groupBy("band", "bh").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucketSize).select("band", "bh")
    val kept = banded.join(broadcast(big), Seq("band", "bh"), "left_anti")
    val cand = kept.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(kept.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    cand
      .join(sets.select(col("id").as("id_a"), col("shc").as("sc_a"), col("tot").as("t_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shc").as("sc_b"), col("tot").as("t_b")), "id_b")
      .withColumn("common",
        graft.functions.Hashing.weightedIntersection(col("sc_a"), col("sc_b")))
      .withColumn("jaccard_w", col("common").cast("double") /
        (col("t_a") + col("t_b") - col("common")))
      .filter(col("jaccard_w") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard_w"))
  }

  /**
   * Persistable banded-minhash index of a corpus: one row per
   * `(id, band, bh)`, built in one pass with the codegen signature
   * kernel. Write it partitioned/bucketed by `band, bh` and every future
   * delta probes it with an equi-join — the archive is INDEXED once, not
   * re-paired on every ingest.
   */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, numPerms: Int = 128, bands: Int = 32): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    hashedShingleSets(docs, idCol, textCol, n)
      .filter(col("n_sh") > 0)
      .select(col("id"),
        posexplode(graft.functions.Hashing.minhashBands(col("shh"), numPerms, bands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh"))
      .select("id", "band", "bh")
  }

  /**
   * INCREMENTAL near-dup dedup: a delta of new documents against an
   * existing [[minhashIndex]] — the daily-crawl-vs-archive shape, where
   * re-pairing the whole corpus per ingest would be quadratic in days.
   *
   * Cost model at 100 TB: the delta is signed once (one pass over NEW
   * text only); candidates come from TWO equi-joins — delta bands vs the
   * stored index (band/bh-keyed, so a bucketed index table prunes to
   * matching buckets) and delta vs itself (new-new dups); exact Jaccard
   * verification re-hashes OLD text only for candidate ids (the archive
   * scan is semi-join-pruned to the touched documents). Nothing touches
   * non-colliding archive rows.
   *
   * Returns `(new_id, dup_id, jaccard, dup_src)` — `dup_src` 'old' for
   * archive hits, 'new' for intra-delta pairs (emitted once,
   * new_id < dup_id). Same recall as [[minhashLsh]] (≈ 1−1e-4 at t=0.7
   * with 128/32); every candidate exact-verified.
   */
  def dedupAgainstIndex(newDocs: DataFrame, index: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, numPerms: Int = 128, bands: Int = 32,
                        threshold: Double = 0.7): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val newSets = graft.CacheScope.persist(
      hashedShingleSets(newDocs, idCol, textCol, n))
    val newBanded = graft.CacheScope.persist(
      newSets.filter(col("n_sh") > 0)
        .select(col("id"),
          posexplode(graft.functions.Hashing.minhashBands(col("shh"), numPerms, bands)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh")))
    val candOld = newBanded
      .join(index.select(col("id").as("dup_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("id").as("new_id"), col("dup_id")).distinct()
    val candNew = newBanded.select(col("band"), col("bh"), col("id").as("new_id"))
      .join(newBanded.select(col("band"), col("bh"), col("id").as("dup_id")),
        Seq("band", "bh"))
      .filter(col("new_id") < col("dup_id"))
      .select("new_id", "dup_id").distinct()
    // archive text re-hashed ONLY for candidate ids: at scale this is a
    // semi-join-pruned scan of the corpus, not a full pass
    val touched = corpus.join(
      candOld.select(col("dup_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val oldSets = hashedShingleSets(touched, idCol, textCol, n)
    def verify(cand: DataFrame, other: DataFrame, src: String) = cand
      .join(newSets.select(col("id").as("new_id"), col("shh").as("sh_a"),
        col("n_sh").as("n_a")), "new_id")
      .join(other.select(col("id").as("dup_id"), col("shh").as("sh_b"),
        col("n_sh").as("n_b")), "dup_id")
      .withColumn("common",
        graft.functions.Hashing.intersectionSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("dup_id"), col("jaccard"), lit(src).as("dup_src"))
    verify(candOld, oldSets, "old").unionByName(verify(candNew, newSets, "new"))
  }

  /**
   * Persistable banded WEIGHTED-minhash index — [[minhashIndex]]'s ICWS
   * twin for [[minhashLshWeighted]]'s tf-weighted Jaccard: one
   * `(id, band, bh)` row per non-zero-mass doc, band hashes drawn by
   * the ICWS kernel so collision probability is exactly J_w. Same
   * storage contract as the set index (bucket by `(band, bh)`; deltas
   * probe with an equi-join).
   */
  def wminhashIndex(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, numPerms: Int = 128, bands: Int = 32): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    docs.select(col(idCol).as("id"),
        graft.functions.Hashing.hashedShingleCounts(col(textCol), n).as("shc"))
      .filter(graft.functions.Hashing.weightedTotal(col("shc")) > 0)
      .select(col("id"),
        posexplode(graft.functions.Hashing.icwsBands(col("shc"), numPerms, bands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh"))
      .select("id", "band", "bh")
  }

  /**
   * INCREMENTAL WEIGHTED near-dup dedup — [[dedupAgainstIndex]]'s ICWS
   * twin: a delta of new documents probes a [[wminhashIndex]] of the
   * kept archive, candidates verify with the EXACT Σmin/Σmax weighted
   * Jaccard (the [[minhashLshWeighted]] tail — false positives vanish,
   * repetition discriminates where the set version cannot). Same cost
   * model: delta signed once, archive text re-hashed ONLY for candidate
   * ids, nothing touches non-colliding archive rows. Returns
   * `(new_id, dup_id, jaccard_w, dup_src)` — 'old' archive hits, 'new'
   * intra-delta pairs (new_id < dup_id).
   */
  def dedupAgainstIndexWeighted(newDocs: DataFrame, index: DataFrame,
                                corpus: DataFrame,
                                idCol: String, textCol: String,
                                n: Int = 3, numPerms: Int = 128,
                                bands: Int = 32,
                                threshold: Double = 0.7): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    def counted(df: DataFrame) = df.select(col(idCol).as("id"),
        graft.functions.Hashing.hashedShingleCounts(col(textCol), n).as("shc"))
      .withColumn("tot", graft.functions.Hashing.weightedTotal(col("shc")))
    val newSets = graft.CacheScope.persist(counted(newDocs))
    val newBanded = graft.CacheScope.persist(
      newSets.filter(col("tot") > 0)
        .select(col("id"),
          posexplode(graft.functions.Hashing.icwsBands(col("shc"), numPerms, bands)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh")))
    val candOld = newBanded
      .join(index.select(col("id").as("dup_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("id").as("new_id"), col("dup_id")).distinct()
    val candNew = newBanded.select(col("band"), col("bh"), col("id").as("new_id"))
      .join(newBanded.select(col("band"), col("bh"), col("id").as("dup_id")),
        Seq("band", "bh"))
      .filter(col("new_id") < col("dup_id"))
      .select("new_id", "dup_id").distinct()
    // archive text re-counted ONLY for candidate ids (semi-join-pruned)
    val touched = corpus.join(
      candOld.select(col("dup_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val oldSets = counted(touched)
    def verify(cand: DataFrame, other: DataFrame, src: String) = cand
      .join(newSets.select(col("id").as("new_id"), col("shc").as("sc_a"),
        col("tot").as("t_a")), "new_id")
      .join(other.select(col("id").as("dup_id"), col("shc").as("sc_b"),
        col("tot").as("t_b")), "dup_id")
      .withColumn("common",
        graft.functions.Hashing.weightedIntersection(col("sc_a"), col("sc_b")))
      .withColumn("jaccard_w", col("common").cast("double") /
        (col("t_a") + col("t_b") - col("common")))
      .filter(col("jaccard_w") >= threshold)
      .select(col("new_id"), col("dup_id"), col("jaccard_w"),
        lit(src).as("dup_src"))
    verify(candOld, oldSets, "old").unionByName(verify(candNew, newSets, "new"))
  }

  /**
   * Connected components over near-duplicate pairs → cluster assignment
   * `(id, cluster_id)` where cluster_id is the component's minimum id.
   * Keep-one-per-cluster dedup is then `groupBy(cluster_id).min(id)`.
   *
   * Iterative min-label propagation: each round every node takes the min
   * label in its closed neighborhood; converges in O(component diameter)
   * rounds. Near-dup components are dense and shallow (diameter ≤ ~3),
   * so the loop is short; each round is one shuffle join + aggregation,
   * and each round's lineage cut ([[graft.Fixpoint]], reliable under
   * `checkpointDir`) keeps round N from replaying rounds 1..N-1. Only
   * nodes that appear in some pair are emitted.
   * Labels not converged after `maxIter` rounds are an error, never a
   * partial answer.
   */
  def clusterPairs(pairs: DataFrame, aCol: String, bCol: String,
                   maxIter: Int = 20,
                   checkpointDir: Option[String] = None): DataFrame = {
    // the pair source is cut below the symmetric union, which reads it
    // twice: `pairs` is typically an expensive similarity join
    val p = graft.Fixpoint.input(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")), checkpointDir)
    // symmetric edges, pre-partitioned by src and cached over the cut:
    // every round's propagation join reuses this partitioning — the
    // (big) edge table is shuffled ONCE for the whole loop, not once per
    // round. No distinct: min-propagation is idempotent under duplicate
    // edges, so deduping billions of edges would buy nothing for a full
    // extra shuffle.
    val edges = graft.CacheScope.persist(
      p.union(p.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src")))
    // round 0 fused into initialization: lbl = min(id, direct neighbors)
    // — one aggregation instead of a full join round
    val labels0 = graft.CacheScope.persist(
      edges.groupBy("src").agg(min("dst").as("m"))
        .select(col("src").as("id"), least(col("src"), col("m")).as("lbl")))
    // labels only ever DECREASE under min-propagation, so for integral id
    // types the loop has converged iff sum(lbl) is unchanged — one
    // aggregate action per round (which also materializes the round's
    // cache). The sum test is ONLY sound when the cast to decimal(38,0)
    // is exact: string/UUID ids cast to null (sum would read "converged"
    // after one round, silently wrong) and fractional doubles truncate.
    // For those types — and whenever a decimal overflow nulls the sum on
    // a non-empty frame — fall back to an exact changed-label check.
    val sumSafe = {
      import org.apache.spark.sql.types._
      labels0.schema("lbl").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType if d.scale == 0 => true
        case _ => false
      }
    }
    // None = sum unusable this round (overflow on a non-empty frame)
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] = {
      val r = df.agg(sum(col("lbl").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n")).head
      val s = r.getDecimal(0)
      if (r.getLong(1) == 0L) Some(java.math.BigDecimal.ZERO)
      else Option(s)
    }
    // exact fallback: any node whose label changed this round?
    def anyLabelChanged(prev: DataFrame, next: DataFrame): Boolean =
      !next.join(prev.withColumnRenamed("lbl", "prev_lbl"), "id")
        .filter(col("lbl") =!= col("prev_lbl")).isEmpty
    // state: (labels, their sum when sum-safe, converged)
    val (labels, _, _) = graft.Fixpoint.iterate("clusterPairs",
        (labels0, if (sumSafe) labelSum(labels0) else None, false),
        checkpointDir,
        // EAGER cut, deliberately: the lazy variant (convergence
        // aggregate materializes the blocks) was measured WORSE across
        // this loop's consumers in full-bench context (q_dendrogram
        // 5.5→6.4-9.0 s, q_image_neardup 1.2→2.2, q_er_entities 0.4→1.0
        // at 32 cores) — the aggregate job re-enters the round plan's
        // AQE stages instead of reading cached blocks, unlike the
        // fixed-round loops where lazy cuts won.
        eager = true)(graft.Fixpoint.Converge(maxIter, _._3)) {
      case ((labels, prevSum, _), _, cut) =>
        // each node's new label: min over own label and all neighbors' —
        // a union + one partial-agg groupBy (no per-round left join)
        val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("lbl"))
        // cut EVERY round: nextRound references `labels` TWICE (union +
        // prop), so a plain persist leaves a 2^rounds logical plan whose
        // plan STRING alone OOMs the driver once the loop runs long (hit
        // at the sf1 tier by long ER match chains)
        val nextRound = labels.union(prop).groupBy("id").agg(min("lbl").as("lbl"))
        // POINTER SHORTCUT (path halving): also adopt the label OF the
        // label — lbl is itself a node id in this table, and min-labels
        // only point downward, so label(label(u)) is reachable from u by
        // transitivity. Neighbor propagation alone walks ONE hop per
        // round (O(diameter) rounds — an 80-long ER match chain pays 80
        // rounds); with the shortcut chains halve every round and the
        // loop converges in O(log diameter). Same monotone descent, same
        // fixpoint, one extra id-sized equi-join per round.
        val parent = nextRound
          .select(col("id").as("lbl"), col("lbl").as("plbl"))
        val shortcut = nextRound.join(parent, Seq("lbl"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"))
        val updated = cut(shortcut)
        val (newSum, converged) = if (sumSafe) {
          val newSum = labelSum(updated) // also materializes the cache
          (newSum, (newSum, prevSum) match {
            case (Some(a), Some(b)) => a.compareTo(b) == 0
            case _ => !anyLabelChanged(labels, updated)
          })
        } else {
          (None, !anyLabelChanged(labels, updated)) // materializes via the join action
        }
        labels.unpersist(false)
        (updated, newSum, converged)
    }
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /**
   * Canonical near-dup collapse: ONE survivor per duplicate cluster —
   * the highest-`scoreCol` member, ties broken by smallest id — plus
   * every unpaired doc untouched. This is the corpus-dedup endpoint:
   * any similarity join's pairs ([[minhashLsh]], [[ngramJaccard]], …)
   * feed [[clusterPairs]], and instead of keeping an arbitrary cluster
   * member the BEST-quality representative survives. Returns each
   * survivor's full row plus its `cluster_id` and the cluster's
   * `n_members`.
   *
   * Scale shape: the cluster map has one row per PAIRED doc (≪ corpus
   * under realistic dup rates); the attach join is key-equi; the
   * survivor pick is one partial-agg'd min_by per cluster — no window
   * over the corpus, no second pass over text.
   */
  def canonicalDedup(docs: DataFrame, idCol: String, pairs: DataFrame,
                     aCol: String, bCol: String, scoreCol: String,
                     maxIter: Int = 20,
                     checkpointDir: Option[String] = None,
                     precomputedClusters: Option[DataFrame] = None): DataFrame = {
    // a pipeline that already materialized [[clusterPairs]] labels (the
    // normal stage boundary at scale) passes them in; the CC loop only
    // runs when the caller didn't
    val clusters = precomputedClusters
      .getOrElse(clusterPairs(pairs, aCol, bCol, maxIter, checkpointDir))
      .withColumnRenamed("id", idCol)
    val keyed = docs.join(clusters, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    // min_by over (-score, id): max score, ties to the smallest id —
    // one ordering struct, no mixed-direction window needed
    val ord = struct((-col(scoreCol)).as("_ns"), col(idCol).as("_id"))
    keyed.groupBy("cluster_id")
      .agg(min_by(struct(docs.columns.map(col): _*), ord).as("_best"),
        count(lit(1)).as("n_members"))
      .select((col("cluster_id") +:
        docs.columns.map(c => col("_best").getField(c).as(c)) :+
        col("n_members")): _*)
  }

  /**
   * Dedup report: the cluster-size distribution every corpus-dedup
   * writeup leads with — for each duplicate-cluster size, how many
   * clusters, how many docs they hold, and how many rows a
   * keep-one-per-cluster pass removes (`n_docs − n_clusters`).
   * Singletons (unpaired docs) appear as size 1, so the n_docs column
   * sums to the corpus and the dup-rate falls straight out.
   *
   * Scale shape: cluster attach is a key-equi left join; then two
   * partial-agg'd groupBys each strictly smaller than their input
   * (corpus → clusters → sizes). Output is O(max cluster size) rows.
   */
  def dedupProfile(docs: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String, bCol: String, maxIter: Int = 20,
                   checkpointDir: Option[String] = None,
                   precomputedClusters: Option[DataFrame] = None): DataFrame = {
    val clusters = precomputedClusters
      .getOrElse(clusterPairs(pairs, aCol, bCol, maxIter, checkpointDir))
      .withColumnRenamed("id", idCol)
    docs.join(clusters, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(
        count(lit(1)).as("n_clusters"),
        sum("cluster_size").as("n_docs"))
      .withColumn("n_removed", col("n_docs") - col("n_clusters"))
  }

  /**
   * Per-DOMAIN dedup-rate profile — the crawl-frontier planning table:
   * a frontier decides how much more of each domain to fetch, and the
   * strongest signal is how much of what it already fetched was
   * duplicate. One row per domain with `(n_docs, n_unique, dup_rate)`,
   * where uniqueness is NEAR-DUP-AWARE when `clusters` (a
   * [[clusterPairs]] `(id, cluster_id)` frame) is supplied — docs in
   * one near-dup cluster count once — and exact-content (md5 of the
   * text) otherwise. Unclustered docs count as their own group, the
   * [[dedupProfile]] convention.
   *
   * One partial-agg'd shuffle on the domain key (+ a left join against
   * the cluster labels, which at 100 TB is the already-materialized
   * dedup stage, not new work). Feed the output through
   * [[graft.operators.Sampling.capPerStratumBy]] to turn dup rates into
   * per-domain fetch/keep caps.
   */
  def domainDedupProfile(docs: DataFrame, idCol: String, textCol: String,
                         domainCol: String,
                         clusters: Option[DataFrame] = None): DataFrame = {
    val keyed = clusters match {
      case Some(cl) =>
        docs.join(cl.withColumnRenamed("id", idCol), Seq(idCol), "left")
          .withColumn("_grp",
            coalesce(col("cluster_id").cast("string"), col(idCol).cast("string")))
      case None => docs.withColumn("_grp", md5(col(textCol)))
    }
    keyed.groupBy(domainCol)
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("_grp")).as("n_unique"))
      .withColumn("dup_rate",
        floor((col("n_docs") - col("n_unique")).cast("double") /
          col("n_docs") * 1000 + 0.5) / 1000)
  }

  /**
   * Edit-distance near-duplicate pairs on a short key (title, URL,
   * normalized name): pairs with `levenshtein(key_a, key_b) <= maxDist`.
   *
   * Candidate generation is segment matching (PassJoin — Li, Deng &
   * Feng, VLDB'11): every indexed string is split into `maxDist+1`
   * contiguous segments; ≤ maxDist edits cannot touch them all, so for
   * any qualifying pair at least one segment of one string appears
   * EXACTLY in the other, shifted by at most maxDist. Each string
   * therefore (a) indexes its own segments keyed by (length, segment
   * index, value) and (b) probes with the substrings a matching segment
   * of a string of each candidate length could occupy. Matching is an
   * EQUI-join on exact multi-char substrings — selective even when all
   * keys share one length (where length-band blocking degenerates to a
   * cross join) or share a tiny q-gram alphabet (where q-gram count
   * filters explode). Survivors are verified with Spark's codegen
   * `levenshtein` (classic DP, integer-exact across engines).
   *
   * Keys shorter than `maxDist+1` chars can't carry non-empty segments;
   * they go through a length-band equi-join (short strings, cheap
   * verify), with the pool widened by maxDist so cross-pool pairs are
   * still generated.
   */
  def editDistancePairs(df: DataFrame, idCol: String, keyCol: String,
                        maxDist: Int,
                        broadcastIndexMaxRows: Long = 1000000L): DataFrame = {
    val k = maxDist + 1 // number of segments
    val keyed = graft.CacheScope.persist(
      df.select(col(idCol).as("id"), col(keyCol).as("k"))
        .withColumn("l", length(col("k"))))
    val minLong = 2 * k // each segment >= 2 chars → selective join keys
    // Join-side choice needs the TRUE index cardinality: the probe side
    // below explodes ~(2·maxDist+1)²·k rows per string, invisible to
    // Catalyst's Generate stats, so left to its own estimates Spark
    // broadcast-builds the 196×-fanned probe side — a driver-side
    // single-threaded hash build measured at 33 s wall / 29 s cpu on
    // 500k keys where the whole query is otherwise sub-second. The
    // index side is k rows per string — 49× smaller. Up to the rows
    // cap (~60 MB of (len, seg, substring, id, key) entries) broadcast
    // the INDEX and stream the exploded probe map-side with ZERO
    // shuffle; past it, fall back to a shuffled hash join on the
    // segment key — the 1000-executor shape, where both sides
    // partition by (l_b, i, sub) and the fan-out never converges on
    // one node. The count is one pass over the already-persisted
    // 3-column frame that every downstream branch re-reads anyway.
    val nKeys = keyed.count()

    // candidates carry both keys, so the verify is a projection — no
    // fetch-back joins after candidate generation. The thresholded
    // levenshtein overload runs the banded DP with early abandon
    // (returns -1 past the cap): O(maxDist·len) per pair, not O(len²).
    def verified(cand: DataFrame): DataFrame =
      cand.distinct()
        .withColumn("dist", levenshtein(col("k_a"), col("k_b"), maxDist))
        .filter(col("dist") >= 0)
        .select("id_a", "id_b", "dist")

    // Segment scheme for a string of length L: k segments, the last
    // L % k of them one char longer. start(i) = i*(L/k) + max(0, i-(k-L%k)).
    def segStart(lCol: Column, i: Column): Column =
      i * floor(lCol / k).cast("int") +
        greatest(lit(0), i - (lit(k) - pmod(lCol, lit(k)).cast("int")))
    def segLen(lCol: Column, i: Column): Column =
      floor(lCol / k).cast("int") +
        when(i >= lit(k) - pmod(lCol, lit(k)).cast("int"), 1).otherwise(0)

    val long = keyed.filter(col("l") >= minLong)
    // index side: own segments, keyed by (own length, segment idx, value)
    val idx = long.select(col("id").as("id_b"), col("l").as("l_b"),
        col("k").as("k_b"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
      .withColumn("sub", col("k_b").substr(
        segStart(col("l_b"), col("i")) + 1, segLen(col("l_b"), col("i"))))
      .select("id_b", "k_b", "l_b", "i", "sub")
    // probe side: for every candidate indexed length lb within ±maxDist
    // and every segment slot, the substrings that segment could occupy
    // (shifted by at most maxDist, clipped to the probe's bounds; an
    // empty clip window yields a null sequence → explode emits nothing)
    val probe = long.select(col("id").as("id_a"), col("l").as("l_a"), col("k"),
        explode(sequence(col("l") - maxDist, col("l") + maxDist)).as("l_b"))
      .filter(col("l_b") >= minLong)
      .select(col("id_a"), col("l_a"), col("k"), col("l_b"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
      .withColumn("slen", segLen(col("l_b"), col("i")))
      .withColumn("p_lo", greatest(lit(0), segStart(col("l_b"), col("i")) - maxDist))
      .withColumn("p_hi", least(col("l_a") - col("slen"),
        segStart(col("l_b"), col("i")) + maxDist))
      .select(col("id_a"), col("l_a"), col("l_b"), col("i"), col("slen"), col("k"),
        explode(when(col("p_hi") >= col("p_lo"),
          sequence(col("p_lo"), col("p_hi")))).as("p"))
      .withColumn("sub", col("k").substr(col("p") + 1, col("slen")))
      .select(col("id_a"), col("k").as("k_a"), col("l_a"), col("l_b"),
        col("i"), col("sub"))
    val idxSided =
      if (nKeys * k <= broadcastIndexMaxRows) broadcast(idx)
      else idx.hint("SHUFFLE_HASH")
    val candLong = probe.join(idxSided, Seq("l_b", "i", "sub"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "k_a", "k_b")

    // SHORT pool (strings too short to segment, plus the boundary
    // overlap): banding works here because short lengths vary
    val short = keyed.filter(col("l") < minLong + maxDist)
    val banded = short.withColumn("b", floor(col("l") / k).cast("long"))
    val sa = banded.select(col("id").as("id_a"), col("k").as("k_a"),
      col("l").as("l_a"),
      explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
    val sb = banded.select(col("id").as("id_b"), col("k").as("k_b"),
      col("l").as("l_b"), col("b"))
    val candShort = sa.join(sb, "b")
      .filter(col("id_a") < col("id_b") &&
        abs(col("l_a") - col("l_b")) <= maxDist &&
        // keep only pairs not already covered by the long pool
        (col("l_a") < lit(minLong) || col("l_b") < lit(minLong)))
      .select("id_a", "id_b", "k_a", "k_b")

    verified(candLong.union(candShort))
  }

  /**
   * Blocklist removal: drop rows whose key matches any blocklist entry —
   * the standard "known-bad document" scrub (opt-outs, eval sets, spam
   * hashes). A LEFT ANTI join: the blocklist is usually small → Spark
   * broadcasts it and the corpus side never shuffles; a huge blocklist
   * degrades gracefully to a shuffled anti join on the same plan.
   */
  def blocklistAnti(df: DataFrame, blocklist: DataFrame,
                    keyCol: String, blockKeyCol: String): DataFrame =
    df.join(blocklist.select(col(blockKeyCol).as(keyCol)).distinct(),
      Seq(keyCol), "left_anti")

  /**
   * 64-bit SimHash over whitespace tokens: bit b of the signature is the
   * sign of Σ_tokens (±1 by bit b of xxhash64(token)). Token hashes are
   * materialized once per row; the 64 bit-counters run in one codegen
   * kernel pass ([[graft.expressions.SimHash64]]).
   */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              outCol: String = "simhash"): DataFrame =
    docs.select(col(idCol), col(textCol))
      .withColumn(outCol, graft.functions.Hashing.simhash64(
        transform(Text.tokens(col(textCol)), t => xxhash64(t))))

  /**
   * SimHash near-duplicate pairs with Hamming distance ≤ maxHamming:
   * blocked candidate keys (see [[simhashPairs]]), verified with
   * bit_count(xor). LOSSLESS for every maxHamming — the block count
   * adapts — but candidate-key width shrinks as maxHamming grows
   * (64·3/(maxHamming+3) bits), so keep maxHamming small (≤ 4) at
   * corpus scale; [[simhashParity]] certifies the ≤ 3 regime.
   */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame =
    simhashPairs(graft.CacheScope.persist(simhash(docs, idCol, textCol)),
      idCol, maxHamming)

  /**
   * Pair search over PRECOMPUTED signatures (`idCol`, `simhash`) —
   * factored out so the parity gate reuses one signature pass instead
   * of hashing the corpus twice.
   *
   * Candidate scheme (Manku, Jain & Das Sarma, WWW'07): split the 64
   * bits into m = maxHamming + 3 contiguous blocks; ≤ maxHamming
   * differing bits can touch at most maxHamming blocks, so every
   * qualifying pair agrees EXACTLY on some 3 of the m blocks. Key each
   * doc under all C(m,3) 3-block subsets (the subset's bits, masked out
   * of the signature) and equi-join on (subset, masked key). At the
   * default maxHamming=3 that is 20 keys of ~32 bits per doc — vs the
   * naive 4 × 16-bit bands, whose 65 536 buckets fill up as the corpus
   * grows and turn the self-join quadratic (Σ bucket² blowup measured
   * at the sf2 tier). 32-bit keys keep random collisions negligible to
   * ~10⁸ docs per partition key-space; candidates stay ≈ true pairs.
   */
  /** Manku-style blocked band rows for a 64-bit fingerprint frame:
   * (band, bh, id, simhash), one row per C(maxHamming+3, 3) block
   * combination — a pair within `maxHamming` differing bits must agree
   * on ≥ 3 of the maxHamming+3 blocks, so equality on SOME (band, bh)
   * is a lossless candidate filter. Exposed separately from
   * [[simhashPairs]] so a streaming consumer can PERSIST the band rows
   * as the probe index of everything kept so far (the NearDupStream
   * shape) instead of re-banding the archive per micro-batch. */
  def simhashBands(sh: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val m = maxHamming + 3 // blocks; any qualifying pair agrees on >= 3
    val base = 64 / m; val rem = 64 % m
    // block j occupies sizes(j) bits starting at starts(j)
    val sizes = Array.tabulate(m)(j => if (j < rem) base + 1 else base)
    val starts = sizes.scanLeft(0)(_ + _)
    def blockMask(j: Int): Long =
      if (sizes(j) == 64) -1L
      else ((1L << sizes(j)) - 1L) << starts(j)
    val combos = (0 until m).combinations(3).map(_.foldLeft(0L)((acc, j) =>
      acc | blockMask(j))).toArray
    sh.select(col(idCol).as("id"), col("simhash"),
        explode(array(combos.zipWithIndex.map { case (mask, c) =>
          struct(lit(c).as("band"),
            col("simhash").bitwiseAND(lit(mask)).as("bh"))
        }: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  def simhashPairs(sh: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val banded = simhashBands(sh, idCol, maxHamming)
    banded.select(col("band"), col("bh"), col("id").as("id_a"), col("simhash").as("sh_a"))
      .join(banded.select(col("band"), col("bh"), col("id").as("id_b"), col("simhash").as("sh_b")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Measured parity gate for [[simhashNearDup]]: the banded candidate
   * generation is provably lossless for maxHamming < #bands (pigeonhole)
   * and every candidate is verified with bit_count(xor) — this operator
   * MEASURES that claim instead of assuming it. It computes the pair set
   * both ways — banded equi-join vs brute-force all-pairs over the same
   * signatures — and emits ONE row of diff counts that an external
   * oracle can assert to be zero without knowing the engine's hash
   * function. The all-pairs side is quadratic BY DESIGN (it is the
   * ground truth; run at gate scale, never at production scale) —
   * `maxDocs` makes that posture a hard contract: the corpus is COUNTED
   * (one cheap scan) before the quadratic plan is built, and a corpus
   * past the ceiling is refused instead of silently planning n² pairs
   * (10M docs would be 10¹⁴ comparisons).
   */
  def simhashParity(docs: DataFrame, idCol: String, textCol: String,
                    maxHamming: Int = 3, maxDocs: Long = 1000000L): DataFrame = {
    // the zero-missed-pairs certificate only holds inside the pigeonhole
    // bound (4 bands → ≤ 3 differing bits cannot touch every band)
    require(maxHamming <= 3,
      s"simhashParity certifies losslessness only for maxHamming <= 3, got $maxHamming")
    val nDocs = docs.count()
    require(nDocs <= maxDocs,
      s"simhashParity's ground-truth side is all-pairs (quadratic): " +
        s"$nDocs docs exceed the maxDocs=$maxDocs certificate ceiling — " +
        "certify a deterministic subsample instead of the full corpus")
    val sh = graft.CacheScope.persist(simhash(docs, idCol, textCol))
    val banded = graft.CacheScope.persist(
      simhashPairs(sh, idCol, maxHamming).select("id_a", "id_b"))
    val a = sh.select(col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("simhash").as("sh_b"))
    val brute = graft.CacheScope.persist(
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)
        .select("id_a", "id_b"))
    val missed = brute.join(banded, Seq("id_a", "id_b"), "left_anti")
    val extra = banded.join(brute, Seq("id_a", "id_b"), "left_anti")
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
      .crossJoin(extra.agg(count(lit(1)).as("n_extra")))
  }

  /**
   * Scale-safe parity certificate: [[simhashParity]] with a
   * deterministic-subsample posture instead of a refusal ceiling. The
   * corpus is counted once; past `certifyCap` docs the quadratic
   * ground-truth side runs on the md5-lowest `certifyCap` ids (a
   * deterministic, engine-reproducible draw — the same convention as
   * [[graft.operators.Sampling.deterministic]]), never on the full
   * corpus. `n_docs` always reports the FULL corpus size, so the output
   * row is identical whether or not sampling kicked in — the oracle
   * contract `(count(*), 0, 0)` holds at every tier — while the wall
   * cost is bounded by certifyCap² regardless of corpus growth. The
   * production pair path ([[simhashNearDup]]) is linear and runs at any
   * scale; this gate is the statistical check that its candidate scheme
   * missed nothing, and a capped uniform subsample is exactly as
   * convincing at 10⁸ docs as the full corpus is at 10⁴.
   */
  def simhashParitySampled(docs: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3,
                           certifyCap: Long = 20000L): DataFrame = {
    val nDocs = docs.count()
    val gate =
      if (nDocs <= certifyCap) docs
      else docs.orderBy(md5(col(idCol).cast("string")), col(idCol))
        .limit(certifyCap.toInt)
    simhashParity(gate, idCol, textCol, maxHamming, maxDocs = certifyCap.max(nDocs))
      .withColumn("n_docs", lit(nDocs))
      .select("n_docs", "n_missed", "n_extra")
  }

  /**
   * Sequential-greedy resolution of verified near-dup pairs: process
   * ids ascending, drop an id iff a DIRECTLY verified pair links it to
   * an already-kept member — the fold a one-at-a-time arrival order
   * implies, and deliberately NOT connected-component collapse (in a
   * chain a–b–c with no a–c pair, greedy drops b and keeps c; CC would
   * drop both). Components are near-dup clusters, so they are tiny: the
   * per-component fold is a `flatMap` over collected member/pair lists —
   * distributed ACROSS components, sequential only inside one. Input
   * pairs must be id-ordered (`aCol` < `bCol`); returns the dropped ids
   * as a single `id` column. Shared by the streaming dedup services
   * (text MinHash and image dHash), whose intra-batch semantics must
   * agree with the archive-probe fold.
   */
  def sequentialGreedyDrop(pairs: DataFrame, aCol: String, bCol: String,
                           maxIter: Int = 10): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val comps = clusterPairs(pairs, aCol, bCol, maxIter)
    val members = comps.groupBy("cluster_id")
      .agg(sort_array(collect_list(col("id").cast("long"))).as("members"))
    val compPairs = pairs
      .join(comps.withColumnRenamed("id", aCol), aCol)
      .groupBy("cluster_id")
      .agg(collect_list(struct(col(aCol).cast("long").as("_1"),
        col(bCol).cast("long").as("_2"))).as("pairs"))
    members.join(compPairs, "cluster_id")
      .select(col("members"), col("pairs"))
      .as[(Seq[Long], Seq[(Long, Long)])]
      .flatMap { case (ms, ps) =>
        val pairSet = ps.toSet
        val kept = scala.collection.mutable.ArrayBuffer[Long]()
        val dropped = scala.collection.mutable.ArrayBuffer[Long]()
        ms.foreach { m =>
          if (kept.exists(k => pairSet((k, m)) || pairSet((m, k)))) dropped += m
          else kept += m
        }
        dropped
      }.toDF("id")
  }
}
