package graft

/**
 * Numeric shuffle-volume locks for the heaviest query plans. PlanSpec
 * locks plan SHAPE (exchange counts, broadcast sides, pushdown);
 * these lock VOLUME: a join that silently starts shuffling 10× its
 * input, or a pre-aggregation that stops combining map-side, passes
 * every shape assertion and still dies at 100 TB. Budgets are ~4-6×
 * the measured shuffle-write bytes at sf0.001 — far above run-to-run
 * wobble (bytes at a fixed SF are near-deterministic modulo
 * compression), far below an order-of-magnitude plan regression.
 */
@SlowTest
class ShuffleBudgetSpec extends SparkSpecBase {

  // measured at sf0.001 (local bench, round 7); budget = measured × ~4-6
  private val budgets: Seq[(String, Long)] = Seq(
    "q_dedup_cluster" -> (4L << 20), // 1.03 MB measured: iterative CC edge rounds
    "q_dedup_jaccard" -> (4L << 20), // 1.01 MB: PPJoin prefix candidates
    "q_containment" -> (4L << 20),   // 0.87 MB: inverted-index candidates
    "q_dup_spans" -> (4L << 20),     // 0.83 MB: span fingerprint join
    "q_kmeans" -> (2L << 20),        // 0.47 MB: per-round assignment aggs
    "q_tfidf" -> (2L << 20),         // 0.46 MB: token-keyed df join
    "q_dedup_minhash" -> (2L << 20), // 0.46 MB: band/bucket candidate join
    "q_semdedup" -> (1L << 20),      // 0.23 MB: cell-capped cosine pairs
    "q_table_diff" -> (1L << 20),    // 0.19 MB: full-outer keyed diff
    "q_pagerank" -> (512L << 10),    // 74 kB: per-round contribution shuffle
    "q_od_matrix" -> (256L << 10),   // 33 kB: min_by/max_by rollup
    "q_encounters" -> (256L << 10),  // 19 kB: band/bucket self-join
    "q_monthly" -> (256L << 10),     // 18 kB: active-scoped rebuild
    // round 8: the three heaviest previously-unlocked shufflers
    "q_suffix_spans" -> (10L << 20), // 2.81 MB: prefix-doubling rounds (the
                                     // single heaviest shuffler — O(N·log
                                     // minLen) re-shuffles of (id,pos,rank);
                                     // 7.74 MB as an (id,pos) self-join,
                                     // 4.42 with the lead()-window successor,
                                     // 4.00 with flat two-scalar ranks,
                                     // 2.81 with ranks densified to ONE
                                     // packed (id<<bits|pos) long)
    "q_dsir" -> (32L << 10),         // 5.3 kB: hashed-feature model agg
    "q_ann_pq" -> (4L << 20),        // 0.80 MB: codebook training passes
    // round 9: the heaviest entries still unlocked. _shared_stage_build
    // needs no row of its own — q_dedup_cluster above measures COLD
    // (SharedStage cleared), so its budget already contains the build.
    "q_ann_ivfpq" -> (3L << 20),     // 0.62 MB: coarse assign + residual
                                     // Lloyd + encode + probed-cell ADC
    "q_triplets_ann" -> (2L << 20),  // 0.45 MB: IVF probe + margin windows
    // round 9: the retrieval stack
    "q_bm25" -> (2L << 20),          // 0.43 MB: token-keyed tf/df joins
    "q_rrf_hybrid" -> (2L << 20),    // 0.43 MB: = BM25 branch + bounded lists
    "q_maxsim" -> (256L << 10),      // 39 kB: two partial-agg'd reductions
    "q_sketch_rollup" -> (64L << 10),// 0.8 kB: per-day sketch rows only
    "q_lm_cross" -> (64L << 10),     // 59 B: model broadcast, per-doc agg
    "q_mixture_temp" -> (64L << 10), // 0.7 kB: n-strata rows end to end
    "q_quantile_rollup" -> (64L << 10),// 0.7 kB: KLL blobs per (day, dim)
                                     // + exact-gate percentile rows only
    "q_length_batches" -> (64L << 10), // 6.9 kB: one per-shard window
                                     // shuffle of (shard, id, len) + rollup
    "q_contamination_bloom" -> (256L << 10), // 59 B at sf0.001: the bloom
                                     // drops ~every clean shingle map-side;
                                     // headroom for denser probe overlap
    "q_patchify" -> (64L << 10),     // map-only: decode + tile in the
                                     // scan partition, no exchange at all
    "q_corpus_overlap" -> (4L << 20), // 0.70 MB: the exact-side distinct
                                     // shuffle + intersection join IS the
                                     // gate harness; the sketch side moves
                                     // ≤ k·partitions hashes
    // round 10
    "q_ivm" -> (128L << 10),         // 28 kB: state diff FO join + delta agg
    "q_attribution" -> (128L << 10), // 26 kB: one user-keyed window pass
    "q_trgm_search" -> (128L << 10), // 31 kB: pattern-bucket postings only
    "q_trgm_multi" -> (768L << 10),  // 152 kB: batch posting join + coverage
    "q_ann_binary" -> (64L << 10),   // 59 B: WindowGroupLimit keeps the
                                     // corpus×query hamming rows map-side
    "q_expectations" -> (64L << 10), // 301 B: one 1-row aggregate
    "q_normalize_text" -> (64L << 10), // map-only normalize + md5
    "q_cdc_chunks" -> (64L << 10),   // map-only kernel + posexplode
    "q_seasonal" -> (64L << 10),     // 13 kB: one composite-key window
    "q_attribution_first" -> (128L << 10), // 23 kB: one range-frame window
    "q_rolling_distinct" -> (64L << 10), // 0.4 kB: day-sketch rows only
    "q_rolling_distinct_dim" -> (128L << 10), // (dim, day)-sketch rows only
    // round 11
    "q_ft_classify" -> (256L << 10),  // bucket-keyed count rows + 1-row
                                      // model; inference is map-only
    "q_ft_eval" -> (512L << 10),      // = classify + the label join +
                                      // a 4-row rollup
    "q_url_canon" -> (64L << 10),     // map-only rewrites + one canon
                                      // rollup of domain-sized groups
    "q_domain_profile" -> (4L << 20), // cold = the full pair-join + CC
                                      // build (shared-stage cleared), same
                                      // ceiling as q_dedup_cluster
    "q_domain_caps" -> (4L << 20),    // same build + domain window rows
    "q_boilerplate" -> (64L << 10),   // 59 B at sf0.001: AQE broadcasts
                                      // the frequent-span set; reassembly
                                      // combines map-side
    "q_epoch_order" -> (512L << 10),  // 115 kB: the range-sort exchange IS
                                      // the operator (every row moves once)
    "q_overlap_matrix" -> (64L << 10),// 448 B: ≤ k·corpora sketch hashes,
                                      // raw rows never shuffle
    // round 11b: the two rewritten pair generators
    "q_dedup_simhash_pairs" -> (64L << 10), // 3 kB: blocked C(m,3)
                                      // candidate join + invariant aggs
    "q_editdist" -> (64L << 10),      // index side broadcasts, the
                                      // exploded probe never shuffles;
                                      // only verified pairs move, plus the
                                      // r12 md5 top-k subsample exchange
                                      // carrying (id, 30-char head) rows —
                                      // bounded by the 10k cap, not the corpus
    // round 11b: the entity-resolution family + changepoint + decontam
    "q_er_candidates" -> (16L << 10), // 1.9 kB: block-keyed self-join of
                                      // slimmed records; sizes partial-agg'd
    "q_er_matches" -> (16L << 10),    // 1.9 kB: = candidates; scoring is
                                      // map-only after the id joins
    "q_er_entities" -> (32L << 10),   // 4.9 kB: + CC label rounds over the
                                      // tiny match-pair edge set
    "q_er_snm" -> (32L << 10),        // 6.5 kB: the global range sort + one
                                      // bucket-keyed neighborhood join
    "q_changepoint" -> (128L << 10),  // 18 kB: ONE user-keyed window pass
                                      // (both frames, both counts)
    "q_er_em" -> (32L << 10),         // two 1-row aggregations over the
                                      // blocked candidates; posterior is
                                      // map-side
    "q_target_encode" -> (64L << 10), // partial-agg'd category sums +
                                      // broadcast join; encode map-side
    "q_priority_sample" -> (64L << 10), // one TakeOrdered (k+1)-row merge
    "q_ppr" -> (512L << 10),          // per-round contribution shuffle,
                                      // the q_pagerank ceiling
    "q_er_agreement" -> (128L << 10), // two match pipelines + CC label
                                      // rounds + the contingency groupBy
    "q_bitext" -> (64L << 10),        // b broadcasts; only per-source
                                      // windows over the slim pair rows
    "q_kcenter" -> (64L << 10),       // k rounds of broadcast + 1-row
                                      // TakeOrdered; base never re-shuffles
    "q_decontam_semantic" -> (8L << 10), // 1.0 kB: bench broadcasts; only
                                      // per-id aggregated hits shuffle
    // round 11c: the statistics family
    "q_survival" -> (8L << 10),       // 1.2 kB: per-user lifetime groupBy
                                      // + cohort-partitioned distinct-
                                      // duration windows
    "q_spearman" -> (16L << 10),      // 2.2 kB: 3 distinct-value rank
                                      // frames joined back + 1-row corr
    "q_assoc" -> (4L << 10),          // 0.7 kB: contingency groupBy;
                                      // margins broadcast
    "q_gini" -> (4L << 10),           // 0.3 kB: activity groupBy + one
                                      // group-partitioned rank window
    "q_powerlaw" -> (4L << 10),       // 0.4 kB: degree groupBy + 1-row MLE
    "q_clustering_coef" -> (8L << 10),// 1.1 kB: 97-node wedge joins +
                                      // per-node triangle counts
    "q_benford" -> (8L << 10),        // 1.8 kB: (group, digit) groupBy;
                                      // 9-digit frame broadcast
    "q_kanon" -> (4L << 10),          // 46 B: QI-class groupBy + 1-row
    "q_kn_bigram" -> (768L << 10),    // pair/model-table groupBys + the
                                      // pair-model joins (the q_bigram_lp
                                      // shape + two margin tables)
    "q_mannwhitney" -> (8L << 10),    // distinct-value counts + 1-row
    "q_jsd" -> (4L << 10),            // category counts + 1-row rollup
    "q_theilsen" -> (64L << 10),      // daily-mean groupBy + the bounded
                                      // pair join + per-group median
    "q_walks" -> (64L << 10),         // walkLen frontier joins + argmin
                                      // groupBys over the 97-node graph
    "q_seasonal_decompose" -> (16L << 10), // daily groupBy + one group
                                      // window + phase-mean join-back
    "q_ttest" -> (4L << 10),          // one 1-row moments aggregate
    "q_huber" -> (512L << 10),        // two user-partitioned window
                                      // passes over the event table
    "q_cuped" -> (64L << 10),         // per-unit groupBy + 1-row theta
                                      // broadcast + variant rollup
    "q_did" -> (4L << 10),            // one 2x2-cell aggregate
    "q_negsample" -> (16L << 10),     // distinct-pair groupBy; the slot
                                      // table broadcasts into the
                                      // range join
    "q_feat_prop" -> (512L << 10),    // one edge join + (node, dim)
                                      // cell means + dim-bounded rebuild
    // round 12
    "q_editdist_pairs" -> (64L << 10),// full-input PassJoin + three 1-row
                                      // invariant aggregates
    "q_image_neardup" -> (256L << 10),// banded C(m,3) Hamming candidate
                                      // join over (id, hash) rows only —
                                      // pixels never shuffle
    "q_lang_id_n" -> (8L << 10),      // map-only profile scoring; the
                                      // coalesce(1) write is the only move
    // round 13
    "q_louvain" -> (512L << 10),      // 67 kB: 16 label-frame rounds +
                                      // coarsen — every frame node- or
                                      // community-sized, never edges×labels
    "q_ann_opq" -> (4L << 20),        // the q_ann_pq budget: rotation is
                                      // map-only (literal dot products),
                                      // codebook passes are identical
    "q_dedup_wminhash" -> (2L << 20), // the q_dedup_minhash budget: same
                                      // band/bucket join with (h,tf)
                                      // multisets instead of sets
    "q_refine" -> (256L << 10),       // intra-edge filter + log-round CC
                                      // over a 97-node fixture graph
    "q_lang_mixture" -> (8L << 10),   // map-only scoring + n-bucket rollup
    "q_curate_scored" -> (512L << 10),// seed-trained bucket counts + the
                                      // quality join; inference map-only
    // round 12, second wave (measured at sf0.001)
    "q_decay_agg" -> (4L << 10),      // 433 B: one partial-agg'd groupBy —
                                      // weights computed map-side
    "q_ppl_buckets" -> (80L << 10),   // 16.1 kB: token-df join + per-lang
                                      // ntile over rounded scores
    "q_bfs_hops" -> (16L << 10),      // 3.5 kB: per-ring frontier joins,
                                      // node-sized frames only
    "q_dist_profile" -> (8L << 10),   // 0 B measured: TakeOrdered sample +
                                      // broadcast self-join — zero exchange
    "q_audio_energy" -> (4L << 10),   // 59 B: render + frame map-only;
                                      // samples never shuffle
    "q_audio_segments" -> (64L << 10),// 12.6 kB: per-clip islands window
                                      // + run rollup on frame rows only
    "q_closeness" -> (16L << 10),     // 3.1 kB: origin-tagged frontier
                                      // rings, node-sized frames
    "q_rbo" -> (8L << 10),            // 982 B: two broadcast top-k scans;
                                      // only (query, rank) rows shuffle
    "q_ft_ece" -> (128L << 10),       // 22 kB: classifier train bucket
                                      // counts + the nBins-row rollup
    "q_mannkendall" -> (80L << 10),   // 15 kB: daily rollup + gated
                                      // per-group pair join + 3 keyed aggs
    "q_modularity" -> (32L << 10),    // 5.6 kB: canonical edge distinct +
                                      // degree/intra rollups, node-sized
    // round 14
    "q_leiden" -> (1L << 20),         // two trimmed move phases + two CC
                                      // refinements + refined aggregation —
                                      // every frame node- or edge-sized on
                                      // the 97-node fixture
    "q_single_link" -> (512L << 10),  // Borůvka component rounds + one CC
                                      // cut + size rollup, node/edge-sized
    "q_dbscan" -> (2L << 20),         // fixed 200-sample broadcast pair
                                      // frame + ONE direct clusterPairs CC
                                      // over {core pairs ≤ eps²} (flat cut
                                      // ≡ MST cut — no forest built) —
                                      // constant at every tier by contract
    "q_kmeanspp" -> (256L << 10),     // map-side literal-candidate rounds;
                                      // only the integer q agg and the
                                      // (id, vote) weight pass shuffle
    "q_dedup_wdelta" -> (2L << 20),   // the q_dedup_wminhash band/bucket
                                      // budget: delta banding + index probe
                                      // + exact-verify joins
    "q_dendrogram" -> (1L << 20),     // one forest + three node-sized cuts
  )

  budgets.foreach { case (name, budget) =>
    test(s"$name shuffles within its byte budget at sf0.001") {
      val fn = SparkEntry.queries(name)
      // shared stages (pair joins, cluster labels) make later family
      // members measure ~0 — clear so every query pays its OWN full cost
      // and the budget is order-independent. clearCache() additionally
      // drops any cache-manager entry LEAKED by an earlier suite's
      // plan-build (a leaked persist of an identical sub-plan swaps a
      // parquet scan for an InMemoryRelation materialization and the
      // measured volume stops being this query's own plan)
      SharedStage.clear()
      spark.catalog.clearCache()
      val got = measure {
        CacheScope.scoped { fn(spark, sfDir).count() }
      }._2.shuffleWriteBytes
      info(s"$name measured $got shuffle bytes")
      assert(got <= budget,
        s"$name shuffled $got bytes at sf0.001, budget $budget — the plan " +
          "regressed in VOLUME (shape locks in PlanSpec may still pass); " +
          "explain() the query and find the new exchange or lost combine")
    }
  }
}
