package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Round-11 additions: per-dimension rolling distinct, doc-partitioned
  * BM25 serving view, staged-sibling compact, crawl-frontier caps,
  * linear-classifier family (counts maintenance, NaN guard), URL
  * canonicalization, corpus-frequency boilerplate scrub, seeded
  * epoch-shuffle order, N-way KMV overlap matrix. */
@SlowTest
class Round11Spec extends SparkSpecBase {

  private def windowExecs(df: org.apache.spark.sql.DataFrame): Seq[WindowExec] = {
    // force AQE final plans so the collected nodes are the executed shape
    df.count()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case w: WindowExec => Seq(w)
        case _ => Nil
      }) ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    walk(df.queryExecution.executedPlan)
  }

  test("dim-keyed rollingDistinct: every window is partitioned (no global-ordering funnel)") {
    val df = SparkEntry.queries("q_rolling_distinct_dim")(spark, sfDir)
    val ws = windowExecs(df)
    assert(ws.nonEmpty, "expected a WindowExec in the rolling-distinct plan")
    ws.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"rolling-distinct window has NO partition keys — at scale every " +
          s"(dim, day) sketch row funnels through one task:\n$w")
    }
  }

  test("dim-keyed rollingDistinct matches per-dim exact distincts on a toy frame") {
    import spark.implicits._
    // two dims, overlapping users across days; window = 2 days
    val ev = Seq(
      ("a", "2024-01-01 10:00:00", 1L), ("a", "2024-01-01 11:00:00", 2L),
      ("a", "2024-01-02 10:00:00", 2L), ("a", "2024-01-03 10:00:00", 3L),
      ("b", "2024-01-01 10:00:00", 1L), ("b", "2024-01-03 10:00:00", 1L)
    ).toDF("event_type", "ts_s", "user_id")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val got = graft.operators.Quality.rollingDistinct(
      ev, "ts", "user_id", windowDays = 2, dims = Seq("event_type"))
      .select("event_type", "day", "n_days", "n_exact", "approx_ok")
      .as[(String, java.sql.Date, Long, Long, Boolean)]
      .collect().map(r => (r._1, r._2.toString, r._3, r._4, r._5)).toSet
    val want = Set(
      ("a", "2024-01-01", 1L, 2L, true), // users {1,2}
      ("a", "2024-01-02", 2L, 2L, true), // users {1,2} ∪ {2}
      ("a", "2024-01-03", 2L, 2L, true), // users {2} ∪ {3}
      ("b", "2024-01-01", 1L, 1L, true), // user {1}
      ("b", "2024-01-03", 1L, 1L, true)) // day 2 absent for b: frame = day 3 alone
    assert(got === want)
  }

  test("dims=Nil rollingDistinct output is unchanged by the dims extension") {
    val base = SparkEntry.queries("q_rolling_distinct")(spark, sfDir)
    assert(base.columns.toSeq === Seq("day", "n_days", "n_exact", "approx_ok"))
    assert(base.filter(!col("approx_ok")).count() === 0)
  }

  test("assembled BM25 view is doc-partitioned: scoring pays no index-sized exchange") {
    // build the SharedStage view cold (the real q_bm25 path), then
    // measure a warm batch: its (query_id, id) aggregation must be
    // satisfied by the view's hash(id) partitioning, no index-sized
    // exchange
    SharedStage.clear()
    CacheScope.scoped { SparkEntry.queries("q_bm25")(spark, sfDir).count() }
    val scored = SparkEntry.queries("q_bm25")(spark, sfDir)
    val bytes = measure(assert(scored.count() > 0))._2.shuffleWriteBytes
    // budget: rank-pruned window rows only — far below the matched-
    // postings volume (~100 KB at sf0.001) a token-partitioned view
    // would re-shuffle per batch
    assert(bytes < (48L << 10),
      s"warm BM25 scoring shuffled $bytes bytes — the assembled view " +
        "lost its doc partitioning and the per-batch aggregation is " +
        "re-shuffling matched postings")
  }

  test("compact: staged-sibling swap, filter-scoped; untouched partitions keep files byte-for-byte") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact11").toFile.getPath
    val rows = (1 to 100).map(i =>
      (i.toLong, "2024", "01", if (i % 2 == 0) "01" else "02"))
      .toDF("id", "year", "month", "day")
    for (_ <- 1 to 3)
      rows.repartition(4).write.mode("append")
        .partitionBy("year", "month", "day").parquet(dir)
    def filesIn(d: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(new java.io.File(d).toPath).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString.stripPrefix(d) -> p.toFile.length()).toMap
    }
    val before = filesIn(dir)
    assert(before.count(_._1.contains("day=02")) >= 3, "fixture not fragmented")
    graft.sources.LakeWriter.compact(spark, dir,
      partitionFilter = Some(col("day") === "01"))
    val after = filesIn(dir)
    // day=02 untouched byte-for-byte; day=01 compacted to one file
    assert(after.filter(_._1.contains("day=02")) ===
      before.filter(_._1.contains("day=02")))
    assert(after.count(_._1.contains("day=01")) === 1)
    // no staged or old siblings left behind
    assert(!new java.io.File(dir + ".__compact").exists())
    import scala.jdk.CollectionConverters._
    assert(!java.nio.file.Files.walk(new java.io.File(dir).toPath)
      .iterator().asScala.exists(_.getFileName.toString.startsWith(".__old_")))
    // rows intact on both sides: compaction merges FILES, never rows
    val got = graft.sources.LakeWriter.read(spark, dir)
    assert(got.filter(col("day") === "01").count() === 150L)
    assert(got.filter(col("day") === "02").count() === 150L)
  }

  test("capPerStratumBy: per-stratum caps from a frame; unbudgeted strata dropped") {
    import spark.implicits._
    val rows = (1 to 10).map(i => (i.toLong, if (i <= 6) "a" else "b"))
      .toDF("k", "dom")
    val caps = Seq(("a", 2L)).toDF("dom", "cap") // b unbudgeted
    val kept = graft.operators.Sampling.capPerStratumBy(rows, "k", "dom", caps)
    assert(kept.filter(col("dom") === "a").count() === 2L)
    assert(kept.filter(col("dom") === "b").count() === 0L)
    // determinism: same caps → exactly the same keys survive
    val k1 = kept.select("k").as[Long].collect().sorted.toSeq
    val k2 = graft.operators.Sampling.capPerStratumBy(rows, "k", "dom", caps)
      .select("k").as[Long].collect().sorted.toSeq
    assert(k1 === k2)
  }

  test("domainDedupProfile: cluster-aware dup rate; exact-hash fallback without clusters") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z", "d1"), (2L, "x y z", "d1"), (3L, "p q r", "d1"),
      (4L, "u v w", "d2")).toDF("doc_id", "text", "source")
    // exact-content mode: docs 1,2 collapse
    val exact = graft.operators.Dedup.domainDedupProfile(
      docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(exact("d1") === ((3L, 2L, 0.333)))
    assert(exact("d2") === ((1L, 1L, 0.0)))
    // cluster-aware mode: label 1 & 3 together instead
    val cl = Seq((1L, 1L), (3L, 1L)).toDF("id", "cluster_id")
    val near = graft.operators.Dedup.domainDedupProfile(
      docs, "doc_id", "text", "source", clusters = Some(cl))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(near("d1") === ((3L, 2L, 0.333))) // {1,3} cluster + {2}
  }

  test("linear classifier: NB log-odds separate token-disjoint classes; inference is sign-correct") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good fine great good", true), (2L, "good great nice", true),
      (3L, "bad awful poor bad", false), (4L, "awful poor dire", false),
      (5L, "good nice fine", true), (6L, "bad dire poor", false)
    ).toDF("doc_id", "text", "is_pos")
    val model = graft.operators.Text.linearClassifierTrain(
      docs, "text", col("is_pos"), buckets = 256)
    assert(model.count() === 1L)
    assert(model.head().getSeq[Double](0).length === 256)
    val scored = graft.operators.Text.linearClassifierScore(
      docs, model, "doc_id", "text", buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    (1L to 6L).foreach { id =>
      assert(scored(id) === (id == 1L || id == 2L || id == 5L),
        s"doc $id misclassified")
    }
  }

  test("classifierCounts maintenance: applyChanges(counts@v1, feed) equals counts(state@v2)") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "good fine great", true), (2L, "bad awful poor", false),
      (3L, "good nice", true), (4L, "poor dire", false))
      .toDF("doc_id", "text", "is_pos")
    // v1 -> v2: doc 2 deleted, doc 3 updated (text AND label), doc 5 inserted
    val feed = Seq(
      (2L, "bad awful poor", false, "delete"),
      (3L, "good nice", true, "update_preimage"),
      (3L, "awful nice", false, "update_postimage"),
      (5L, "great fine words", true, "insert"))
      .toDF("doc_id", "text", "is_pos", "change_type")
    val v2 = Seq(
      (1L, "good fine great", true), (3L, "awful nice", false),
      (4L, "poor dire", false), (5L, "great fine words", true))
      .toDF("doc_id", "text", "is_pos")
    val B = 128
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val maintained = graft.operators.Text.classifierCountsApplyChanges(
      graft.operators.Text.classifierCounts(v1, "text", col("is_pos"), B),
      feed, "text", col("is_pos"), B)
    val rebuilt = graft.operators.Text.classifierCounts(v2, "text", col("is_pos"), B)
    assert(asSet(maintained) === asSet(rebuilt),
      "maintained count table diverged from a full rebuild of state@v2")
    // and the models assembled from each are identical
    val mA = graft.operators.Text.classifierAssemble(maintained, B).head()
    val mB = graft.operators.Text.classifierAssemble(rebuilt, B).head()
    assert(mA.getSeq[Double](0) === mB.getSeq[Double](0))
    assert(mA.getDouble(1) === mB.getDouble(1))
  }

  test("mmrRerank: all-NaN relevance fails loudly; empty-vector candidates compete on relevance") {
    import spark.implicits._
    val nanPool = Seq((1L, 10L, Double.NaN, Seq(1.0, 0.0)),
      (1L, 11L, Double.NaN, Seq(0.0, 1.0)))
      .toDF("query_id", "cand_id", "rel", "vec")
    val e = intercept[Exception] {
      graft.operators.Similarity.mmrRerank(
        nanPool, "query_id", "cand_id", "rel", "vec", k = 2).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("no scorable") ||
        Option(e.getCause).exists(_.getMessage.contains("no scorable"))),
      s"want the NaN-relevance require, got: $e")
    // a candidate with NO geometry (PQ-index miss fallback) ranks by
    // relevance alone — it must not crash or be dropped
    val pool = Seq((1L, 10L, 1.0, Seq(1.0, 0.0)),
      (1L, 11L, 0.9, Seq.empty[Double]),
      (1L, 12L, 0.8, Seq(1.0, 0.0)))
      .toDF("query_id", "cand_id", "rel", "vec")
    val ranked = graft.operators.Similarity.mmrRerank(
      pool, "query_id", "cand_id", "rel", "vec", k = 3)
      .orderBy("rank").select("cand_id").as[Long].collect().toSeq
    // 10 first (top rel); 11 second (rel 0.9, zero similarity penalty)
    // beats 12 (rel 0.8 minus its cos=1 penalty to 10)
    assert(ranked === Seq(10L, 11L, 12L))
  }
  test("boilerplateScrub drops EVERY occurrence of corpus-frequent spans; rare repeats survive") {
    import spark.implicits._
    // "x y z" appears in 3 distinct docs (>= maxDocFreq 3): all copies die,
    // INCLUDING the first (the contrast with spanDedup's first-wins rule);
    // "p q r" repeats twice WITHIN doc 4 only (doc-frequency 1): survives both
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "d e f x y z"),
      (3L, "x y z g h i"),
      (4L, "p q r p q r"),
      (5L, "x y z")
    ).toDF("doc_id", "text")
    val got = graft.operators.Text.boilerplateScrub(docs, "doc_id", "text",
        spanWords = 3, maxDocFreq = 3)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> ((1L, "a b c")),
      2L -> ((1L, "d e f")),
      3L -> ((1L, "g h i")),
      4L -> ((2L, "p q r p q r")),
      5L -> ((0L, ""))))   // scrubbed to nothing, row still visible
  }

  test("epochOrder: full permutation per epoch, balanced shards, epochs differ, replay identical") {
    import spark.implicits._
    val df = (1L to 100L).toDF("id")
    val e1 = graft.operators.Sampling.epochOrder(df, "id", epoch = 1, nShards = 8)
    assert(e1.select("rank").as[Long].collect().sorted.toSeq === (1L to 100L),
      "ranks must be a permutation of 1..n")
    val sizes = e1.groupBy("shard").count().select("count").as[Long].collect()
    assert(sizes.length === 8 && sizes.max - sizes.min <= 1,
      s"round-robin shards must be balanced: ${sizes.toSeq}")
    val o1 = e1.orderBy("rank").select("id").as[Long].collect().toSeq
    val o2 = graft.operators.Sampling.epochOrder(df, "id", epoch = 2, nShards = 8)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(o1 !== o2, "different epochs must permute differently")
    assert(o1 !== (1L to 100L).toSeq, "the order must not be the input order")
    val o1b = graft.operators.Sampling.epochOrder(df, "id", epoch = 1, nShards = 8)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(o1 === o1b, "an epoch's order is deterministic across reruns")
  }

  test("overlapMatrix: exact on under-full sketches, estimator in tolerance past k, all pairs") {
    import spark.implicits._
    // A == B (jaccard 1), C disjoint — sketches under-full at k=256 → exact
    val small = (1 to 50).flatMap(i =>
      Seq(("A", s"e$i"), ("B", s"e$i"), ("C", s"x$i"))).toDF("corpus", "elem")
    val m = graft.operators.Quality.overlapMatrix(small, "corpus", "elem", k = 256)
      .collect().map(r => ((r.getAs[String]("corpus_a"), r.getAs[String]("corpus_b")),
        (r.getAs[Long]("union_est"), r.getAs[Long]("inter_est"),
          r.getAs[Double]("jac_raw")))).toMap
    assert(m.keySet === Set(("A", "B"), ("A", "C"), ("B", "C")),
      "every corpus pair appears exactly once, lexicographically oriented")
    assert(m(("A", "B")) === ((50L, 50L, 1.0)))
    assert(m(("A", "C"))._1 === 100L && m(("A", "C"))._3 === 0.0)
    // estimator path: 5000-element corpora, 2500 shared, k=256 well past full
    val big = ((1 to 5000).map(i => ("P", s"p$i")) ++
      (2501 to 7500).map(i => ("Q", s"p$i"))).toDF("corpus", "elem")
    val est = graft.operators.Quality.overlapMatrix(big, "corpus", "elem", k = 256)
      .collect().head
    val union = est.getAs[Long]("union_est").toDouble
    val inter = est.getAs[Long]("inter_est").toDouble
    assert(math.abs(union - 7500) <= 7500 * 0.15, s"union_est off: $union vs 7500")
    assert(math.abs(inter - 2500) <= 2500 * 0.30, s"inter_est off: $inter vs 2500")
  }

  test("groupedAuc: separation=1, ties average, inversions count, one-class is NULL") {
    import spark.implicits._
    val rows = Seq(
      // group "sep": positives strictly above negatives → AUC 1
      ("sep", 0.9, true), ("sep", 0.8, true), ("sep", 0.2, false), ("sep", 0.1, false),
      // group "tie": pos and neg share score 0.5 → that pair contributes 1/2;
      // ranks asc: 0.1(neg)=1, 0.5(pos,neg)=avg 2.5, 0.9(pos)=4
      // R+ = 2.5 + 4 = 6.5 → AUC = (6.5 - 3) / (2*2) = 0.875
      ("tie", 0.9, true), ("tie", 0.5, true), ("tie", 0.5, false), ("tie", 0.1, false),
      // group "inv": one inversion among 2x2 → AUC = 3/4
      ("inv", 0.9, true), ("inv", 0.3, true), ("inv", 0.4, false), ("inv", 0.1, false),
      // group "one": no negatives → undefined, NULL
      ("one", 0.9, true), ("one", 0.8, true)
    ).toDF("g", "score", "label")
    val got = graft.operators.Analytics.groupedAuc(rows, "score", "label", Seq("g"))
      .collect().map(r => r.getAs[String]("g") ->
        Option(r.getAs[java.lang.Double]("auc")).map(_.toDouble)).toMap
    assert(got("sep") === Some(1.0))
    assert(got("tie") === Some(0.875))
    assert(got("inv") === Some(0.75))
    assert(got("one") === None)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Analytics.groupedAuc(rows, "score", "label", Nil)
    }
    assert(e.getMessage.contains("group keys"))
  }

  test("calibrationBins: known bins, exact pos rates, constant-score degenerate") {
    import spark.implicits._
    // scores 0.0 .. 0.9 → si 0..900, lo=0 hi=900, width formula
    // bin = floor(si * 10 / 901): 0.0-0.9 land in bins 0,1,2,3,4,5,6,7,8,9
    val rows = (0 until 10).map(i => (i / 1000.0 * 100, i >= 5))
      .toDF("score", "label")
    val got = graft.operators.Analytics.calibrationBins(rows, "score", "label", 10)
      .collect().map(r => r.getAs[Int]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_pos")))).toMap
    assert(got.size === 10 && got.values.forall(_._1 == 1L))
    assert((0 to 4).forall(b => got(b)._2 == 0L) &&
      (5 to 9).forall(b => got(b)._2 == 1L))
    // constant score: everything in bin 0 by convention
    val const = Seq((0.5, true), (0.5, false)).toDF("score", "label")
    val g2 = graft.operators.Analytics.calibrationBins(const, "score", "label", 10)
      .collect()
    assert(g2.length === 1 && g2.head.getAs[Int]("bin") === 0 &&
      g2.head.getAs[Long]("n") === 2L)
  }

  test("retrievalEval: hit counts, first-relevant reciprocal rank, zero-hit visibility") {
    import spark.implicits._
    val results = Seq( // (query, doc, rank): q1 top-3, q2 top-3, q3 top-2
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      (3L, 30L, 1), (3L, 31L, 2)
    ).toDF("query_id", "doc_id", "rank")
    val truth = Seq( // q1: rel {11,12,99} → 2 hits, first at rank 2
      (1L, 11L), (1L, 12L), (1L, 99L),
      (2L, 21L),            // q2: 1 hit at rank 2 → rr 0.5, recall 1
      (3L, 77L), (3L, 88L)) // q3: nothing retrieved → zeros, row present
      .toDF("query_id", "rel_id")
    val got = graft.operators.Analytics.retrievalEval(results, truth)
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_rel"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("recall"), r.getAs[Double]("rr")))).toMap
    assert(got(1L) === ((3L, 2L, 2.0 / 3.0, 0.5)))
    assert(got(2L) === ((1L, 1L, 1.0, 0.5)))
    assert(got(3L) === ((2L, 0L, 0.0, 0.0)))
  }

  test("editDistancePairs: shuffle-hash fallback past the broadcast cap matches the broadcast path") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("head", substring(col("text"), 1, 30))
    def run(cap: Long) = CacheScope.scoped {
      graft.operators.Dedup.editDistancePairs(
        docs, "doc_id", "head", maxDist = 3, broadcastIndexMaxRows = cap)
        .as[(Long, Long, Int)].collect().toSet
    }
    val viaBroadcast = run(Long.MaxValue)
    val viaShuffle = run(0L) // force the cluster-scale join side
    assert(viaShuffle === viaBroadcast)
    assert(viaBroadcast.nonEmpty, "fixture produced no near-dup pairs")
    // the fallback's SEGMENT join must be a shuffled hash join (the
    // short-pool banding join may still broadcast — it is tiny)
    val shuffled = graft.operators.Dedup.editDistancePairs(
      docs, "doc_id", "head", maxDist = 3, broadcastIndexMaxRows = 0L)
    shuffled.count()
    val p = shuffled.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"expected the segment join to be a shuffled hash join:\n${p.take(2000)}")
  }

  test("canonicalizeUrl: fragment/tracking/port/slash rewrites on edge forms") {
    import spark.implicits._
    val cases = Seq(
      ("https://a.com:443/p/1?utm_source=x&id=2", "https://a.com/p/1?id=2"),
      ("https://a.com/p/1?id=2&utm_campaign=y",   "https://a.com/p/1?id=2"),
      ("http://a.com:80/x/",                      "http://a.com/x"),
      ("https://a.com:8443/x",                    "https://a.com:8443/x"), // non-default port kept
      ("https://a.com/x#sec-2",                   "https://a.com/x"),
      ("https://a.com/?fbclid=abc",               "https://a.com"),
      ("https://a.com/x?gclid=1&utm_a=2",         "https://a.com/x"),
      ("https://a.com/x?keep=1&gclid=2&keep2=3",  "https://a.com/x?keep=1&keep2=3"),
      ("https://a.com:443",                       "https://a.com"))
    val got = cases.map(_._1).toDF("u")
      .select(graft.operators.Text.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    cases.map(_._2).zip(got).zip(cases.map(_._1)).foreach { case ((want, g), in) =>
      assert(g === want, s"canonicalizeUrl('$in')")
    }
  }
}
