package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Round-8 gates: IVF-PQ composition (the IVFADC index shape) measured on
 * structured corpora, the ANN-prefiltered triplet miner's agreement with
 * the exhaustive one, and the anchors-broadcast contract enforcement.
 */
@SlowTest
class Round8Spec extends SparkSpecBase {
  import spark.implicits._

  // 10 tight separated blobs of 40 vectors in 16-d (the pqTopK fixture):
  // within-blob order is beyond PQ resolution by design; the structural
  // claim is own-blob retrieval.
  private def blobVec(blob: Int, i: Int): Array[Double] =
    Array.tabulate(16)(j => (((i * 13 + j * 7) % 11) - 5) * 0.03 +
      (if (j == blob % 16) 10.0 else 1.0))
  private lazy val blobRows = (for { b <- 0 until 10; i <- 0 until 40 }
    yield ((b * 100 + i).toLong, blobVec(b, i))).toDF("vec_id", "embedding")

  // --- IVF-PQ composition ---------------------------------------------------

  test("ivfPqTopK: own-blob retrieval, planted twin, nProbe monotone, deterministic") {
    val queries = blobRows.filter(col("vec_id") % 100 === 7 && col("vec_id") < 500)
    val r = Similarity.ivfPqTopK(blobRows, queries, "vec_id", "embedding",
      k = 5, dim = 16, nCells = 8, nProbe = 4, m = 4, ks = 16, iters = 3)
    val wrongBlob = r.filter(floor(col("cand_id") / 100) =!=
      floor(col("query_id") / 100)).count()
    assert(wrongBlob === 0L, s"$wrongBlob retrieved neighbors from a foreign blob")
    assert(r.count() === 25L) // 5 queries x full top-5

    // planted near-twin in a RANDOM corpus: the twin lands in the same
    // coarse cell and shares every residual code, so ADC puts it at the top
    val rng = new scala.util.Random(42)
    def rv() = Array.fill(64)(rng.nextDouble() * 2 - 1)
    val corpus = (0 until 500).map(i => (i.toLong, rv())).toDF("vec_id", "embedding")
    val twins = (0 until 10).map(i => (1000L + i * 37, (i * 37).toLong))
    val srcVecs = corpus.filter(col("vec_id").isin(twins.map(_._2): _*))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1).toArray).toMap
    val qdf = twins.map { case (qid, src) =>
      (qid, srcVecs(src).map(_ + 0.01)) }.toDF("vec_id", "embedding")
    val found = Similarity.ivfPqTopK(corpus, qdf, "vec_id", "embedding", k = 5,
        dim = 64, nCells = 8, nProbe = 4, m = 8, ks = 64, iters = 2)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = twins.count { case (qid, src) => found.getOrElse(qid, Set()).contains(src) }
    // the twin's probe must include its own cell (top-scored by
    // construction), so ~all twins are retrieved; leave 2 slack for
    // twins straddling a cell boundary
    assert(hits >= 8, s"planted twin retrieved for only $hits/10 queries")

    // more probes can only widen the candidate pool → recall monotone
    val truth = Similarity.bruteForceTopK(blobRows, queries, "vec_id", "embedding", k = 5)
    val qids = queries.select(col("vec_id").as("query_id"))
    def recall(nProbe: Int): Double = Similarity.recallAtK(
        Similarity.ivfPqTopK(blobRows, queries, "vec_id", "embedding",
          k = 5, dim = 16, nCells = 8, nProbe = nProbe, m = 4, ks = 16, iters = 3),
        truth, qids, 5)
      .agg(avg("recall")).head.getDouble(0)
    val (r1, r8) = (recall(1), recall(8))
    assert(r8 >= r1, s"recall fell when probing every cell: nProbe=1 $r1, nProbe=8 $r8")

    // deterministic end to end
    val again = Similarity.ivfPqTopK(blobRows, queries, "vec_id", "embedding",
      k = 5, dim = 16, nCells = 8, nProbe = 4, m = 4, ks = 16, iters = 3)
    assert(r.select("query_id", "cand_id", "rank").collect().toSet ===
      again.select("query_id", "cand_id", "rank").collect().toSet)

    // dim mismatch fails fast (checkedDim, not a silent wrong slice)
    val bad = blobRows.withColumn("embedding", slice(col("embedding"), 1, 7))
    intercept[Exception] {
      Similarity.ivfPqTopK(bad, queries, "vec_id", "embedding",
        k = 5, dim = 16, nCells = 8, nProbe = 4, m = 4, ks = 16, iters = 1).count()
    }
  }

  test("ivfPqTopK with fitted coarse cells: recall >= hash-picked at equal nProbe") {
    // the realistic 100 TB composition: kmeansCentroids trains the coarse
    // quantizer, IVF-PQ rides it (same frame contract as ivfTopKFitted).
    // On separated blobs the trained cells align with the blobs, so one
    // probe suffices; hash-picked cells often leave blobs unrepresented.
    val queries = blobRows.filter(col("vec_id") % 100 === 7 && col("vec_id") < 500)
    val truth = Similarity.bruteForceTopK(blobRows, queries, "vec_id", "embedding", k = 5)
    val qids = queries.select(col("vec_id").as("query_id"))
    val cents = Similarity.kmeansCentroids(blobRows, "vec_id", "embedding",
      k = 8, iters = 4)
    def recall(coarse: Option[org.apache.spark.sql.DataFrame]): Double =
      Similarity.recallAtK(
          Similarity.ivfPqTopK(blobRows, queries, "vec_id", "embedding",
            k = 5, dim = 16, nCells = 8, nProbe = 1, m = 4, ks = 16, iters = 3,
            coarseCentroids = coarse),
          truth, qids, 5)
        .agg(avg("recall")).head.getDouble(0)
    val (rf, rh) = (recall(Some(cents)), recall(None))
    assert(rf >= rh, s"fitted coarse recall $rf < hash-picked $rh")
    // within a TIGHT blob every member shares residual codes, so exact
    // rank recall is beyond PQ resolution by design (same honesty rule
    // as the pqTopK spec) — the structural claim for fitted cells at
    // nProbe=1 is full own-blob retrieval: every query still fills its
    // top-5 and never from a foreign blob (hash-picked cells leave blobs
    // unrepresented and can't promise either)
    val fitted = Similarity.ivfPqTopK(blobRows, queries, "vec_id", "embedding",
      k = 5, dim = 16, nCells = 8, nProbe = 1, m = 4, ks = 16, iters = 3,
      coarseCentroids = Some(cents))
    assert(fitted.count() === 25L, "a query failed to fill its top-5 from one probe")
    assert(fitted.filter(floor(col("cand_id") / 100) =!=
      floor(col("query_id") / 100)).count() === 0L,
      "fitted single-probe retrieval crossed into a foreign blob")
  }

  // --- ANN-prefiltered triplet mining ---------------------------------------

  test("tripletMineAnn agrees with the exhaustive miner on planted positives") {
    // blob corpus: each anchor's positive is a same-blob near-twin
    // (cos ≈ 1 ≥ t), negatives are foreign-blob vectors below t. Blobs
    // sit far apart, so the margin is wide and both miners must agree
    // on every positive and on the negative SET the probes retrieve.
    val anchors = blobRows.filter(col("vec_id") % 100 === 7 && col("vec_id") < 500)
    def mineCols(df: DataFrame) = df
      .select("anchor_id", "pos_id", "neg_id", "neg_rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val exhaustive = Similarity.tripletMine(blobRows, anchors, "vec_id",
      "embedding", posThreshold = 0.9, nNegatives = 3)
    // candidateK must reach PAST the 40-member blob into the margin
    // region (a pool of 39 same-blob positives retrieves zero negatives
    // at candidateK=30 — the scaladoc's "oversize toward 4×" rule)
    val ann = Similarity.tripletMineAnn(blobRows, anchors, "vec_id",
      "embedding", posThreshold = 0.9, nNegatives = 3,
      candidateK = 50, nCells = 8, nProbe = 8)
    // positives: identical (the top same-blob neighbor is in every probe)
    val posEx = exhaustive.select("anchor_id", "pos_id").distinct()
      .as[(Long, Long)].collect().toSet
    val posAnn = ann.select("anchor_id", "pos_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(posAnn === posEx, s"positive disagreement: ann $posAnn vs exhaustive $posEx")
    // full triplets: at nProbe = nCells the candidate pool is the global
    // top-candidateK, so the hard-negative margin region matches too
    assert(mineCols(ann) === mineCols(exhaustive),
      "ANN miner with full probes disagrees with the exhaustive miner")
  }

  test("embedOutliers flags the planted stray; degenerate label yields no flags") {
    // label "a": 30 tight vectors around e0 + one OPPOSITE-direction
    // stray; label "b": all-identical vectors (zero variance)
    val rows = ((0 until 30).map { i =>
      (i.toLong, "a", Array(10.0, (i % 5) * 0.01, 0.0, 0.0))
    } :+ (99L, "a", Array(-10.0, 0.0, 0.1, 0.0))) ++
      (200 until 210).map(i => (i.toLong, "b", Array(0.0, 5.0, 0.0, 0.0))) :+
      // SINGLETON label: sample variance is 0/0 = NaN, and NaN compares
      // greater than any cut under Spark's NaN ordering — the zscore n<2
      // guard must null it out, not flag it
      (300L, "solo", Array(1.0, 2.0, 3.0, 4.0))
    val df = rows.toDF("vec_id", "label", "embedding")
    val r = Similarity.embedOutliers(df, "vec_id", "embedding", "label", zCut = 2.5)
      .collect().map(x => x.getLong(0) -> x.getBoolean(4)).toMap
    assert(r(99L), "opposite-direction stray not flagged")
    assert((0 until 30).forall(i => !r(i.toLong)), "in-cluster vector flagged")
    assert((200 until 210).forall(i => !r(i.toLong)),
      "zero-variance label must flag nothing (null z), not crash")
    assert(!r(300L), "singleton label flagged via NaN z")
  }

  test("knnLabel propagates the blob's label; ties break to most votes then smallest") {
    val labeled = blobRows.withColumn("label",
      concat(lit("blob"), floor(col("vec_id") / 100)))
    val queries = blobRows.filter(col("vec_id") % 100 === 7 && col("vec_id") < 500)
    val r = Similarity.knnLabel(labeled, queries, "vec_id", "embedding",
        "label", k = 10)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
    assert(r.length === 5)
    r.foreach { case (qid, pred, votes, total) =>
      assert(pred === s"blob${qid / 100}", s"query $qid predicted $pred")
      assert(votes === 10L && total === 10L) // unanimous inside a blob
    }
  }

  test("centroidDrift: stable label ok, rotated label flagged, added/removed surfaced") {
    def rows(flipB: Boolean) = (0 until 20).map { i =>
      ("a", Array(10.0, (i % 3) * 0.01, 0.0))
    } ++ (0 until 20).map { i =>
      // label b's snapshot-2 centroid rotates 90°
      if (flipB) ("b", Array(0.0, 0.02 * (i % 3), 10.0))
      else ("b", Array(0.0, 10.0, 0.02 * (i % 3)))
    }
    val before = (rows(flipB = false) ++ Seq(("gone", Array(1.0, 0.0, 0.0))))
      .toDF("label", "embedding")
    val after = (rows(flipB = true) ++ Seq(("new", Array(0.0, 1.0, 0.0))))
      .toDF("label", "embedding")
    val r = Similarity.centroidDrift(before, after, "embedding", "label",
        minCos = 0.9)
      .collect().map(x => x.getString(0) -> (x.getString(1), x.getBoolean(3))).toMap
    assert(r("a") === ("common", true), s"stable label flagged: ${r("a")}")
    assert(r("b") === ("common", false), s"rotated label not flagged: ${r("b")}")
    assert(r("gone") === ("removed", false) && r("new") === ("added", false))
  }

  test("budgetSelect equals the naive global prefix; edges and cap enforced") {
    import org.apache.spark.sql.expressions.{Window => W}
    val rng = new scala.util.Random(61)
    val docs = (0 until 400).map(i =>
      (i.toLong, rng.nextInt(1000) / 1000.0, 1L + rng.nextInt(50)))
      .toDF("doc_id", "score", "toks")
    def naive(budget: Long): Set[Long] = docs
      .withColumn("cum", sum("toks").over(W.orderBy(col("score").desc,
        col("doc_id").asc).rowsBetween(W.unboundedPreceding, 0)))
      .filter(col("cum") <= budget)
      .select("doc_id").as[Long].collect().toSet
    for (budget <- Seq(0L, 37L, 3000L, 1000000L)) {
      val got = Sampling.budgetSelect(docs, "doc_id", "score", "toks", budget)
        .select("doc_id").as[Long].collect().toSet
      assert(got === naive(budget), s"budget=$budget diverged from global prefix")
    }
    // all 400 scores identical -> one bucket holds everything; the
    // boundary-window ceiling must refuse, not plan a global window.
    // The gate is deferred into the plan: CONSTRUCTION runs no job and
    // throws nothing; the refusal surfaces when the action runs.
    val flat = docs.withColumn("score", lit(0.5))
    val (frame, built) = measure {
      Sampling.budgetSelect(flat, "doc_id", "score", "toks",
        budget = 100L, maxBoundaryRows = 100L)
    }
    assert(built.jobs === 0, s"budgetSelect construction ran ${built.jobs} job(s)")
    val e = intercept[Exception] { frame.count() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxBoundaryRows")), msgs(e).mkString("|"))
  }

  test("anchors-broadcast contract: oversized anchor frames are refused") {
    val e1 = intercept[IllegalArgumentException] {
      Similarity.tripletMine(blobRows, blobRows, "vec_id", "embedding",
        posThreshold = 0.9, nNegatives = 3, maxAnchors = 100L)
    }
    assert(e1.getMessage.contains("maxAnchors"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.tripletMineAnn(blobRows, blobRows, "vec_id", "embedding",
        posThreshold = 0.9, nNegatives = 3, candidateK = 10, maxAnchors = 100L)
    }
    assert(e2.getMessage.contains("maxAnchors"), e2.getMessage)
    // candidateK too small to cover the selection is a config error
    intercept[IllegalArgumentException] {
      Similarity.tripletMineAnn(blobRows, blobRows.limit(5), "vec_id", "embedding",
        posThreshold = 0.9, nNegatives = 3, candidateK = 2)
    }
  }
}
