package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * Embedding similarity: exact cosine near-duplicate join, brute-force
 * top-k ANN, and a random-hyperplane LSH-bucketed variant for scale.
 *
 * The dot product is a strict left fold (native codegen kernel), so FP
 * accumulation order is deterministic — the SQL oracle folds in the same
 * order and the doubles match bit-for-bit.
 */
object Similarity {

  /** Left-fold dot product of two array<double> columns — a native codegen
   * kernel ([[graft.expressions.DotProduct]]) with the same IEEE
   * accumulation order as `aggregate(zip_with(a, b, _*_), 0.0, _+_)`,
   * so oracle parity is unchanged while the per-element interpreted
   * lambda hops are gone. */
  def dot(a: Column, b: Column): Column =
    graft.functions.Hashing.dotProduct(a, b)

  /** Cosine similarity; NULL (not an ANSI DIVIDE_BY_ZERO error) when
   * either vector has zero norm — a null cosine fails every `>= t`
   * filter and sorts last under `desc` ranking, so zero vectors drop
   * out of similarity results instead of killing the job. */
  def cosine(a: Column, b: Column): Column = {
    val d = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(d === 0.0, lit(null)).otherwise(dot(a, b) / d)
  }

  /** Guarded quotient for pre-computed norms (same null-on-zero rule). */
  private def cosOver(dotAb: Column, nrmProduct: Column): Column =
    when(nrmProduct === 0.0, lit(null)).otherwise(dotAb / nrmProduct)

  /** md5-rank window for the hash-picked centroid inits. The input is
   * already `.limit(k)` rows (k = a centroid count), so the global
   * single-partition window WindowExec warns about is exactly the
   * intended ≤k-row plan — a constant partition key can't silence it
   * (Spark 4 folds literal partition specs away). Driver mains quiet
   * the WindowExec logger instead ([[graft.LogQuiet]]); specs keep the
   * warning visible so a NEW unbounded window still surfaces. */
  private def hRank: Column =
    row_number().over(Window.orderBy("h"))

  /**
   * Exact cosine near-duplicate pairs (id_a < id_b) with similarity ≥
   * threshold. `blockCols` bounds the candidate space — at 100 TB an
   * un-blocked self-join is quadratic; with blocking each block joins
   * independently (and small blocks broadcast).
   */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockCols: Seq[String], threshold: Double,
                       allowUnblocked: Boolean = false): DataFrame = {
    // an empty blockCols means an exact all-pairs cross join — quadratic
    // in |df| and never what you want at scale. Make it an explicit
    // opt-in instead of a silent degradation.
    require(blockCols.nonEmpty || allowUnblocked,
      "embeddingNearDup with empty blockCols is an unblocked all-pairs " +
        "cross join (quadratic); pass allowUnblocked = true to opt in")
    // norms are computed once per vector, not once per pair; the product
    // sqrt(aa)*sqrt(bb) is the same IEEE ops as inline cosine
    val base = df.select((idCol +: vecCol +: blockCols).map(col): _*)
      .withColumn("v", col(vecCol).cast("array<double>"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = base.select(col(idCol).as("id_a") +: col("v").as("v_a") +:
      col("nrm").as("nrm_a") +: blockCols.map(col): _*)
    val b = base.select(col(idCol).as("id_b") +: col("v").as("v_b") +:
      col("nrm").as("nrm_b") +: blockCols.map(col): _*)
    val joined = if (blockCols.isEmpty) a.crossJoin(b) else a.join(b, blockCols)
    joined.filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosOver(dot(col("v_a"), col("v_b")), col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /**
   * SEMANTIC benchmark decontamination: flag corpus embeddings whose
   * cosine to ANY benchmark embedding reaches `threshold` — the
   * embedding-space twin of the n-gram contamination screens in
   * [[Text.contamination]] (n-gram catches verbatim leakage; this
   * catches paraphrased leakage that shares no 8-gram).
   *
   * Scale shape: the benchmark side is an EVAL SET — thousands of rows
   * against a corpus of billions — so it travels as an explicit
   * broadcast and the whole screen is map-side (corpus × bench inside
   * each task, partial-agg'd max/count per corpus row, one corpus-id-
   * sized shuffle of ALREADY-AGGREGATED rows). No corpus self-join,
   * no index build: at |bench| ≪ |corpus| brute force IS the right
   * plan, same reasoning as [[bruteForceTopK]].
   *
   * Output: one row per CONTAMINATED corpus id — `(id, n_bench_hits,
   * max_cos)`. Zero-norm vectors on either side cosine to NULL and
   * fail the threshold (the [[cosine]] rule).
   */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_nrm", sqrt(dot(col("_v"), col("_v"))))
    val b = benchmark.select(col(vecCol).cast("array<double>").as("_bv"))
      .withColumn("_bnrm", sqrt(dot(col("_bv"), col("_bv"))))
    c.crossJoin(broadcast(b))
      .withColumn("_cos", cosOver(dot(col("_v"), col("_bv")),
        col("_nrm") * col("_bnrm")))
      .filter(col("_cos") >= threshold)
      .groupBy(idCol).agg(
        count(lit(1)).as("n_bench_hits"),
        max(col("_cos")).as("max_cos"))
  }

  /**
   * K-CENTER GREEDY coreset selection (Gonzalez '85; Sener–Savarese '18
   * as the active-learning coreset): pick k points such that every
   * point is close to some pick — the DIVERSE-subset selector for
   * labeling budgets, finetuning subsets and eval-slice construction
   * (a random sample over-draws dense regions; k-center covers the
   * space, with a 2-approximation guarantee for the k-center
   * objective). Greedy: seed = the md5-min id (the kmeans init
   * contract), then k−1 rounds of "farthest point from the current
   * picks" under squared euclidean d = v·v − 2·v·c + c·c (every term
   * on the codegen DotProduct kernel).
   *
   * Each round is ONE broadcast of the ≤k picked vectors + a partial-
   * agg'd min + a TakeOrdered(1) argmax — k driver rows total (the
   * model-artifact collect discipline); ties break to the smaller id,
   * so selection is a pure function of the data and an external engine
   * replays it round for round. Output: one row per pick —
   * `(round, id, dist2)` where `dist2` is the squared distance to the
   * previously-picked set at selection time (NULL for the seed; these
   * are the coverage radii, monotonically non-increasing — read them
   * to choose k).
   */
  def kCenterSelect(em: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = em.sparkSession
    val base = graft.CacheScope.persist(
      em.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
        .withColumn("v2", dot(col("v"), col("v"))))
    val seed = base.withColumn("h", md5(col("id").cast("string")))
      .orderBy("h", "id").limit(1).select("id", "v").collect()
    require(seed.nonEmpty, "kCenterSelect needs a non-empty input")
    var picked = Vector((seed(0).getAs[Any]("id"),
      seed(0).getAs[scala.collection.Seq[Double]]("v").toVector, null.asInstanceOf[java.lang.Double]))
    while (picked.size < k) {
      // centers ride as LITERAL arrays (≤ k·dim doubles — the JL
      // sign-matrix precedent): the round is then pure map-side codegen
      // (one distance expression per center, `least` chain for the min)
      // + a TakeOrdered(1) — NO shuffle of the corpus, ever. c² is the
      // same seeded left fold the DotProduct kernel runs, computed once
      // driver-side.
      val dists = picked.map { case (_, c, _) =>
        val c2 = c.foldLeft(0.0)((acc, x) => acc + x * x)
        col("v2") - lit(2.0) * dot(col("v"), typedLit(c)) + lit(c2)
      }
      val next = base
        .withColumn("mind", dists.reduce(least(_, _)))
        .orderBy(desc("mind"), col("id")).limit(1)
        .select("id", "v", "mind").collect()
      if (next.isEmpty) return toFrame(spark, em, idCol, picked) // empty pool
      val r = next(0)
      // coverage radius hit zero: every remaining point coincides with a
      // center (k ≥ distinct points, or exact duplicates) — further picks
      // add no coverage, so stop instead of emitting repeats
      if (r.getAs[Double]("mind") <= 0.0)
        return toFrame(spark, em, idCol, picked)
      picked :+= ((r.getAs[Any]("id"), r.getAs[scala.collection.Seq[Double]]("v").toVector,
        java.lang.Double.valueOf(r.getAs[Double]("mind"))))
    }
    toFrame(spark, em, idCol, picked)
  }

  private def toFrame(spark: SparkSession, em: DataFrame, idCol: String,
                      picked: Vector[(Any, Seq[Double], java.lang.Double)])
      : DataFrame = {
    val idType = em.schema(idCol).dataType
    val rows = picked.zipWithIndex.map { case ((id, _, d), i) =>
      org.apache.spark.sql.Row(i + 1, id, d)
    }
    spark.createDataFrame(new java.util.ArrayList(rows.asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("round",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField(idCol, idType),
        org.apache.spark.sql.types.StructField("dist2",
          org.apache.spark.sql.types.DoubleType))))
  }

  /**
   * Margin-based BITEXT MINING (Artetxe–Schwenk 2019): mine aligned
   * pairs between two embedding corpora — the parallel-corpus miner
   * behind every large-scale translation dataset (CCMatrix/LASER
   * lineage), and equally the cross-SOURCE alignment primitive (same
   * story in two feeds, caption↔image-description, …). Raw cosine
   * over-selects hubs (vectors close to everything); the RATIO MARGIN
   * normalizes each pair's cosine by the mean of both endpoints'
   * k-NN neighborhoods:
   *
   *   margin(x, y) = cos(x, y) / ( Σ_{z∈NNk(x)} cos/2k + Σ_{z∈NNk(y)} cos/2k )
   *
   * and a pair is mined when it is the MUTUAL best (x's argmax is y
   * AND y's argmax is x — forward-backward intersection) with margin ≥
   * `threshold`.
   *
   * Determinism/parity: neighborhood sums fold over the DESC-sorted
   * top-k cosine list (strict order — an external engine replays the
   * same fold), argmax ties break to the smaller opposite id, zero-norm
   * vectors cosine to NULL and drop. This implementation scores the
   * full a × broadcast(b) pair grid — right when the mined sides are
   * selections (eval slices, one domain vs another); at corpus × corpus
   * scale generate the pair candidates with the IVFADC shortlist
   * ([[ivfPqTopK]]) instead and feed the same margin/mutual machinery.
   */
  def bitextMine(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
                 k: Int = 4, threshold: Double = 1.2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def side(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(s"_v$id"))
        .withColumn(s"_n$id", sqrt(dot(col(s"_v$id"), col(s"_v$id"))))
    val pairs = graft.CacheScope.persist(
      side(a, "id_a").crossJoin(broadcast(side(b, "id_b")))
        .withColumn("cos", cosOver(dot(col("_vid_a"), col("_vid_b")),
          col("_nid_a") * col("_nid_b")))
        .filter(col("cos").isNotNull)
        .select("id_a", "id_b", "cos"))
    def nnSums(keyCol: String, otherCol: String, sumName: String,
               kName: String) = {
      val w = Window.partitionBy(keyCol).orderBy(desc("cos"), col(otherCol))
      pairs.withColumn("_rk", row_number().over(w)).filter(col("_rk") <= k)
        .groupBy(keyCol)
        .agg(sort_array(collect_list(col("cos")), asc = false).as("_cs"))
        .select(col(keyCol),
          aggregate(col("_cs"), lit(0.0), (acc, x) => acc + x).as(sumName),
          size(col("_cs")).as(kName))
    }
    val scored = pairs
      .join(nnSums("id_a", "id_b", "sumA", "kA"), "id_a")
      .join(nnSums("id_b", "id_a", "sumB", "kB"), "id_b")
      .withColumn("margin", col("cos") /
        (col("sumA") / (lit(2.0) * col("kA"))
          + col("sumB") / (lit(2.0) * col("kB"))))
    val wA = Window.partitionBy("id_a").orderBy(desc("margin"), col("id_b"))
    val wB = Window.partitionBy("id_b").orderBy(desc("margin"), col("id_a"))
    scored
      .withColumn("_rka", row_number().over(wA))
      .withColumn("_rkb", row_number().over(wB))
      .filter(col("_rka") === 1 && col("_rkb") === 1 &&
        col("margin") >= threshold)
      .select("id_a", "id_b", "cos", "margin")
  }

  /**
   * Scalar int8 quantization of an embedding column: global [lo, hi]
   * over all dimensions (one agg, broadcast), 255 levels, midpoint
   * dequantization. 4× less memory and shuffle than float32 — the
   * standard first compression step before ANN at 100 TB. Every
   * arithmetic step is plain IEEE double ops in a fixed order, so an
   * external engine replaying the same formula reproduces the quantized
   * values bit-for-bit.
   */
  def quantizeInt8(em: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val bounds = em.select(v.as("v"))
      .agg(min(array_min(col("v"))).as("lo"), max(array_max(col("v"))).as("hi"))
    em.select(col(idCol), v.as("v"))
      .crossJoin(broadcast(bounds))
      .withColumn("qvec", transform(col("v"), x =>
        least(greatest(floor((x - col("lo")) * 255.0 / (col("hi") - col("lo"))),
          lit(0.0)), lit(255.0)).cast("int")))
      .withColumn("dqvec", transform(col("qvec"), q =>
        col("lo") + (q.cast("double") + 0.5) * (col("hi") - col("lo")) / 255.0))
      .drop("lo", "hi")
  }

  /**
   * Measured fidelity gate for [[quantizeInt8]]: per query, the MAX
   * absolute cosine deviation between float and dequantized-int8 vectors
   * over every candidate — the number that licenses running ANN on the
   * quantized representation. One cross join against the broadcast query
   * side (queries are small by construction), one partial-agg'd max.
   */
  def int8FidelityGate(em: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column, eps: Double = 0.05): DataFrame = {
    val qz = graft.CacheScope.persist(
      quantizeInt8(em, idCol, vecCol).select(col(idCol), col("v"), col("dqvec")))
    val qry = qz.filter(queryPred).select(col(idCol).as("query_id"),
      col("v").as("vq"), col("dqvec").as("dq_q"))
    val err = abs(cosine(col("vq"), col("v")) - cosine(col("dq_q"), col("dqvec")))
    qz.crossJoin(broadcast(qry))
      .filter(col(idCol) =!= col("query_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_cands"), max(err).as("max_abs_err"))
      .withColumn("ok", col("max_abs_err") <= eps)
  }

  /** Deterministic ±1/√outDim sign matrix (Achlioptas '01) for random
   * projection, drawn from one seeded stream. The SAME Scala call
   * renders the oracle's literal lists, so an external engine replays
   * the projection bit-for-bit (Double.toString round-trips). */
  def signMatrix(outDim: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    val s = 1.0 / math.sqrt(outDim.toDouble)
    Seq.fill(outDim)(Array.fill(dim)(if (rng.nextBoolean()) s else -s))
  }

  /**
   * Random-projection dimensionality reduction (Johnson–Lindenstrauss
   * with Achlioptas ±1 signs): y_j = dot(x, R_j), R_j a ±1/√outDim sign
   * row. outDim doubles instead of dim — the shuffle/memory cut that
   * makes a first-pass ANN over 100 TB of embeddings affordable, with
   * [[jlFidelityGate]] measuring what the cut costs. Each output
   * coordinate is ONE codegen DotProduct against a literal sign row
   * (outDim·dim plan literals — fine at 16×64; a 1024×4096 projection
   * should switch to a broadcast matrix join, the IVF-centroid pattern).
   */
  /** Fail fast when a row's embedding length ≠ the declared `dim` — a
   * mismatch would silently truncate the dot products and void the
   * fidelity gate. Null embeddings pass through (projected to nulls,
   * like every other vector op here). */
  private def checkedDim(vec: Column, dim: Int, op: String): Column =
    when(vec.isNull || size(vec) === dim, vec)
      .otherwise(raise_error(concat(lit(s"$op: embedding length "),
        size(vec).cast("string"), lit(s" != declared dim $dim")))
        .cast("array<double>"))

  def randomProject(em: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, dim: Int, seed: Long = 7L): DataFrame = {
    val mat = signMatrix(outDim, dim, seed)
    em.select(col(idCol),
        checkedDim(col(vecCol).cast("array<double>"), dim, "randomProject").as("v"))
      .withColumn("pvec", array(mat.map(r =>
        dot(col("v"), array(r.toSeq.map(lit): _*))): _*))
  }

  /**
   * Broadcast-matrix twin of [[randomProject]] for projections past
   * plan-literal comfort (a 1024×4096 matrix is 4M literals — Catalyst
   * chokes long before the executors would): the sign rows travel as a
   * broadcast `(j, row)` frame, each vector meets all outDim rows in a
   * broadcast nested-loop (outDim-way fan-out, partial-agg'd back), and
   * the projected vector is reassembled in j-order. The DotProduct fold
   * order is identical to the literal version, so the two agree
   * BIT-FOR-BIT (asserted in Round5Spec) and the same oracle covers
   * both.
   */
  def randomProjectBig(em: DataFrame, idCol: String, vecCol: String,
                       outDim: Int, dim: Int, seed: Long = 7L): DataFrame = {
    val spark = em.sparkSession
    import scala.jdk.CollectionConverters._
    val rows = signMatrix(outDim, dim, seed).zipWithIndex.map { case (r, j) =>
      org.apache.spark.sql.Row(j, r.toSeq)
    }
    val mat = spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("j",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false))))
    em.select(col(idCol),
        checkedDim(col(vecCol).cast("array<double>"), dim, "randomProjectBig").as("v"))
      .crossJoin(broadcast(mat))
      .select(col(idCol), col("v"), col("j"), dot(col("v"), col("r")).as("y"))
      .groupBy(idCol)
      .agg(first(col("v")).as("v"),
        transform(array_sort(collect_list(struct(col("j"), col("y")))),
          s => s.getField("y")).as("pvec"))
  }

  /**
   * Measured fidelity gate for [[randomProject]], the JL twin of
   * [[int8FidelityGate]]: per query, the MAX absolute deviation between
   * full-dimension cosine and projected cosine over every candidate.
   * JL theory says distortion ~1/√outDim; this gate MEASURES it on the
   * actual corpus instead of trusting the bound — the number that
   * decides whether the projected index needs a full-precision re-rank.
   */
  def jlFidelityGate(em: DataFrame, idCol: String, vecCol: String,
                     outDim: Int, dim: Int, queryPred: Column,
                     seed: Long = 7L, eps: Double = 0.35): DataFrame = {
    val pz = graft.CacheScope.persist(
      randomProject(em, idCol, vecCol, outDim, dim, seed))
    val qry = pz.filter(queryPred).select(col(idCol).as("query_id"),
      col("v").as("vq"), col("pvec").as("pq"))
    val err = abs(cosine(col("vq"), col("v")) - cosine(col("pq"), col("pvec")))
    pz.crossJoin(broadcast(qry))
      .filter(col(idCol) =!= col("query_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_cands"), max(err).as("max_abs_err"))
      .withColumn("ok", col("max_abs_err") <= eps)
  }

  /**
   * K-means centroid training (Lloyd iterations) over an embedding
   * column — the quantizer-fitting step ahead of [[ivfTopK]] /
   * [[semanticDedup]] (their hash-picked cells are init; real corpora
   * deserve fitted cells). Deterministic throughout: init is the
   * md5-ordered pick, assignment is argmin L2 with ties to the smallest
   * cell, and the per-round mean is a partial-agg'd (cell, dim) average
   * — the scale-correct shape (components pre-sum per partition; no
   * per-round collect). Each round is one broadcast-assign join + one
   * groupBy; lineage is cut per round ([[graft.Fixpoint]], reliable
   * under `checkpointDir`) exactly like pagerank. A cell that
   * loses every member drops out (classic Lloyd). Emits the fitted
   * centroids in engine-portable row form (cell, dim [1-based], mean).
   */
  def kmeansCentroids(em: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int,
                      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && iters >= 0, "kmeansCentroids needs k >= 1, iters >= 0")
    val base = graft.Fixpoint.input(
      em.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
      checkpointDir)
    val init = base
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy("h").limit(k)
      .withColumn("cell", (hRank - 1).cast("int"))
      .select(col("cell"), col("v").as("c"))
    lloydLoop(base, init, iters, checkpointDir)
  }

  /**
   * The k-means|| → Lloyd COMPOSITION [[kmeansParallelInit]]'s scaladoc
   * promises ("feed the ranked ids' vectors to Lloyd as its init") —
   * the [[ivfTopKFitted]] precedent one stage earlier: the ranked init
   * picks replace [[kmeansCentroids]]' md5-ordered guess, then the
   * SAME Lloyd loop refines. Bahmani '12's point is exactly this
   * composition: the oversampled, d²-weighted, recluster-reduced init
   * starts Lloyd near the optimum, so equal rounds end at equal-or-
   * lower inertia than a hash pick (measured in the spec on planted
   * blobs a hash pick misses ~4 times in 9). Cells are the init ranks
   * (rank−1, so cell 0 = the heaviest pick); output schema and every
   * determinism/scale property are [[kmeansCentroids]]'s.
   */
  def kmeansCentroidsFitted(em: DataFrame, idCol: String, vecCol: String,
                            k: Int, iters: Int,
                            oversample: Int = 4, initRounds: Int = 3,
                            buckets: Int = 10000,
                            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && iters >= 0,
      "kmeansCentroidsFitted needs k >= 1, iters >= 0")
    val base = graft.Fixpoint.input(
      em.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
      checkpointDir)
    val picks = kmeansParallelInit(em, idCol, vecCol, k,
      oversample = oversample, rounds = initRounds, buckets = buckets)
    val init = picks
      .join(base.select(col("id").cast("long").as("center_id"), col("v")),
        Seq("center_id"))
      .select((col("rank") - 1).cast("int").as("cell"), col("v").as("c"))
    lloydLoop(base, init, iters, checkpointDir)
  }

  /** Shared Lloyd refinement: `init` is (cell int, c array<double>);
   * the loop is verbatim [[kmeansCentroids]]' (broadcast argmin assign,
   * partial-agg'd per-dim mean, per-round lineage cut). */
  private def lloydLoop(base: DataFrame, init: DataFrame, iters: Int,
                        checkpointDir: Option[String]): DataFrame = {
    val cent = graft.Fixpoint.iterate("lloydLoop", init, checkpointDir)(
        graft.Fixpoint.Fixed(iters)) { (cent, _, cut) =>
      // argmin ‖v−c‖² ≡ argmin (c·c − 2·v·c): the ‖v‖² term is constant
      // per row, and this form runs on the CODEGEN DotProduct kernel —
      // a zip_with/aggregate lambda is interpreted (HigherOrderFunction
      // has no doGenCode) and measured ~5× slower on the same data
      val withC2 = cent.withColumn("c2", dot(col("c"), col("c")))
      val assigned = base.crossJoin(broadcast(withC2))
        .withColumn("d", col("c2") - lit(2.0) * dot(col("v"), col("c")))
        .groupBy("id")
        .agg(min_by(col("cell"), struct(col("d"), col("cell"))).as("cell"),
          first(col("v")).as("v"))
      val next = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("c"))
      cut(next)
    }
    cent.select(col("cell"), posexplode(col("c")).as(Seq("dim", "mean")))
      .select(col("cell"), (col("dim") + 1).as("dim"), col("mean"))
  }

  /**
   * SemDeDup (Abbas et al. '23): semantic deduplication by CLUSTERING
   * the embedding space and comparing only within clusters — the scale
   * answer to "cosine near-dup without a blocking column". Cells come
   * from the same hash-picked coarse quantizer as [[ivfTopK]] (argmax
   * cosine, ties to the smallest cell); within each cell every doc that
   * matches a SMALLER-id doc at ≥ `threshold` is flagged dropped, so
   * exactly one representative (the smallest id) survives each
   * near-dup chain. Output: (id, cell, dropped).
   *
   * Within-cell pairing is quadratic PER CELL — that is the technique's
   * contract (cells ≈ n/nCells; size nCells to the corpus). Like
   * ksTest's cardinality gate, the contract is ENFORCED: the biggest
   * cell is counted up front and refused past `maxCellSize` instead of
   * silently planning an n² task.
   */
  def semanticDedup(em: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 16, threshold: Double = 0.35,
                    maxCellSize: Long = 1000000L): DataFrame = {
    require(nCells >= 1 && maxCellSize >= 1, "semanticDedup needs nCells/maxCellSize >= 1")
    val base = em.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cent = graft.CacheScope.persist(base
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy("h").limit(nCells)
      .select(col("v").as("c_vec"), col("nrm").as("c_nrm"), col("h"))
      .withColumn("cell", (hRank - 1).cast("int"))
      .drop("h"))
    val assigned = graft.CacheScope.persist(
      base.crossJoin(broadcast(cent))
        .withColumn("cscore", cosOver(dot(col("v"), col("c_vec")), col("c_nrm")))
        .groupBy("id")
        .agg(max_by(col("cell"), struct(col("cscore"), -col("cell"))).as("cell"),
          first(col("v")).as("v"), first(col("nrm")).as("nrm")))
    val biggest = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(coalesce(max("n"), lit(0L))).head.getLong(0)
    require(biggest <= maxCellSize,
      s"semanticDedup: biggest cell holds $biggest docs > maxCellSize=$maxCellSize " +
        "— raise nCells (or the ceiling deliberately); within-cell compare is quadratic")
    val a = assigned.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("cell"))
    val b = assigned.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("cell"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_b") < col("id_a"))
      .withColumn("cos", cosOver(dot(col("va"), col("vb")), col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a").as("id")).distinct()
    assigned.select("id", "cell")
      .join(dropped.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /**
   * Matryoshka (prefix-truncation) fidelity gate, the third member of
   * the int8/JL gate family: keep only the first `headDim` coordinates
   * of every embedding and MEASURE the cosine deviation per query over
   * all candidates. MRL-trained models (Kusupati et al. '22) pack
   * meaning into the prefix so the truncated index is nearly free;
   * untrained embeddings are not — this gate is the number that tells
   * you which world you're in before you shrink a 100 TB index 4×.
   * Truncation is a `slice` projection (no matrix, no shuffle); the
   * rest is the jlFidelityGate plan.
   */
  def mrlFidelityGate(em: DataFrame, idCol: String, vecCol: String,
                      headDim: Int, queryPred: Column,
                      eps: Double = 0.35): DataFrame = {
    require(headDim >= 1, "mrlFidelityGate needs headDim >= 1")
    val pz = graft.CacheScope.persist(
      em.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
        .withColumn("hv", slice(col("v"), 1, headDim)))
    val qry = pz.filter(queryPred).select(col(idCol).as("query_id"),
      col("v").as("vq"), col("hv").as("hq"))
    val err = abs(cosine(col("vq"), col("v")) - cosine(col("hq"), col("hv")))
    pz.crossJoin(broadcast(qry))
      .filter(col(idCol) =!= col("query_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_cands"), max(err).as("max_abs_err"))
      .withColumn("ok", col("max_abs_err") <= eps)
  }

  /**
   * Brute-force cosine top-k: every query row against every candidate.
   * The query side is small by construction → `broadcast` keeps the big
   * side un-shuffled; ranking is per-query (high fan-out keys), so the
   * window shuffle is balanced. This is the exact baseline ANN.
   */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val cand = candidates.select(col(idCol).as("cand_id"),
        col(vecCol).cast("array<double>").as("v_c"))
      .withColumn("nrm_c", sqrt(dot(col("v_c"), col("v_c"))))
    val qry = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("v_q"))
      .withColumn("nrm_q", sqrt(dot(col("v_q"), col("v_q"))))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    cand.crossJoin(broadcast(qry))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosOver(dot(col("v_q"), col("v_c")), col("nrm_q") * col("nrm_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplanes (driver-side constants). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit bucket id from `nPlanes` hyperplane projections. */
  def lshBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.map { p =>
      val planeCol = array(p.toSeq.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit("1")).otherwise(lit("0"))
    }.reduce(concat(_, _))

  /**
   * Recall@k of an approximate top-k retrieval against an exact ground
   * truth: per query, how many of the true top-k the approximate path
   * returned. This is the measured gate for the ANN variants — recall is
   * COMPUTED inside the engine (one hashable row per query), never
   * assumed from theory. `queries` supplies the query-id universe so
   * queries whose approximate retrieval came back empty still emit a
   * (zero-recall) row instead of vanishing.
   */
  def recallAtK(retrieved: DataFrame, truth: DataFrame,
                queries: DataFrame, k: Int): DataFrame = {
    // every frame here is query-cardinality (≤ |queries|·k rows) — tiny
    // by contract, so both joins broadcast instead of shuffling
    val hits = retrieved.select("query_id", "cand_id")
      .join(broadcast(truth.select(col("query_id"), col("cand_id"), lit(1).as("hit"))),
        Seq("query_id", "cand_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_retrieved"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_true"))
    queries.select("query_id").join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_retrieved"), lit(0L)).as("n_retrieved"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        (coalesce(col("n_true"), lit(0L)) / lit(k.toDouble)).as("recall"))
  }

  /**
   * IVF (inverted-file) ANN: a coarse quantizer of `nCentroids` cells;
   * candidates live in their nearest cell, queries probe their `nProbe`
   * nearest cells and rank only those cells' members.
   *
   * Centroids are `nCentroids` deterministically hash-picked vectors
   * (smallest md5(id) — stable across runs AND across engines, so an
   * external SQL oracle can reproduce the exact same quantizer; md5,
   * unlike xxhash64, is bit-identical everywhere). They travel as a
   * BROADCAST side of the assignment join, not as plan literals — the
   * plan size stays O(1) in nCentroids, so a 4096-cell quantizer at
   * 100 TB compiles exactly like the 16-cell test shape. Assignment is
   * a broadcast nested-loop over the tiny centroid table followed by a
   * map-side-combined argmax (one row per vector reaches the shuffle);
   * the probe join is an equi-join on cell id.
   */
  /** md5 hash-picked coarse quantizer over a (cand_id, v_c, nrm_c) frame
   * → (c_vec, c_nrm, cell). Deterministic AND cross-engine reproducible
   * (md5, unlike xxhash64, is bit-identical everywhere) — the one
   * construction shared by ivfTopK / ivfPqTopK so a tie-break or norm
   * fix can never diverge between them. */
  private def hashPickedCells(base: DataFrame, nCells: Int): DataFrame =
    base.withColumn("h", md5(col("cand_id").cast("string")))
      .orderBy("h").limit(nCells)
      .select(col("v_c").as("c_vec"), col("nrm_c").as("c_nrm"), col("h"))
      .withColumn("cell", (hRank - 1).cast("int"))
      .drop("h")

  /** [[kmeansCentroids]] row-form output → the same (c_vec, c_nrm, cell)
   * shape, shared by ivfTopKFitted / ivfPqTopK's fitted path. */
  private def fittedCells(centroidRows: DataFrame): DataFrame =
    centroidRows.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
        s => s.getField("mean")).as("c_vec"))
      .withColumn("c_nrm", sqrt(dot(col("c_vec"), col("c_vec"))))
      .select("c_vec", "c_nrm", "cell")

  def ivfTopK(candidates: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val base = candidates.select(col(idCol).as("cand_id"),
        col(vecCol).cast("array<double>").as("v_c"))
      .withColumn("nrm_c", sqrt(dot(col("v_c"), col("v_c"))))
    // coarse quantizer: nCentroids hash-picked vectors (16 rows — the
    // single-partition window is trivial). Persisted: it feeds TWO
    // broadcast joins below, and without the persist each broadcast
    // recomputes the full candidate scan + top-k.
    val cent = graft.CacheScope.persist(hashPickedCells(base, nCentroids))
    ivfWith(base, queries, idCol, vecCol, k, nProbe, cent)
  }

  /**
   * [[ivfTopK]] with FITTED cells: pass [[kmeansCentroids]]' row-form
   * output and the quantizer uses the trained centroids instead of the
   * hash-picked ones — on clustered corpora (the realistic case) fitted
   * cells align with the real clusters, so the same nProbe buys
   * strictly better recall (measured in Round6Spec, not assumed).
   */
  def ivfTopKFitted(candidates: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    centroidRows: DataFrame, nProbe: Int = 4): DataFrame = {
    val base = candidates.select(col(idCol).as("cand_id"),
        col(vecCol).cast("array<double>").as("v_c"))
      .withColumn("nrm_c", sqrt(dot(col("v_c"), col("v_c"))))
    val cent = graft.CacheScope.persist(fittedCells(centroidRows))
    ivfWith(base, queries, idCol, vecCol, k, nProbe, cent)
  }

  private def ivfWith(base: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int, nProbe: Int,
                      cent: DataFrame): DataFrame = {

    // nearest cell per candidate: broadcast the centroids, score, argmax.
    // Partial aggregation collapses the ×nCentroids expansion back to one
    // row per vector BEFORE any shuffle; ties break to the smallest cell.
    val scored = base.crossJoin(broadcast(cent))
      .withColumn("cscore", cosOver(dot(col("v_c"), col("c_vec")), col("c_nrm")))
    val cand = scored.groupBy("cand_id")
      .agg(max_by(col("cell"), struct(col("cscore"), -col("cell"))).as("cell"),
        first(col("v_c")).as("v_c"), first(col("nrm_c")).as("nrm_c"))

    // queries probe their nProbe closest cells
    val qry = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("v_q"))
      .withColumn("nrm_q", sqrt(dot(col("v_q"), col("v_q"))))
      .crossJoin(broadcast(cent))
      .withColumn("cscore", cosOver(dot(col("v_q"), col("c_vec")), col("c_nrm")))
      .withColumn("prank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cscore").desc, col("cell").asc)))
      .filter(col("prank") <= nProbe)
      .select("query_id", "v_q", "nrm_q", "cell")

    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    cand.join(broadcast(qry), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosOver(dot(col("v_q"), col("v_c")), col("nrm_q") * col("nrm_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }

  /**
   * Per-label embedding centroids, emitted as (label, dim, mean) rows:
   * posexplode each vector once, then one partial-agg groupBy on
   * (label, dim) — components pre-sum inside each partition, so only
   * |labels|×dim partials reach the shuffle regardless of corpus size.
   * Row form (not re-assembled arrays) keeps the result joinable and
   * engine-portable.
   */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg(avg(col("col")).as("mean"))

  /**
   * Embedding-outlier screen: per-label cosine-to-centroid, z-scored
   * WITHIN the label — the "does this vector belong to its group"
   * filter run before an index build or a contrastive-training pass
   * (mislabeled rows and junk embeddings sit far from their label's
   * centroid). Composition: [[labelCentroids]] (partial-agg'd, |labels|·dim
   * rows) broadcast back onto the corpus for one codegen cosine per row,
   * then [[Analytics.zscore]]'s explicit-sums standardization per label.
   * A degenerate label (constant cosine) yields null z → outlier=false,
   * never a divide-by-zero.
   *
   * Scale shape: one posexplode+groupBy for the centroids, one broadcast
   * join (the corpus never shuffles for scoring), one label-keyed window
   * for the z — no pairwise anything.
   */
  def embedOutliers(em: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, zCut: Double = 2.5): DataFrame = {
    require(zCut > 0, "embedOutliers needs zCut > 0")
    val base = em.select(col(idCol).as("id"), col(labelCol).as("label"),
      col(vecCol).cast("array<double>").as("v"))
    val cent = labelCentroids(base, "label", "v")
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
        s => s.getField("mean")).as("c"))
    val scored = base.join(broadcast(cent), "label")
      .withColumn("cos", cosine(col("v"), col("c")))
    Analytics.zscore(scored, Seq("label"), "cos")
      .select(col("id"), col("label"), col("cos"), col("z"),
        coalesce(abs(col("z")) > zCut, lit(false)).as("outlier"))
  }

  /**
   * Embedding-space drift gate between two corpus snapshots: per-label
   * centroid cosine — the embedding-side sibling of the scalar PSI/KS
   * drift screens. A retrained or silently-changed embedding model (or
   * a poisoned ingest) moves label centroids; scalar monitors never see
   * it. Labels present in only one snapshot surface as added/removed
   * rows instead of vanishing. Two partial-agg'd centroid passes + a
   * |labels|-row join: corpus-sized work is exactly the two groupBys.
   */
  def centroidDrift(before: DataFrame, after: DataFrame,
                    vecCol: String, labelCol: String,
                    minCos: Double = 0.95): DataFrame = {
    def cents(df: DataFrame, out: String) =
      labelCentroids(df.select(col(labelCol).as("label"),
          col(vecCol).cast("array<double>").as("v")), "label", "v")
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
          s => s.getField("mean")).as(out))
    cents(before, "c_before")
      .join(cents(after, "c_after"), Seq("label"), "full_outer")
      .withColumn("status",
        when(col("c_before").isNull, "added")
          .when(col("c_after").isNull, "removed")
          .otherwise("common"))
      .withColumn("cos", when(col("status") === "common",
        cosine(col("c_before"), col("c_after"))))
      .withColumn("ok", coalesce(col("cos") >= minCos, lit(false)))
      .select("label", "status", "cos", "ok")
  }

  /**
   * k-NN label propagation (weak labeling): each query vector takes the
   * majority label of its k nearest labeled neighbors (ties: most votes,
   * then smallest label). The neighbor stage here is [[bruteForceTopK]]
   * (exact, oracle-replayable), which BROADCASTS the query side — so a
   * batch of queries must be broadcast-sized, enforced via `maxQueries`
   * (the same contract-as-require rule as the triplet miners'
   * anchorsChecked). Annotating a whole big corpus from a small labeled
   * seed is a LOOP of such batches — or use [[knnLabelAnn]], which
   * swaps the neighbor stage for the [[ivfPqTopK]] IVFADC index; the
   * vote logic only needs (query_id, cand_id) pairs.
   *
   * Scale shape per batch: the neighbor result is |queries|·k rows and
   * broadcasts into the label attach (the labeled corpus never
   * shuffles); the vote is one partial-agg'd count + one min_by per
   * query.
   */
  def knnLabel(labeled: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, labelCol: String, k: Int,
               maxQueries: Long = 100000L): DataFrame = {
    require(k >= 1, "knnLabel needs k >= 1")
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"knnLabel: $nQ queries > maxQueries=$maxQueries — the query side " +
        "BROADCASTS into the scoring join; batch the queries (or raise " +
        "the ceiling deliberately with executor memory to back it)")
    val topk = bruteForceTopK(labeled, queries, idCol, vecCol, k)
      .select("query_id", "cand_id")
    labelVote(labeled, idCol, labelCol, topk)
  }

  /** The majority-vote stage shared by [[knnLabel]] and [[knnLabelAnn]]:
   * attach labels to a BROADCAST-sized (query_id, cand_id) neighbor
   * frame (|queries|·k rows by the callers' contracts) and take the
   * per-query majority (ties: most votes, then smallest label). The
   * labeled corpus never shuffles. */
  private def labelVote(labeled: DataFrame, idCol: String,
                        labelCol: String, topk: DataFrame): DataFrame = {
    val votes = labeled.select(col(idCol).as("cand_id"), col(labelCol).as("_nl"))
      .join(broadcast(topk), "cand_id")
      .groupBy("query_id", "_nl").agg(count(lit(1)).as("n"))
    votes.groupBy("query_id")
      .agg(min_by(struct(col("_nl"), col("n")), struct(-col("n"), col("_nl"))).as("_w"),
        sum("n").as("n_neighbors"))
      .select(col("query_id"), col("_w").getField("_nl").as("pred_label"),
        col("_w").getField("n").as("n_votes"), col("n_neighbors"))
  }

  /**
   * [[knnLabel]] with the neighbor stage swapped from exact brute force
   * to the [[ivfPqTopK]] IVFADC index — the scale path for annotating a
   * large corpus from a labeled seed: the labeled side is read once at
   * index build (stored as m residual codes + cell + norm per vector),
   * and each query batch probes `nProbe` cells instead of scanning every
   * labeled vector. The vote logic is [[labelVote]] verbatim, so brute
   * and ANN propagation differ ONLY in neighbor retrieval — Round9Spec
   * gates their agreement on clustered (planted-blob) data.
   *
   * Same broadcast contract as knnLabel: a batch of queries must be
   * broadcast-sized (`maxQueries`); annotating a whole corpus is a loop
   * of such batches against the amortized index.
   */
  def knnLabelAnn(labeled: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int, dim: Int,
                  nCells: Int = 16, nProbe: Int = 4, m: Int = 4,
                  ks: Int = 8, iters: Int = 2,
                  maxQueries: Long = 100000L,
                  index: Option[IvfPqIndex] = None): DataFrame = {
    require(k >= 1, "knnLabelAnn needs k >= 1")
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"knnLabelAnn: $nQ queries > maxQueries=$maxQueries — the query " +
        "side BROADCASTS into the probe and LUT joins; batch the queries " +
        "(or raise the ceiling deliberately with executor memory to back it)")
    // `index`: a pre-built [[IvfPqIndex]] over `labeled` with these same
    // parameters (the caller's contract) — the retrieval stage then skips
    // its own training entirely; None rebuilds inline (pre-split behavior).
    // The FULL parameter tuple is checked, not just the shape fields: an
    // index trained with different nCells/ks/iters would silently change
    // retrieval results while appearing to honor the call's arguments.
    require(index.forall(ix => ix.dim == dim && ix.m == m &&
        ix.nCells == nCells && ix.ks == ks && ix.iters == iters),
      "knnLabelAnn: supplied index parameters (dim/m/nCells/ks/iters) " +
        "disagree with the call's")
    val idx = index.getOrElse(ivfPqIndexBuild(labeled, idCol, vecCol,
      dim = dim, nCells = nCells, m = m, ks = ks, iters = iters))
    val topk = ivfPqScore(idx, queries, idCol, vecCol, k = k, nProbe = nProbe)
      .select("query_id", "cand_id")
    labelVote(labeled, idCol, labelCol, topk)
  }

  /** The plane set of LSH table `t` when `nTables` tables of `nPlanes`
   * planes are drawn from one seeded stream — shared with the oracle
   * generator so an external engine reproduces the exact buckets. */
  def lshTables(nPlanes: Int, nTables: Int, dim: Int,
                seed: Long): Seq[Seq[Array[Double]]] =
    hyperplanes(nPlanes * nTables, dim, seed).grouped(nPlanes).toSeq

  /**
   * Multi-table LSH ANN: `nTables` independent random-hyperplane hash
   * tables of `nPlanes` sign bits each; a candidate is ranked for a
   * query iff they share a bucket in AT LEAST ONE table (classic
   * amplification — per-table collision prob p becomes 1-(1-p)^L).
   * Each table's probe is an equi-join on (table, bucket); the unioned
   * candidate pairs are deduped before the exact cosine ranking, so a
   * pair colliding in several tables is scored once.
   *
   * Scale shape: the candidate side carries ×nTables rows into the
   * bucket join (the standard LSH space/recall trade) and the join key
   * (table, bucket) keeps every table's buckets co-partitioned in ONE
   * shuffle. On a corpus with real near-dup structure (cos ≥ 0.9),
   * wider buckets (nPlanes 8–16) keep candidate sets tiny at high
   * recall; uniformly random vectors are the adversarial case — recall
   * there is bought mostly by candidate volume. q_ann_lsh MEASURES the
   * achieved recall@k against the brute-force truth rather than
   * assuming it.
   *
   * `dim` is the embedding dimensionality, supplied by the caller: an
   * eager `.head()` probe here would run a hidden job during plan
   * construction and fail outright on empty input.
   */
  def lshTopK(candidates: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, dim: Int,
              nPlanes: Int = 4, nTables: Int = 8, seed: Long = 42L): DataFrame = {
    val tables = lshTables(nPlanes, nTables, dim, seed)
    // persisted: feeds BOTH the bucket-explode probe and the final
    // ranking join — without the persist the full candidate scan (and
    // every norm) is computed twice (same double-use pattern as ivfTopK's
    // centroid frame)
    val cand = graft.CacheScope.persist(
      candidates.select(col(idCol).as("cand_id"),
          col(vecCol).cast("array<double>").as("v_c"))
        .withColumn("nrm_c", sqrt(dot(col("v_c"), col("v_c")))))
    val qry = broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("v_q"))
      .withColumn("nrm_q", sqrt(dot(col("v_q"), col("v_q")))))
    def buckets(vcol: String): Column = explode(array(
      tables.zipWithIndex.map { case (planes, t) =>
        struct(lit(t).as("t"), lshBucket(col(vcol), planes).as("b"))
      }: _*))
    val candB = cand.withColumn("tb", buckets("v_c"))
      .select(col("cand_id"), col("tb.t").as("t"), col("tb.b").as("b"))
    val qryB = qry.withColumn("tb", buckets("v_q"))
      .select(col("query_id"), col("tb.t").as("t"), col("tb.b").as("b"))
    val pairs = candB.join(broadcast(qryB), Seq("t", "b"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    pairs.join(cand, "cand_id").join(broadcast(qry), "query_id")
      .withColumn("cos", cosOver(dot(col("v_q"), col("v_c")), col("nrm_q") * col("nrm_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }

  /**
   * Contrastive triplet mining (anchor, positive, hard negatives): for
   * each anchor, the positive is its most-similar candidate at cosine ≥
   * `posThreshold` (a near-duplicate / same-item pair) and the
   * negatives are the `nNegatives` most-similar candidates BELOW the
   * threshold — the "hard" negatives that sit right at the margin,
   * which is where embedding-model training gets its gradient (easy
   * random negatives teach nothing). Anchors with no qualifying
   * positive drop out (nothing to contrast against).
   *
   * One scored pass: anchors are small by contract and broadcast, the
   * corpus never shuffles for scoring; both picks are rank windows
   * keyed on the anchor (balanced high-fanout keys); the positive side
   * is ≤ |anchors| rows and broadcasts back onto the negatives.
   * Output: (anchor_id, pos_id, pos_cos, neg_id, neg_cos, neg_rank).
   */
  def tripletMine(candidates: DataFrame, anchors: DataFrame,
                  idCol: String, vecCol: String,
                  posThreshold: Double, nNegatives: Int,
                  maxAnchors: Long = 100000L): DataFrame = {
    val cand = candidates.select(col(idCol).as("cand_id"),
        col(vecCol).cast("array<double>").as("v_c"))
      .withColumn("nrm_c", sqrt(dot(col("v_c"), col("v_c"))))
    val anc = anchorsChecked(anchors, idCol, vecCol, maxAnchors, "tripletMine")
    val scored = cand.crossJoin(broadcast(anc))
      .filter(col("anchor_id") =!= col("cand_id"))
      .withColumn("cos",
        cosOver(dot(col("v_a"), col("v_c")), col("nrm_a") * col("nrm_c")))
      .select("anchor_id", "cand_id", "cos")
    val w = Window.partitionBy("anchor_id").orderBy(col("cos").desc, col("cand_id").asc)
    val pos = scored.filter(col("cos") >= posThreshold)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("cand_id").as("pos_id"), col("cos").as("pos_cos"))
    val negs = scored.filter(col("cos") < posThreshold || col("cos").isNull)
      .withColumn("neg_rank", row_number().over(w)).filter(col("neg_rank") <= nNegatives)
      .select(col("anchor_id"), col("cand_id").as("neg_id"),
        col("cos").as("neg_cos"), col("neg_rank"))
    negs.join(broadcast(pos), "anchor_id")
      .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"), col("neg_rank"))
  }

  /** The anchors-broadcast contract, ENFORCED: [[tripletMine]] and
   * [[tripletMineAnn]] broadcast the anchor frame into every scoring
   * join, so an oversized anchor set must fail with this message, not
   * with an executor-killing broadcast blowup. The count is one cheap
   * driver-side job over the (small by contract) anchor frame. */
  private def anchorsChecked(anchors: DataFrame, idCol: String,
                             vecCol: String, maxAnchors: Long,
                             op: String): DataFrame = {
    val anc = anchors.select(col(idCol).as("anchor_id"),
        col(vecCol).cast("array<double>").as("v_a"))
      .withColumn("nrm_a", sqrt(dot(col("v_a"), col("v_a"))))
    val n = anc.count()
    require(n <= maxAnchors,
      s"$op: $n anchors > maxAnchors=$maxAnchors — anchors BROADCAST into " +
        "every scoring join; shard the anchor set (or raise the ceiling " +
        "deliberately with executor memory to back it)")
    anc
  }

  /**
   * [[tripletMine]] with ANN candidate generation: instead of scoring
   * every anchor against the FULL corpus (one pass, but still |corpus| ·
   * |anchors| kernel evaluations), candidates come from [[ivfTopK]] —
   * each anchor exactly-scores only its `candidateK` nearest neighbors
   * from the probed cells. The positive/negative selection logic is
   * IDENTICAL (ivfTopK's cosines are exact — PQ/LSH approximation never
   * decides a margin); what the ANN stage changes is WHICH candidates
   * are visible, and hard-negative mining wants precisely the
   * highest-cosine region the probes retrieve. Round8Spec measures
   * agreement against the exhaustive miner on planted positives instead
   * of assuming it.
   *
   * Scale: corpus kernel evaluations drop from |corpus|·|anchors| to
   * |corpus|·nCells (assignment) + probed-cell scoring; at 4096 cells /
   * 8 probes that is ~500× less work per anchor at equal corpus size.
   * `candidateK` must cover the selection (≥ nNegatives + 1 at the
   * margin; oversize it toward ~4× for headroom).
   */
  def tripletMineAnn(candidates: DataFrame, anchors: DataFrame,
                     idCol: String, vecCol: String,
                     posThreshold: Double, nNegatives: Int,
                     candidateK: Int, nCells: Int = 16, nProbe: Int = 4,
                     maxAnchors: Long = 100000L): DataFrame = {
    require(candidateK >= nNegatives + 1,
      s"tripletMineAnn: candidateK=$candidateK cannot cover 1 positive + " +
        s"$nNegatives negatives")
    val anc = anchorsChecked(anchors, idCol, vecCol, maxAnchors, "tripletMineAnn")
    // exact cosines over ANN-retrieved candidates, ranked per anchor
    val scored = ivfTopK(candidates,
        anc.select(col("anchor_id").as(idCol), col("v_a").as(vecCol)),
        idCol, vecCol, k = candidateK, nCentroids = nCells, nProbe = nProbe)
      .select(col("query_id").as("anchor_id"), col("cand_id"), col("cos"))
    val w = Window.partitionBy("anchor_id").orderBy(col("cos").desc, col("cand_id").asc)
    val pos = scored.filter(col("cos") >= posThreshold)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("cand_id").as("pos_id"), col("cos").as("pos_cos"))
    val negs = scored.filter(col("cos") < posThreshold || col("cos").isNull)
      .withColumn("neg_rank", row_number().over(w)).filter(col("neg_rank") <= nNegatives)
      .select(col("anchor_id"), col("cand_id").as("neg_id"),
        col("cos").as("neg_cos"), col("neg_rank"))
    negs.join(broadcast(pos), "anchor_id")
      .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"), col("neg_rank"))
  }

  /** Per-subspace view of an embedding frame: one row per (id, sub) with
   * the dsub-wide slice and the FULL-vector norm riding along. */
  private def subspaced(em: DataFrame, idCol: String, vecCol: String,
                        m: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    em.select(col(idCol).as("id"),
        checkedDim(col(vecCol).cast("array<double>"), dim, "pq").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .select(col("id"), col("nrm"), col("sub"),
        slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("vs"))
  }

  /** (sub, cell, c2) centroid frame with ‖c‖² precomputed, from row-form
   * codebooks — the broadcast side of every PQ assignment join. */
  private def pqCentArrays(codebooks: DataFrame): DataFrame =
    codebooks.groupBy("sub", "cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
        s => s.getField("mean")).as("c"))
      .withColumn("c2", dot(col("c"), col("c")))

  /** argmin-‖vs−c‖² code per (id, sub): broadcast-join the m·ks centroid
   * table on the subspace key, partial-agg argmin — one row per (id, sub)
   * reaches the shuffle regardless of ks. */
  private def pqAssign(sv: DataFrame, cent: DataFrame): DataFrame =
    sv.join(broadcast(cent), "sub")
      .withColumn("d", col("c2") - lit(2.0) * dot(col("vs"), col("c")))
      .groupBy("id", "sub")
      .agg(min_by(col("cell"), struct(col("d"), col("cell"))).as("cell"),
        first(col("vs")).as("vs"), first(col("nrm")).as("nrm"))

  /**
   * Product-quantization codebook training (Jégou et al. 2011, "Product
   * quantization for nearest neighbor search"): the embedding is split
   * into `m` contiguous subspaces of `dim/m` dims and each subspace gets
   * its own `ks`-cell k-means codebook — `m·log2(ks)` bits per vector
   * instead of `dim·64`, the compression layer a 100 TB embedding
   * corpus needs before any index fits anywhere.
   *
   * Training is [[kmeansCentroids]]' Lloyd loop with the subspace index
   * as an extra group key — ALL m codebooks train in the same passes
   * (one broadcast-assign join + one (sub, cell, dim) partial-agg
   * groupBy per round, lineage cut per round), not m sequential runs.
   * Deterministic like kmeans: md5-ordered init (the same picked rows
   * seed every subspace), argmin ties to the smallest cell. Emits
   * engine-portable row form (sub, cell, dim [1-based], mean).
   */
  def pqCodebooks(em: DataFrame, idCol: String, vecCol: String,
                  m: Int, ks: Int, iters: Int, dim: Int,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(m >= 1 && dim % m == 0, s"pqCodebooks: dim $dim not divisible by m $m")
    require(ks >= 1 && iters >= 0, "pqCodebooks needs ks >= 1, iters >= 0")
    val sv = graft.Fixpoint.input(subspaced(em, idCol, vecCol, m, dim), checkpointDir)
    pqTrain(sv, ks, iters, checkpointDir)
      .select(col("sub"), col("cell"), posexplode(col("c")).as(Seq("dim", "mean")))
      .select(col("sub"), col("cell"), (col("dim") + 1).as("dim"), col("mean"))
  }

  /** Deterministic random ORTHOGONAL matrix (seeded Gaussian rows +
   * modified Gram–Schmidt, pure driver-side double arithmetic). Rows
   * are orthonormal to machine precision; the SAME Scala call renders
   * the oracle's literal lists (Double.toString round-trips), so an
   * external engine replays the rotation bit-for-bit — the signMatrix
   * precedent, upgraded from ±1 signs to a full rotation. */
  def rotationMatrix(dim: Int, seed: Long): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    val rows = Array.fill(dim)(Array.fill(dim)(rng.nextGaussian()))
    for (i <- 0 until dim) {
      for (j <- 0 until i) {
        val p = (0 until dim).foldLeft(0.0)((s, k) => s + rows(i)(k) * rows(j)(k))
        for (k <- 0 until dim) rows(i)(k) -= p * rows(j)(k)
      }
      val n = math.sqrt(rows(i).map(x => x * x).sum)
      require(n > 1e-12, "rotationMatrix: degenerate draw (reseed)")
      for (k <- 0 until dim) rows(i)(k) /= n
    }
    rows.toSeq
  }

  /** Rotate an embedding column by a literal matrix: y_j = dot(x, R_j),
   * one codegen DotProduct per output coordinate (the randomProject
   * plan shape; dim² literals — fine at 64×64, switch to the broadcast
   * matrix-join twin past ~10⁶ literals). All other columns pass
   * through, so the rotated frame drops into any vector operator. */
  def rotate(em: DataFrame, vecCol: String, mat: Seq[Array[Double]],
             dim: Int): DataFrame = {
    require(mat.size == dim && mat.forall(_.length == dim),
      s"rotate: matrix must be $dim×$dim")
    val v = checkedDim(col(vecCol).cast("array<double>"), dim, "rotate")
    em.withColumn(vecCol,
      when(v.isNull, lit(null).cast("array<double>"))
        .otherwise(array(mat.map(r =>
          dot(v, array(r.toSeq.map(lit): _*))): _*)))
  }

  /**
   * OPQ codebook training (Ge et al. 2013, "Optimized product
   * quantization", non-parametric variant): plain PQ quantizes in the
   * RAW basis, so correlated/anisotropic dimensions concentrate error
   * in a few subspaces; OPQ learns one orthogonal rotation R that
   * redistributes variance before the split — the reason Faiss ships
   * OPQ in front of IVFADC (typically ~half the ADC error on real
   * embeddings).
   *
   * Alternating optimization, `opqRounds` rounds: (1) rotate the
   * training sample by the current R and run the subspace Lloyd
   * ([[pqCodebooks]]' shared-pass machinery); (2) reconstruct each
   * sample vector from its codes and solve the orthogonal Procrustes
   * problem min_R Σ‖Rx − x̂‖² — maximize tr(R·M), M = Σ x·x̂ᵀ — whose
   * closed form is R = V·Uᵀ from M = U·S·Vᵀ. M is a dim×dim MODEL
   * ARTIFACT aggregated distributively (one posexplode² partial-agg
   * groupBy over the sample); the SVD runs driver-side via a cyclic
   * Jacobi eigensolver on MᵀM — 64×64, microseconds, the topPc
   * collect discipline. Rotation learning rides an md5-lowest-`sampleN`
   * sample (the Faiss practice — the rotation is a 64×64 statistic, a
   * bounded sample saturates it), then the FINAL codebooks train on
   * the FULL rotated corpus. Returns (R rows, row-form codebooks);
   * compose with [[rotate]] + the verbatim PQ code/LUT paths.
   *
   * Spec-gated (the topPc/fitted-IVF discipline): the learned R is
   * data-dependent, so the oracle-backed query (q_ann_opq) instead
   * drives the SAME rotate→PQ→ADC pipeline under a SEEDED
   * [[rotationMatrix]] replayed as SQL literals; the spec certifies
   * the learner — R orthogonal, quantization error monotonically
   * ≤ plain PQ's, recall@5 beating plain PQ on a planted anisotropic
   * corpus.
   */
  def pqCodebooksOpq(em: DataFrame, idCol: String, vecCol: String,
                     m: Int, ks: Int, iters: Int, dim: Int,
                     opqRounds: Int = 3, sampleN: Int = 2000,
                     checkpointDir: Option[String] = None)
      : (Seq[Array[Double]], DataFrame) = {
    require(m >= 1 && dim % m == 0, s"pqCodebooksOpq: dim $dim not divisible by m $m")
    require(opqRounds >= 1 && sampleN >= ks,
      "pqCodebooksOpq needs opqRounds >= 1, sampleN >= ks")
    val base = em.select(col(idCol).as("id"),
        checkedDim(col(vecCol).cast("array<double>"), dim, "pqCodebooksOpq")
          .as("v"))
      .filter(col("v").isNotNull)
    // md5-lowest sample: deterministic, engine-portable, bounded — the
    // rotation is a dim×dim statistic, the sample saturates it
    val sample = graft.CacheScope.persist(
      base.orderBy(md5(col("id").cast("string")), col("id")).limit(sampleN))
    var r = Seq.tabulate(dim)(i =>
      Array.tabulate(dim)(j => if (i == j) 1.0 else 0.0))
    for (_ <- 1 to opqRounds) {
      val rotated = rotate(sample, "v", r, dim)
      val sv = graft.Fixpoint.input(subspaced(rotated, "id", "v", m, dim),
        checkpointDir)
      val cent = pqTrain(sv, ks, iters, checkpointDir)
      // reconstruct x̂ (full-dim, subspace slices in order) per sample id
      val recon = pqAssign(sv, cent)
        .join(cent.select(col("sub"), col("cell"), col("c")), Seq("sub", "cell"))
        .groupBy("id")
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("sub"), col("c")))),
          s => s.getField("c"))).as("xhat"))
      // M = Σ x·x̂ᵀ — dim² cells, a model artifact (topPc discipline)
      val mCells = sample.join(recon, Seq("id"))
        .select(posexplode(col("v")).as(Seq("i", "xi")), col("xhat"))
        .select(col("i"), col("xi"), posexplode(col("xhat")).as(Seq("j", "yj")))
        .groupBy("i", "j").agg(sum(col("xi") * col("yj")).as("s"))
        .collect().map(row => (row.getInt(0), row.getInt(1)) -> row.getDouble(2))
        .toMap
      val mMat = Array.tabulate(dim, dim)((i, j) => mCells.getOrElse((i, j), 0.0))
      r = LinAlg.procrustesRotation(mMat)
    }
    val codebooks = pqCodebooks(rotate(base, "v", r, dim), "id", "v",
      m, ks, iters, dim, checkpointDir)
    (r, codebooks)
  }

  /** Driver-side dense linear algebra for dim×dim MODEL ARTIFACTS (64×64
   * at the shipped shapes — microseconds; never touched by row-scale
   * data). Pure double arithmetic, deterministic. */
  private[graft] object LinAlg {

    /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
     * (eigenvalues, eigenvectors as COLUMNS), both in descending
     * eigenvalue order. Sweeps until off-diagonal mass < 1e-14·‖A‖. */
    def jacobiEig(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
      val n = a0.length
      val a = a0.map(_.clone())
      val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
      val norm = math.sqrt(a.map(_.map(x => x * x).sum).sum)
      var sweep = 0
      var off = Double.MaxValue
      while (off > 1e-14 * math.max(norm, 1e-300) && sweep < 60) {
        sweep += 1
        for (p <- 0 until n; q <- (p + 1) until n if a(p)(q) != 0.0) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          // theta == 0 -> 45° rotation; |theta| huge (near-zero
          // off-diagonal vs diag gap) -> t underflows to ~0, a no-op
          // rotation — NOT 45°, which would destroy converged entries
          val t = if (theta == 0.0) 1.0
            else if (theta.isInfinity || theta.isNaN) 0.0
            else math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (k <- 0 until n) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
          }
          for (k <- 0 until n) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
          }
          for (k <- 0 until n) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
          }
        }
        off = math.sqrt((for (i <- 0 until n; j <- 0 until n if i != j)
          yield a(i)(j) * a(i)(j)).sum)
      }
      val order = (0 until n).sortBy(i => -a(i)(i))
      (order.map(i => a(i)(i)).toArray,
        Array.tabulate(n, n)((i, j) => v(i)(order(j))))
    }

    /** Orthogonal Procrustes: the R maximizing tr(R·M) — R = V·Uᵀ from
     * M = U·S·Vᵀ. V via jacobiEig of MᵀM, U recovered as
     * u_j = M·v_j/s_j — which on an ILL-CONDITIONED M inherits
     * O(ε·s_max/s_j) cross-talk from the eigensolve (measured: 1e-2
     * RRᵀ deviation at κ≈1e7, exactly the anisotropic-embedding shape
     * OPQ exists for) — so U is re-orthonormalized by modified
     * Gram–Schmidt in descending-singular-value order; near-zero or
     * collapsed columns re-seed from identity axes (any orthonormal
     * completion is optimal there — they contribute ~0 to tr(R·M)).
     * The returned R is orthogonal to machine precision regardless of
     * M's conditioning. */
    def procrustesRotation(mIn: Array[Array[Double]]): Seq[Array[Double]] = {
      val n = mIn.length
      val mtm = Array.tabulate(n, n)((i, j) =>
        (0 until n).foldLeft(0.0)((s, k) => s + mIn(k)(i) * mIn(k)(j)))
      val (ev, vcols) = jacobiEig(mtm)
      val smax = math.sqrt(math.max(ev(0), 0.0))
      val u = Array.ofDim[Double](n, n)
      for (j <- 0 until n) {
        val s = math.sqrt(math.max(ev(j), 0.0))
        if (s > 1e-10 * math.max(smax, 1e-300))
          for (i <- 0 until n)
            u(i)(j) = (0 until n).foldLeft(0.0)(
              (acc, k) => acc + mIn(i)(k) * vcols(k)(j)) / s
      }
      var seedE = 0
      for (j <- 0 until n) {
        var ok = false
        var attempts = 0
        while (!ok && attempts <= n) {
          if (attempts > 0) { // collapsed/zero column: identity re-seed
            for (i <- 0 until n) u(i)(j) = if (i == seedE % n) 1.0 else 0.0
            seedE += 1
          }
          for (jj <- 0 until j) {
            val p = (0 until n).foldLeft(0.0)((s, k) => s + u(k)(j) * u(k)(jj))
            for (k <- 0 until n) u(k)(j) -= p * u(k)(jj)
          }
          val nrm = math.sqrt((0 until n).map(k => u(k)(j) * u(k)(j)).sum)
          if (nrm > 1e-6) {
            for (k <- 0 until n) u(k)(j) /= nrm
            ok = true
          }
          attempts += 1
        }
        require(ok, "procrustesRotation: orthonormal completion failed")
      }
      // R = V·Uᵀ: R(i)(j) = Σ_k V(i,k)·U(j,k)
      Seq.tabulate(n)(i => Array.tabulate(n)(j =>
        (0 until n).foldLeft(0.0)((s, k) => s + vcols(i)(k) * u(j)(k))))
    }
  }

  /** Lloyd loop over a subspaced frame that entered through
   * [[graft.Fixpoint.input]]; returns the array-form centroid frame
   * (sub, cell, c, c2). */
  private def pqTrain(sv: DataFrame, ks: Int, iters: Int,
                      checkpointDir: Option[String]): DataFrame = {
    val picked = sv.filter(col("sub") === 0).select(col("id"))
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy("h").limit(ks)
      .withColumn("cell", (hRank - 1).cast("int"))
      .select("id", "cell")
    val cent0 = sv.join(broadcast(picked), "id")
      .select(col("sub"), col("cell"), col("vs").as("c"))
      .withColumn("c2", dot(col("c"), col("c")))
    graft.Fixpoint.iterate("pqTrain", cent0, checkpointDir)(
        graft.Fixpoint.Fixed(iters)) { (cent, _, cut) =>
      val next = pqAssign(sv, cent)
        .select(col("sub"), col("cell"), posexplode(col("vs")).as(Seq("dim", "x")))
        .groupBy("sub", "cell", "dim").agg(avg("x").as("mean"))
      pqCentArrays(cut(next
        .select(col("sub"), col("cell"), (col("dim") + 1).as("dim"), col("mean"))))
    }
  }

  /**
   * PQ-compressed ANN via asymmetric distance computation (ADC): train
   * codebooks on the candidate corpus, encode every candidate to m
   * codes, then score each query against the CODES — per query one
   * m·ks-entry lookup table of subspace dot products (broadcast), the
   * approximate dot is the sum of its m lookups, and the cosine uses
   * the candidate's EXACT stored norm (the standard PQ-index trick: one
   * extra float per vector, no second pass over raw data at query
   * time). Top-k per query by the ADC cosine, ties to the smallest id.
   *
   * Scale shape: codes are m ints + 1 double per candidate — the raw
   * vectors are read once at build time and never again; scoring is a
   * broadcast equi-join (sub, code) + one partial-agg'd (query, cand)
   * sum; ranking shuffles on query_id (balanced high-fanout keys).
   */
  /**
   * IVF-PQ ANN (Jégou et al. 2011 §V: the IVFADC system) — the index
   * shape a 100 TB embedding corpus actually ships: a coarse inverted
   * file restricts the search to `nProbe` of `nCells` cells, and within
   * cells candidates are scored from PQ codes of their RESIDUAL
   * (v − coarse centroid), never from raw vectors. Composition of
   * [[ivfTopK]]'s coarse quantizer (md5 hash-picked, cross-engine
   * reproducible) and [[pqCodebooks]]' subspace Lloyd — trained on the
   * residuals, which concentrate near 0 so one shared codebook serves
   * every cell (the standard IVFADC choice).
   *
   * Query scoring is asymmetric (ADC) against the identity
   * q·v ≈ q·c_cell + q·r̂: the first term is the probe join's coarse
   * dot, the second is m lookups in the per-query subspace LUT; the
   * cosine then uses the candidate's EXACT stored norm. Recall is
   * strictly better than plain PQ at equal code budget because the
   * residual quantization error is a fraction of the full-vector one —
   * and it is MEASURED (recallAtK vs brute truth), not assumed.
   *
   * Scale shape: raw candidate vectors are read once at build; the
   * stored index is m ints + 1 cell id + 1 double per vector. Scoring
   * touches only probed cells via an equi-join on cell id against a
   * BROADCAST (probe × LUT) frame of |queries|·nProbe·m·ks rows; one
   * partial-agg'd (query, cand) sum reaches the shuffle. The plan is
   * O(1) in nCells and ks — a 4096-cell, 256-code index compiles
   * exactly like the test shape.
   */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int, dim: Int,
                nCells: Int = 16, nProbe: Int = 4,
                m: Int = 4, ks: Int = 8, iters: Int = 2,
                checkpointDir: Option[String] = None,
                coarseCentroids: Option[DataFrame] = None): DataFrame =
    ivfPqScore(
      ivfPqIndexBuild(candidates, idCol, vecCol, dim, nCells, m, ks, iters,
        checkpointDir, coarseCentroids),
      queries, idCol, vecCol, k, nProbe)

  /** A trained IVFADC index — the three frames every query batch needs:
   * the coarse cells (probe side), the shared residual codebooks (LUT
   * side) and the per-candidate code table (ADC join side). The
   * [[PqIndex]] shape with the coarse inverted file attached; built by
   * [[ivfPqIndexBuild]], scored by [[ivfPqScore]]. */
  final case class IvfPqIndex(cent: DataFrame, pqcent: DataFrame,
                              codes: DataFrame, dim: Int, m: Int,
                              nCells: Int, ks: Int, iters: Int)

  /**
   * Index half of [[ivfPqTopK]] — everything that is QUERY-INDEPENDENT
   * (coarse cells, candidate cell assignment, residual codebooks, code
   * table), split out so several query paths can score one build (the
   * [[pqIndexBuild]]/[[pqScore]] separation applied to IVFADC; a real
   * deployment trains nightly and serves every batch from the frozen
   * index). `share` is an optional memoization hook: called with a
   * stable sub-key ("cent"/"pqcent"/"codes") and a thunk, it may return
   * a cached frame instead of invoking the thunk — [[graft.SparkEntry]]
   * routes it to [[graft.SharedStage]] so q_ann_ivfpq and
   * q_knn_label_ann (identical index parameters by design) train ONCE
   * per input dir instead of once per query. Default: no sharing,
   * plans and results identical to the pre-split ivfPqTopK.
   */
  def ivfPqIndexBuild(candidates: DataFrame, idCol: String, vecCol: String,
                      dim: Int, nCells: Int = 16,
                      m: Int = 4, ks: Int = 8, iters: Int = 2,
                      checkpointDir: Option[String] = None,
                      coarseCentroids: Option[DataFrame] = None,
                      share: (String, () => DataFrame) => DataFrame =
                        (_, f) => f()): IvfPqIndex = {
    require(m >= 1 && dim % m == 0, s"ivfPqTopK: dim $dim not divisible by m $m")
    require(nCells >= 1 && ks >= 1 && iters >= 0,
      "ivfPqIndexBuild needs nCells/ks >= 1, iters >= 0")
    val dsub = dim / m
    val base = candidates.select(col(idCol).as("cand_id"),
        checkedDim(col(vecCol).cast("array<double>"), dim, "ivfpq").as("v_c"))
      .withColumn("nrm_c", sqrt(dot(col("v_c"), col("v_c"))))
    // coarse quantizer: [[hashPickedCells]] by default (deterministic,
    // oracle-replayable) or FITTED [[kmeansCentroids]] row-form output
    // via `coarseCentroids` (nCells then comes from the frame) — trained
    // cells align with real clusters, so the same nProbe buys strictly
    // better recall on clustered corpora (Round8Spec measures it, the
    // same composition as ivfTopKFitted). Feeds THREE joins → persist.
    val cent = graft.CacheScope.persist(share("cent", () => coarseCentroids
      .map(fittedCells).getOrElse(hashPickedCells(base, nCells))))
    // nearest cell per candidate (argmax cosine, ties to smallest cell);
    // partial agg collapses the ×nCells expansion before the shuffle
    val assigned = base.crossJoin(broadcast(cent))
      .withColumn("cscore", cosOver(dot(col("v_c"), col("c_vec")), col("c_nrm")))
      .groupBy("cand_id")
      .agg(max_by(col("cell"), struct(col("cscore"), -col("cell"))).as("ivf_cell"),
        first(col("v_c")).as("v_c"), first(col("nrm_c")).as("nrm_c"))
    // residual r = v − c_cell, subspaced; the zip_with subtraction is
    // interpreted but runs ONCE per vector at build time, never at query
    // time. nrm stays the EXACT full-vector norm (ADC needs it).
    val sv = graft.Fixpoint.input(assigned
      .join(broadcast(cent.select(col("cell").as("ivf_cell"), col("c_vec"))), "ivf_cell")
      .withColumn("r", zip_with(col("v_c"), col("c_vec"), (x, y) => x - y))
      .select(col("cand_id").as("id"), col("ivf_cell"), col("nrm_c").as("nrm"), col("r"))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .select(col("id"), col("ivf_cell"), col("nrm"), col("sub"),
        slice(col("r"), col("sub") * dsub + 1, lit(dsub)).as("vs")), checkpointDir)
    // ONE shared residual codebook set across cells (standard IVFADC);
    // trained in pqTrain's joint subspace passes
    val pqcent = graft.CacheScope.persist(
      share("pqcent", () => pqTrain(sv, ks, iters, checkpointDir)))
    // encode: m residual codes + coarse cell + exact norm per candidate
    val codes = share("codes", () => sv.join(broadcast(pqcent), "sub")
      .withColumn("d", col("c2") - lit(2.0) * dot(col("vs"), col("c")))
      .groupBy("id", "sub")
      .agg(min_by(col("cell"), struct(col("d"), col("cell"))).as("code"),
        first(col("ivf_cell")).as("ivf_cell"), first(col("nrm")).as("nrm_c"))
      .select(col("id").as("cand_id"), col("sub"), col("code"),
        col("ivf_cell"), col("nrm_c")))
    IvfPqIndex(cent, pqcent, codes, dim, m, nCells, ks, iters)
  }

  /** Query half of [[ivfPqTopK]]: probe `nProbe` coarse cells, build the
   * per-query m·ks subspace LUT, ADC-score the probed cells' codes —
   * expression-for-expression the pre-split query path, so scoring any
   * query frame against a built index is bit-identical to the fused
   * call. */
  def ivfPqScore(index: IvfPqIndex, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 nProbe: Int = 4): DataFrame = {
    require(nProbe >= 1 && k >= 1, "ivfPqScore needs nProbe/k >= 1")
    val dsub = index.dim / index.m
    val cent = index.cent
    val pqcent = index.pqcent
    val codes = index.codes
    // queries probe their nProbe closest cells, carrying the coarse dot
    // q·c (the first ADC term)
    val probed = queries.select(col(idCol).as("query_id"),
        checkedDim(col(vecCol).cast("array<double>"), index.dim, "ivfpq").as("v_q"))
      .withColumn("nrm_q", sqrt(dot(col("v_q"), col("v_q"))))
      .crossJoin(broadcast(cent))
      .withColumn("qc", dot(col("v_q"), col("c_vec")))
      .withColumn("cscore", cosOver(col("qc"), col("c_nrm")))
      .withColumn("prank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cscore").desc, col("cell").asc)))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("cell").as("p_cell"), col("qc"),
        col("v_q"), col("nrm_q"))
    // per-query LUT of subspace dots q_s · c(sub, code) — m·ks entries
    val lut = probed.select("query_id", "v_q").distinct()
      .withColumn("sub", explode(sequence(lit(0), lit(index.m - 1))))
      .select(col("query_id"), col("sub"),
        slice(col("v_q"), col("sub") * dsub + 1, lit(dsub)).as("qs"))
      .join(broadcast(pqcent), "sub")
      .select(col("query_id"), col("sub"), col("cell").as("p_code"),
        dot(col("qs"), col("c")).as("dp"))
    // (probe × LUT): |queries|·nProbe·m·ks rows — broadcast by contract
    val probedLut = probed.drop("v_q").join(lut, "query_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    codes.join(broadcast(probedLut),
        codes("ivf_cell") === probedLut("p_cell") &&
          codes("sub") === probedLut("sub") &&
          codes("code") === probedLut("p_code"))
      .groupBy("query_id", "cand_id")
      .agg(sum("dp").as("rsum"), first("qc").as("qc"),
        first("nrm_c").as("nrm_c"), first("nrm_q").as("nrm_q"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosOver(col("qc") + col("rsum"), col("nrm_q") * col("nrm_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }

  /**
   * A trained PQ index: the per-candidate code table (m ints + the exact
   * norm each) and the codebook centroid table — the two frames a
   * retrieval service keeps RESIDENT while query batches come and go
   * (e.g. [[graft.streaming.AnnStream]] scores a query stream against
   * one of these per micro-batch). Build once with [[pqIndexBuild]],
   * score any number of query frames with [[pqScore]].
   */
  final case class PqIndex(codes: DataFrame, codebooks: DataFrame,
                           dim: Int, m: Int) {
    /** Unpersist this index's cached frames. Call on a SUPERSEDED index
     * after the replacement has been swapped in ([[pqIndexAppend]]'s
     * lifecycle note) — never on one a stream may still score against. */
    def release(): Unit = {
      scala.util.Try(codes.unpersist(false))
      scala.util.Try(codebooks.unpersist(false))
    }
  }

  /** Train codebooks and encode the corpus — the index half of
   * [[pqTopK]]. `codes` is persisted: a resident index must not replay
   * the encode join (corpus-sized) for every query batch scored
   * against it. */
  def pqIndexBuild(candidates: DataFrame, idCol: String, vecCol: String,
                   dim: Int, m: Int = 4, ks: Int = 8, iters: Int = 2,
                   checkpointDir: Option[String] = None): PqIndex = {
    require(m >= 1 && dim % m == 0, s"pqIndexBuild: dim $dim not divisible by m $m")
    require(ks >= 1 && iters >= 0, "pqIndexBuild needs ks >= 1, iters >= 0")
    // ONE subspaced pass over the raw vectors serves both training and
    // encoding; the centroid table feeds the encode join AND every
    // query LUT — persist or the Lloyd loop replays per consumer
    val sv = graft.Fixpoint.input(subspaced(candidates, idCol, vecCol, m, dim),
      checkpointDir)
    val cent = graft.CacheScope.persist(pqTrain(sv, ks, iters, checkpointDir))
    val codes = graft.CacheScope.persist(pqAssign(sv, cent)
      .select(col("id").as("cand_id"), col("sub"), col("cell").as("code"),
        col("nrm").as("nrm_c")))
    PqIndex(codes, cent, dim, m)
  }

  /** ADC scoring of a query frame against a built [[PqIndex]] — the
   * query half of [[pqTopK]]: per-query LUT (m·ks broadcast rows),
   * partial-agg'd LUT-sum per (query, cand), top-k rank. Stateless in
   * the queries: any number of frames/micro-batches score against the
   * same index and agree row-for-row with a single-frame run. */
  def pqScore(index: PqIndex, queries: DataFrame,
              idCol: String, vecCol: String, k: Int): DataFrame = {
    val lut = subspaced(queries, idCol, vecCol, index.m, index.dim)
      .join(broadcast(index.codebooks), "sub")
      .select(col("id").as("query_id"), col("sub"), col("cell"),
        dot(col("vs"), col("c")).as("dp"), col("nrm").as("nrm_q"))
    val codes = index.codes
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cell"))
      .groupBy("query_id", "cand_id")
      .agg(sum("dp").as("dsum"), first("nrm_c").as("nrm_c"),
        first("nrm_q").as("nrm_q"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosOver(col("dsum"), col("nrm_q") * col("nrm_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }

  def pqTopK(candidates: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, dim: Int,
             m: Int = 4, ks: Int = 8, iters: Int = 2,
             checkpointDir: Option[String] = None): DataFrame =
    pqScore(pqIndexBuild(candidates, idCol, vecCol, dim, m, ks, iters,
      checkpointDir), queries, idCol, vecCol, k)

  /**
   * Grow a [[PqIndex]] WITHOUT retraining: encode the new vectors with
   * the index's FROZEN codebooks and UPSERT their codes — an id already
   * in the index is REPLACED by its new encoding (re-ingests, retries,
   * and vector updates are all idempotent; a blind union would leave
   * two code rows per (id, sub) and every later [[pqScore]] would
   * silently double-count that candidate's LUT sum). This is how a
   * deployed retrieval index ingests — codebooks retrain on a schedule
   * (then swap atomically, see
   * [[graft.streaming.AnnStream.pqRetrieveSwappable]]); between
   * retrains every append pays one broadcast-assign encode of the
   * DELTA plus a broadcast anti-join of the resident codes against the
   * delta's ids (the codes are scanned from cache, never re-derived
   * from raw vectors). Quantization matches a full re-encode under the
   * same codebooks by construction: the encode join is the same
   * [[pqAssign]] argmin.
   *
   * Lifecycle: the returned index persists a NEW codes frame; the old
   * one stays cached for any in-flight reader. After swapping the new
   * index in (AnnStream contract: no later batch can observe the old
   * one), call `old.release()` so a long-lived service doesn't pin one
   * superseded code table per ingest.
   */
  def pqIndexAppend(index: PqIndex, newVecs: DataFrame,
                    idCol: String, vecCol: String): PqIndex = {
    val sv = subspaced(newVecs, idCol, vecCol, index.m, index.dim)
    val newCodes = pqAssign(sv, index.codebooks)
      .select(col("id").as("cand_id"), col("sub"), col("cell").as("code"),
        col("nrm").as("nrm_c"))
    val survivors = index.codes.join(
      broadcast(newCodes.select("cand_id").distinct()), Seq("cand_id"), "left_anti")
    index.copy(codes = graft.CacheScope.persist(
      survivors.unionByName(newCodes)))
  }

  /** Remove ids from a [[PqIndex]] without touching any other code row —
   * the delete half of incremental index maintenance (RTBF erasure and
   * CDF deletes both land here). Plan: one broadcast anti-join of the
   * resident codes against the (batch-sized) id set; the raw corpus is
   * never read. Same lifecycle as [[pqIndexAppend]]: new index returned,
   * caller releases the superseded one after the swap. */
  def pqIndexDelete(index: PqIndex, deletedIds: DataFrame,
                    idCol: String): PqIndex =
    index.copy(codes = graft.CacheScope.persist(index.codes.join(
      broadcast(deletedIds.select(col(idCol).as("cand_id")).distinct()),
      Seq("cand_id"), "left_anti")))

  /**
   * Maintain a [[PqIndex]] FROM A CHANGE FEED — the composition that
   * makes the ANN index a MATERIALIZED VIEW of the document store:
   * [[graft.sources.StateStore.changesBetween]] says exactly which ids
   * appeared / changed / vanished between two snapshots, and this
   * applies precisely those — inserts and update post-images encode
   * with the FROZEN codebooks and upsert ([[pqIndexAppend]] semantics),
   * deletes drop their code rows ([[pqIndexDelete]]), unchanged ids are
   * NEVER re-read or re-encoded. At 100 TB this is the difference
   * between "re-embed and re-index the corpus nightly" and "pay for the
   * day's delta": the feed is batch-sized, so one broadcast anti-join +
   * one delta encode is the whole cost.
   *
   * One combined pass (not delete-then-append chained) so the resident
   * codes are anti-joined ONCE against the union of retracted and
   * re-encoded ids — two chained steps would persist an intermediate
   * codes frame per feed.
   *
   * Result contract (the Round10 spec gate): applying the v1→v2 feed to
   * an index built over state@v1 yields code rows EQUAL to encoding
   * state@v2 from scratch with the same codebooks.
   */
  def pqIndexApplyChanges(index: PqIndex, feed: DataFrame,
                          idCol: String, vecCol: String): PqIndex = {
    val upserts = feed
      .filter(col("change_type").isin("insert", "update_postimage"))
      .select(col(idCol), col(vecCol))
    val deletes = feed.filter(col("change_type") === "delete")
      .select(col(idCol).as("cand_id"))
    val sv = subspaced(upserts, idCol, vecCol, index.m, index.dim)
    val newCodes = pqAssign(sv, index.codebooks)
      .select(col("id").as("cand_id"), col("sub"), col("cell").as("code"),
        col("nrm").as("nrm_c"))
    val gone = deletes.unionByName(newCodes.select("cand_id")).distinct()
    index.copy(codes = graft.CacheScope.persist(
      index.codes.join(broadcast(gone), Seq("cand_id"), "left_anti")
        .unionByName(newCodes)))
  }

  /**
   * Multi-vector late-interaction retrieval (MaxSim; Khattab & Zaharia
   * 2020, ColBERT): documents and queries are BAGS of vectors (one per
   * token/patch), and score(q, d) = Σ_{u ∈ q} max_{v ∈ d} cos(u, v) —
   * each query vector finds its best match in the document
   * independently, which preserves token-level interaction that a
   * single pooled vector destroys.
   *
   * Input frames are flat `(docIdCol, vecIdCol, vecCol)` rows — the
   * layout a 100 TB multi-vector corpus stores (one row per vector,
   * doc-id keyed), not array-of-arrays blobs. The query bag (a query
   * BATCH — bounded by contract, `maxQueryVecs` enforced) broadcasts
   * into one scan of the candidate vectors; the per-(query doc, cand
   * doc, query vec) max and the per-(query doc, cand doc) sum are both
   * partial-agg'd, so one corpus pass + one balanced (qd, cd) shuffle
   * + the final query-keyed top-k rank is the whole plan. The corpus
   * never self-joins and never shuffles its vectors.
   *
   * `scoreRoundDecimals`: rank on the ROUNDED score (same contract as
   * [[graft.operators.Text.bm25TopK]]) — the per-(qd, cd) score is a
   * SUM of per-query-vector maxes, and FP sums are accumulation-order-
   * dependent, so near-tied candidate bags can rank differently
   * run-to-run and engine-to-engine on the raw double. None keeps raw.
   */
  def maxSimTopK(docVecs: DataFrame, queryVecs: DataFrame,
                 docIdCol: String, vecIdCol: String, vecCol: String,
                 k: Int, dim: Int, maxQueryVecs: Int = 10000,
                 scoreRoundDecimals: Option[Int] = None): DataFrame = {
    val cand = docVecs.select(col(docIdCol).as("cand_doc"),
        checkedDim(col(vecCol).cast("array<double>"), dim, "maxsim").as("v_c"))
      .withColumn("nrm_c", sqrt(dot(col("v_c"), col("v_c"))))
    // broadcast contract, enforced IN-PLAN (no job at plan-build time,
    // same pattern as budgetSelect's boundary gate): every query vector
    // carries the batch's total row count from a windowed count and
    // asserts it under the ceiling as it flows into the join broadcast.
    // assert_true is NULL on pass, so the isNull filter keeps all rows.
    val q = queryVecs.select(col(docIdCol).as("query_doc"),
        col(vecIdCol).as("qvec_id"),
        checkedDim(col(vecCol).cast("array<double>"), dim, "maxsim").as("v_q"))
      .withColumn("nrm_q", sqrt(dot(col("v_q"), col("v_q"))))
      .withColumn("_nq", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("_gate", assert_true(col("_nq") <= maxQueryVecs,
        concat(lit("maxSimTopK: query batch holds "), col("_nq"),
          lit(s" vectors > maxQueryVecs=$maxQueryVecs — every corpus task " +
            "receives the whole batch via broadcast; split the batch or " +
            "raise the ceiling deliberately"))))
      .filter(col("_gate").isNull).drop("_gate", "_nq")
    val w = Window.partitionBy("query_doc").orderBy(col("maxsim").desc,
      col("cand_doc").asc)
    cand.join(broadcast(q), col("query_doc") =!= col("cand_doc"))
      .withColumn("cos", cosOver(dot(col("v_q"), col("v_c")),
        col("nrm_q") * col("nrm_c")))
      .groupBy("query_doc", "cand_doc", "qvec_id")
      .agg(max("cos").as("best"))
      .groupBy("query_doc", "cand_doc")
      .agg(sum("best").as("maxsim"), count(lit(1)).as("n_qvecs"))
      .withColumn("maxsim", scoreRoundDecimals.fold(col("maxsim")) { d =>
        val p = math.pow(10, d)
        floor(col("maxsim") * p + 0.5) / p
      })
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_doc"), col("cand_doc"), col("maxsim"),
        col("n_qvecs"), col("rank"))
  }

  /**
   * MMR diversified rerank (Carbonell & Goldstein, SIGIR'98) — the
   * last stage of the retrieval stack ([[graft.operators.Text.bm25TopK]]
   * / [[pqScore]] / [[graft.operators.Analytics.rrfFuse]] produce the
   * candidate pools this re-orders): greedily pick k candidates
   * maximizing `λ·rel − (1−λ)·max_{s∈selected} cos(c, s)`, so a pool
   * full of near-duplicates returns DIVERSE results instead of the same
   * document k times — for a training-data pipeline, also the
   * "select informative, non-redundant examples" primitive.
   *
   * Scale shape: the pool is ALREADY per-query top-n (bounded by the
   * upstream retriever and enforced here via `maxCandidates`), so the
   * greedy runs per query group over ≤ n rows — `mapGroups` by
   * necessity, argued like the image codec: iterated argmax with
   * growing selected-set state has no Catalyst form, and k·n² dot
   * products over a few dozen rows per query is driver-free map work.
   * Queries process independently — 10⁶ concurrent queries parallelize
   * across partitions with no shuffle beyond the group-by.
   *
   * Contract notes: `rel` and cosine must share a scale for λ to mean
   * anything (feed it cosine relevance, normalized BM25, or RRF scores
   * rescaled to [0,1]). Zero-norm vectors contribute similarity 0
   * (nothing to be redundant WITH). Ties break on cand_id ascending —
   * deterministic across runs and partitionings. λ=1 degenerates to
   * plain relevance top-k (the spec's exactness gate).
   *
   * Returns `(query_id, cand_id, rel, mmr, rank)` — `mmr` is the score
   * at selection time (first pick's mmr = λ·rel: the convention that
   * keeps one formula for every rank instead of special-casing rank 1).
   */
  def mmrRerank(cands: DataFrame, queryIdCol: String, candIdCol: String,
                relCol: String, vecCol: String, k: Int,
                lambda: Double = 0.5, dim: Int = 0,
                maxCandidates: Int = 1024): DataFrame = {
    require(k >= 1, s"mmrRerank needs k >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val spark = cands.sparkSession
    import spark.implicits._
    val in = cands.select(
        col(queryIdCol).cast("long").as("query_id"),
        col(candIdCol).cast("long").as("cand_id"),
        col(relCol).cast("double").as("rel"),
        (if (dim > 0) checkedDim(col(vecCol).cast("array<double>"), dim, "mmr")
         else col(vecCol).cast("array<double>")).as("v"))
      .as[(Long, Long, Double, Seq[Double])]
    in.groupByKey(_._1).flatMapGroups { (qid, rows) =>
      val pool = rows.map { case (_, cid, rel, v) => (cid, rel, v.toArray) }
        .toArray.sortBy(_._1)
      require(pool.length <= maxCandidates,
        s"mmrRerank: query $qid pool ${pool.length} > maxCandidates=" +
          s"$maxCandidates — rerank a RETRIEVED top-n, not a corpus")
      val nrm = pool.map(p => math.sqrt(p._3.map(x => x * x).sum))
      def cos(i: Int, j: Int): Double =
        if (nrm(i) == 0.0 || nrm(j) == 0.0) 0.0
        else {
          var s = 0.0; var d = 0
          val a = pool(i)._3; val b = pool(j)._3
          val n = math.min(a.length, b.length)
          while (d < n) { s += a(d) * b(d); d += 1 }
          s / (nrm(i) * nrm(j))
        }
      val selected = scala.collection.mutable.ArrayBuffer[Int]()
      // true running max cos to the selected set — NegativeInfinity
      // sentinel, NOT 0: cosine goes negative, and clamping at zero
      // would silently erase the formula's reward for anti-correlated
      // candidates (the first pick has no selected set; its penalty is
      // defined as 0)
      val maxSim = Array.fill(pool.length)(Double.NegativeInfinity)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Double, Int)]()
      val picked = Array.fill(pool.length)(false)
      var rank = 1
      while (rank <= k && selected.length < pool.length) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < pool.length) {
          if (!picked(i)) {
            val pen = if (selected.isEmpty) 0.0 else maxSim(i)
            val score = lambda * pool(i)._2 - (1 - lambda) * pen
            // strict > keeps the smallest cand_id on ties (pool sorted)
            if (score > bestScore) { bestScore = score; best = i }
          }
          i += 1
        }
        // all-NaN scores (e.g. NaN rel across the pool) never beat the
        // -Inf sentinel under strict '>' — fail with the cause, not an
        // ArrayIndexOutOfBounds on picked(-1)
        require(best >= 0,
          s"mmrRerank: query $qid produced no scorable candidate at rank " +
            s"$rank — every remaining MMR score is NaN (check $relCol)")
        picked(best) = true
        selected += best
        out += ((qid, pool(best)._1, pool(best)._2, bestScore, rank))
        var j = 0
        while (j < pool.length) {
          if (!picked(j)) {
            val s = cos(j, best)
            if (s > maxSim(j)) maxSim(j) = s
          }
          j += 1
        }
        rank += 1
      }
      out.iterator
    }.toDF("query_id", "cand_id", "rel", "mmr", "rank")
  }

  /**
   * DECOMPRESS a [[PqIndex]] back to approximate vectors — each code
   * row swaps for its sub-centroid and the m pieces concatenate in
   * subspace order (standard PQ reconstruction; error is exactly the
   * quantization error the fidelity gates measure). One broadcast join
   * against the m·ks centroid table + one cand-keyed assembly shuffle —
   * index-sized, the raw corpus is never read. This is how a service
   * gets candidate-vector geometry (e.g. MMR diversification) from the
   * resident index alone at 100 TB: reconstruct once per index
   * generation and persist alongside the codes.
   */
  def pqReconstruct(index: PqIndex): DataFrame =
    index.codes
      .join(broadcast(index.codebooks
        .select(col("sub"), col("cell").as("code"), col("c"))), Seq("sub", "code"))
      .groupBy("cand_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("c")))),
        s => s.getField("c"))).as("vec"))

  /** Sign-bit packing for [[binaryTopK]]: bit i of word ⌊i/64⌋ set iff
   * `vec[i] > 0` — ceil(dim/64) longs per vector, a 32× compression of
   * float64 arrays. Static bit masks fold into the plan (O(dim)
   * literals — fine at embedding dims; a 4096-d corpus would want a
   * codegen kernel, the SimHash64 pattern). */
  def signBits(vec: Column, dim: Int): Column = {
    require(dim >= 1, "signBits needs dim >= 1")
    val words = (dim + 63) / 64
    array((0 until words).map { w =>
      val lo = w * 64
      (lo until math.min(dim, lo + 64)).map(i =>
        when(element_at(vec, i + 1) > 0, lit(1L << (i - lo)))
          .otherwise(lit(0L)))
        .reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Hamming distance between two sign-bit words arrays: xor +
   * bit_count per word, summed — integer, so rankings are
   * engine-reproducible with no FP parity care at the shortlist stage. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /**
   * BINARY-QUANTIZATION ANN — the sign-bit shortlist every vector store
   * now ships (BQ): the corpus packs once to ceil(dim/64) longs per
   * vector ([[signBits]]), retrieval ranks by HAMMING distance (bitwise
   * xor + popcount over longs — codegen'd builtins, ~d/64 word ops
   * instead of d float multiplies), keeps a per-query `shortlist`, and
   * reranks ONLY the shortlist with exact cosine. At 100 TB the packed
   * index is 32× smaller than the float64 corpus (often memory-resident
   * when the vectors are not) and the expensive exact math touches
   * shortlist·|queries| rows. Same broadcast-query scan shape as
   * [[bruteForceTopK]]; quality is a MEASURED recall gate in q_ann_binary
   * (sign bits keep direction information — on real embeddings hamming
   * correlates strongly with cosine).
   *
   * Returns `(query_id, cand_id, ham, cos, rank)`, rank by exact cosine
   * within the shortlist (ham integer-exact, cosine the strict-fold
   * kernel, ties on cand_id — engine-reproducible end to end).
   */
  def binaryTopK(em: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, dim: Int,
                 shortlist: Int = 32): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"binaryTopK needs k >= 1 and shortlist >= k, got k=$k shortlist=$shortlist")
    val corpus = graft.CacheScope.persist(
      em.select(col(idCol).as("cand_id"),
        checkedDim(col(vecCol).cast("array<double>"), dim, "binaryTopK").as("v"))
        .withColumn("bits", signBits(col("v"), dim)))
    val qp = queries.select(col(idCol).as("query_id"),
        checkedDim(col(vecCol).cast("array<double>"), dim, "binaryTopK").as("vq"))
      .withColumn("qbits", signBits(col("vq"), dim))
    val wHam = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("cand_id").asc)
    val wCos = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id").asc)
    corpus.crossJoin(broadcast(qp))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("ham", hamming(col("bits"), col("qbits")))
      .withColumn("hrank", row_number().over(wHam))
      .filter(col("hrank") <= shortlist)
      .withColumn("cos", cosine(col("v"), col("vq")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("ham"), col("cos"),
        col("rank"))
  }

  /**
   * Top principal component of an embedding column via distributed
   * POWER ITERATION — the direction-finding half of All-but-the-top
   * (Mu et al., ICLR'18): sentence/document embeddings share a large
   * "common direction" that inflates every cosine, and removing μ and
   * the top PC(s) measurably sharpens retrieval and clustering.
   *
   * Never materializes the d×d covariance: each iteration is one pass
   * over the corpus computing `v' = Σᵢ xcᵢ·(xcᵢ·v)` — the projection is
   * one codegen DotProduct against the current v as plan literals, the
   * weighted vector sum a posexplode + groupBy(pos) that PARTIAL-AGGS
   * to d rows per partition before the shuffle (d·n_partitions rows
   * moved per iteration, not d·n). The centered frame is persisted
   * once; v (a d-sized model artifact, the k-means-centroid treatment)
   * lives on the driver between iterations.
   *
   * Deterministic: init is the all-equal unit vector, iteration count
   * is fixed (power iteration converges geometrically in λ₁/λ₂ — 15
   * rounds is plenty for the dominant-direction use case), and the
   * returned pc is sign-fixed (largest-|coordinate| positive). A
   * degenerate corpus (all rows identical → zero centered mass) yields
   * pc = all-zeros rather than NaN. Null vectors are ignored.
   *
   * Returns `(mu, pc)` as driver arrays — inputs to [[removeTopPc]] or
   * any external consumer.
   */
  def topPc(em: DataFrame, vecCol: String, dim: Int,
            iters: Int = 15): (Array[Double], Array[Double]) = {
    require(dim >= 1 && iters >= 1, "topPc needs dim >= 1, iters >= 1")
    val base = graft.CacheScope.persist(
      em.select(checkedDim(col(vecCol).cast("array<double>"), dim, "topPc")
          .as("v"))
        .filter(col("v").isNotNull))
    val muRow = base
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(avg("x").as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val mu = Array.tabulate(dim)(muRow.getOrElse(_, 0.0))
    val muLit = array(mu.toSeq.map(lit): _*)
    val centered = graft.CacheScope.persist(
      base.select(zip_with(col("v"), muLit, (a, b) => a - b).as("xc")))
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var degenerate = false
    for (_ <- 1 to iters if !degenerate) {
      val vLit = array(v.toSeq.map(lit): _*)
      val s = centered
        .select(posexplode(col("xc")).as(Seq("pos", "x")),
          dot(col("xc"), vLit).as("p"))
        .groupBy("pos").agg(sum(col("x") * col("p")).as("s"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val next = Array.tabulate(dim)(s.getOrElse(_, 0.0))
      val nrm = math.sqrt(next.map(x => x * x).sum)
      if (nrm == 0.0) { degenerate = true; v = Array.fill(dim)(0.0) }
      else v = next.map(_ / nrm)
    }
    if (!degenerate) {
      val iMax = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(iMax) < 0) v = v.map(-_)
    }
    (mu, v)
  }

  /**
   * All-but-the-top post-processing: center on μ and remove the top
   * principal component — `x → (x−μ) − pc·(pcᵀ(x−μ))`. One map-only
   * pass (the per-row projection is a codegen DotProduct against the
   * pc literals; no shuffle, vectors stay in their scan partitions);
   * the direction comes from [[topPc]] unless the caller passes a
   * precomputed `(mu, pc)` — the model-artifact pattern: fit on a
   * sample or yesterday's corpus, apply to 100 TB.
   */
  def removeTopPc(em: DataFrame, idCol: String, vecCol: String, dim: Int,
                  iters: Int = 15,
                  fitted: Option[(Array[Double], Array[Double])] = None): DataFrame = {
    val (mu, pc) = fitted.getOrElse(topPc(em, vecCol, dim, iters))
    require(mu.length == dim && pc.length == dim,
      s"removeTopPc: fitted (mu, pc) lengths (${mu.length}, ${pc.length}) != dim $dim")
    val muLit = array(mu.toSeq.map(lit): _*)
    val pcLit = array(pc.toSeq.map(lit): _*)
    em.select(col(idCol),
        checkedDim(col(vecCol).cast("array<double>"), dim, "removeTopPc")
          .as("v"))
      .withColumn("xc", zip_with(col("v"), muLit, (a, b) => a - b))
      .withColumn("p", dot(col("xc"), pcLit))
      .select(col(idCol),
        zip_with(col("xc"), pcLit, (a, b) => a - b * col("p")).as("v_out"))
  }

  /**
   * K-hop neighbor FEATURE PROPAGATION (SGC / LightGCN shape — Wu '19):
   * the graph-ML data-prep pass that smooths node embeddings over the
   * edge structure BEFORE a linear model or an ANN index sees them —
   * each hop replaces every node's vector with selfWeight·own +
   * (1−selfWeight)·mean-of-neighbors, so after K hops a node carries
   * its K-hop neighborhood's signal (the entire "convolution" of the
   * simplified GCN — no weights, no nonlinearity, just propagation,
   * which is why it belongs in the DATA pipeline, precomputed once).
   *
   * Scale shape per hop: one edge join against the current features +
   * posexplode and a partial-agg'd (node, dim) mean — the topPc
   * discipline: NEVER a collect_list of neighbor vectors (a hub's
   * group state would be degree × dim), always scalar cells; vectors
   * rebuild via a sorted struct collect bounded at dim elements per
   * node. Isolated nodes keep their own vector (the mean-side left
   * join). Hops are lineage-cut. Symmetric edges derive from the
   * input (undirected; self-loops drop).
   */
  def featurePropagate(edges: DataFrame, aCol: String, bCol: String,
                       feats: DataFrame, idCol: String, vecCol: String,
                       hops: Int = 2, selfWeight: Double = 0.5,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(hops >= 1, s"featurePropagate needs hops >= 1, got $hops")
    require(selfWeight >= 0 && selfWeight <= 1,
      s"selfWeight in [0,1], got $selfWeight")
    val und = graft.Fixpoint.input(edges
      .select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b")), checkpointDir)
    val sym = graft.CacheScope.persist(
      und.union(und.select(col("_b").as("_a"), col("_a").as("_b")))
        .distinct().repartition(col("_a")))
    val feats0 = feats.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    val out = graft.Fixpoint.iterate("featurePropagate", feats0, checkpointDir)(
        graft.Fixpoint.Fixed(hops)) { (cur, _, cut) =>
      // neighbor cells: edge (dst=_a receives from src=_b)
      val nbr = sym
        .join(cur.select(col("_id").as("_b"), col("_v").as("_nv")), "_b")
        .select(col("_a").as("_id"), posexplode(col("_nv")).as(Seq("_p", "_x")))
        .groupBy("_id", "_p").agg(avg(col("_x")).as("_m"))
        .groupBy("_id")
        .agg(transform(array_sort(collect_list(struct(col("_p"), col("_m")))),
          s => s.getField("_m")).as("_nbr"))
      cut(cur.join(nbr, Seq("_id"), "left")
        .select(col("_id"),
          when(col("_nbr").isNull, col("_v"))
            .otherwise(zip_with(col("_v"), col("_nbr"),
              (o, n) => lit(selfWeight) * o + lit(1 - selfWeight) * n))
            .as("_v")))
    }
    out.select(col("_id").as(idCol), col("_v").as("v_out"))
  }

  /**
   * Embedding-space distance profile — the QA histogram run before
   * trusting a vector corpus to near-dup/ANN thresholds: the pairwise-
   * cosine distribution over a deterministic md5-lowest-`sampleN`
   * sample answers "where do thresholds bite" (a semdedup cutoff at
   * 0.95 means nothing until you see whether mass sits at 0.3 or 0.9)
   * and catches collapsed/degenerate embedding batches (everything
   * cosine≈1) at profile cost. CONSTANT work at every tier by
   * construction: the sample is fixed-size (TakeOrdered on the md5
   * key — a distributed partial top-k, never a global sort), the
   * C(sampleN,2) pair frame is a broadcast self-join, and only the
   * `bins`-row histogram leaves the executor. Cosines are left-fold
   * double dots in array order (bit-reproducible cross-engine), so the
   * bin edges are exact — no tolerance anywhere.
   */
  /**
   * K-MEANS‖ INITIALIZATION (Bahmani et al. VLDB'12, "Scalable
   * k-means++") — the distributed init that replaces [[kmeans]]'s
   * md5-pick: k-means++ needs k sequential passes (each draw depends on
   * all previous), k-means‖ OVERSAMPLES ~ℓ·k candidates per round for
   * O(rounds) passes, then reclusters the tiny weighted candidate set.
   * Every stochastic choice is md5-DETERMINIZED (the engine-portable
   * sampling contract):
   *
   *  - round r draws x when u(x,r) < ℓk·d²(x,C)/φ with u the
   *    (bucket+0.5)/buckets md5 uniform of "id:r" — evaluated in EXACT
   *    INTEGER form (2b+1)·φq < 2ℓk·buckets·q, where q = the QUANTIZED
   *    distance ⌊min d²·2²⁰+0.5⌋ (a float φ = Σ d² would differ in its
   *    last ulp across engines and flip boundary draws; the integer Σq
   *    cannot — the cross-engine-rounding discipline);
   *  - the seed candidate is the md5-lowest id (the kCenterSelect rule);
   *  - the final k centers come from the candidate set by DETERMINISTIC
   *    greedy weighted k-means++: first = max weight, then argmax of
   *    weight·d²-to-picked (ties → smallest id) — the argmax variant of
   *    the sampled-∝-w·d² recluster, stopping early when no remaining
   *    candidate adds coverage (value ≤ 0).
   *
   * Scale shape: each round is ONE map-side pass (candidates ride as
   * literal arrays — the kCenterSelect precedent) + a 1-row integer agg
   * + a collect of ~ℓk drawn rows (model artifact); the weight pass is
   * one broadcast cross-join + two partial-agg groupBys; the recluster
   * is driver-side over ≤ ℓk·rounds+1 candidates. Ids are cast to LONG
   * (deterministic ordering contract). Returns (rank, center_id,
   * weight) — feed the ranked ids' vectors to Lloyd as its init.
   */
  def kmeansParallelInit(em: DataFrame, idCol: String, vecCol: String,
                         k: Int, oversample: Int = 4, rounds: Int = 3,
                         buckets: Int = 10000): DataFrame = {
    require(k >= 1 && oversample >= 1 && rounds >= 1 && buckets >= 2,
      "kmeansParallelInit needs k, oversample, rounds >= 1 and buckets >= 2")
    val spark = em.sparkSession
    import spark.implicits._
    val quant = 1L << 20
    val lk = oversample.toLong * k
    val base = graft.CacheScope.persist(
      em.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v"))
        .withColumn("v2", dot(col("v"), col("v"))))
    val seed = base.withColumn("h", md5(col("id").cast("string")))
      .orderBy("h", "id").limit(1).select("id", "v").collect()
    if (seed.isEmpty) return Seq.empty[(Int, Long, Long)]
      .toDF("rank", "center_id", "weight")
    def vecOf(r: org.apache.spark.sql.Row): Vector[Double] =
      r.getAs[scala.collection.Seq[Double]]("v").toVector
    var cands = Vector((seed(0).getLong(0), vecOf(seed(0))))
    def d2Exprs(cs: Vector[(Long, Vector[Double])]) = cs.map { case (_, c) =>
      // c² driver-side with the SAME left fold the kernel runs
      val c2 = c.foldLeft(0.0)((acc, x) => acc + x * x)
      col("v2") - lit(2.0) * dot(col("v"), typedLit(c)) + lit(c2)
    }
    for (r <- 1 to rounds) {
      val q = greatest(
        floor(d2Exprs(cands).reduce(least(_, _)) * quant + 0.5).cast("long"),
        lit(0L))
      val wq = base.withColumn("q", q)
      val aggRow = wq.agg(sum(col("q")), max(col("q"))).head
      val phiQ = aggRow.getLong(0)
      val maxQ = if (aggRow.isNullAt(1)) 0L else aggRow.getLong(1)
      // Draw inequality (2b+1)·φq < 2ℓk·B·q runs in non-ANSI LongType:
      // a silent 2^63 wrap would flip draws and diverge from the
      // engine-replayed oracle (the same wrap class louvainMoves gates
      // in-plan). Both factors are already on the driver — refuse loud.
      require(phiQ <= Long.MaxValue / (2L * buckets - 1L),
        s"kmeansParallelInit: (2b+1)*phiQ overflows BIGINT (phiQ=$phiQ, " +
          s"buckets=$buckets) — shrink the quantization or bucket count")
      require(maxQ <= Long.MaxValue / (2L * lk * buckets),
        s"kmeansParallelInit: 2*l*k*buckets*q overflows BIGINT " +
          s"(maxQ=$maxQ, lk=$lk, buckets=$buckets)")
      if (phiQ > 0L) {
        val b = graft.operators.Sampling.hashBucket(
          concat(col("id").cast("string"), lit(":"), lit(r)), buckets)
        val drawn = wq
          .filter((b * 2L + 1L) * lit(phiQ) <
            lit(2L * lk * buckets) * col("q"))
          .select("id", "v").collect()
          .map(row => (row.getLong(0), vecOf(row)))
          .sortBy(_._1)
        cands ++= drawn // disjoint by construction: a candidate has q = 0
      }
    }
    // weights: every point votes for its (d², id)-nearest candidate
    val candDf = broadcast(
      cands.map { case (i, c) => (i, c) }.toDF("cid", "cv")
        .withColumn("c2", dot(col("cv"), col("cv"))))
    val weights = base.crossJoin(candDf)
      .select(col("id"),
        struct((col("v2") - lit(2.0) * dot(col("v"), col("cv")) +
          col("c2")).as("d2"), col("cid")).as("sc"))
      .groupBy("id").agg(min(col("sc")).as("m"))
      .groupBy(col("m.cid").as("cid")).agg(count(lit(1)).as("wt"))
      .as[(Long, Long)].collect().toMap
    // deterministic greedy weighted recluster (driver: ≤ ℓk·rounds+1 rows)
    val candVec = cands.toMap
    def cd2(a: Vector[Double], b: Vector[Double]): Double = {
      val a2 = a.foldLeft(0.0)((acc, x) => acc + x * x)
      val b2 = b.foldLeft(0.0)((acc, x) => acc + x * x)
      val ab = a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      a2 - 2.0 * ab + b2
    }
    val weighted = cands.map(_._1).filter(weights.contains)
      .map(i => (i, weights(i)))
    if (weighted.isEmpty) return Seq.empty[(Int, Long, Long)]
      .toDF("rank", "center_id", "weight")
    var picks = Vector(weighted.maxBy { case (i, w) => (w, -i) })
    var done = false
    while (picks.size < k && !done) {
      val remaining = weighted.filterNot(c => picks.exists(_._1 == c._1))
      val scored = remaining.map { case (i, w) =>
        val mind2 = picks.map(p => cd2(candVec(i), candVec(p._1))).min
        (i, w, w * mind2)
      }
      val best = scored.sortBy { case (i, _, v) => (-v, i) }.headOption
      best match {
        case Some((i, w, v)) if v > 0.0 => picks :+= ((i, w))
        case _ => done = true
      }
    }
    picks.zipWithIndex
      .map { case ((i, w), idx) => (idx + 1, i, w) }
      .toDF("rank", "center_id", "weight")
  }

  /**
   * DBSCAN* density clustering over an embedding sample (Campello,
   * Moulavi & Sander 2013 — the HDBSCAN family's flat cut, and exactly
   * the mutual-reachability MST cut at eps): a point is CORE when its
   * k-th-nearest-neighbor distance is ≤ eps; clusters are the connected
   * components of core points within eps of each other; non-core points
   * are NOISE (DBSCAN*'s clean semantics — no border-point ambiguity).
   * The density-aware twin of [[semanticDedup]]'s fixed-radius cells:
   * variable-density embedding spaces (one tight dup cluster + one
   * diffuse topic cloud) get clusters where a single global radius
   * either merges or shatters.
   *
   * The papers' equivalence — DBSCAN* = cutting the mutual-reachability
   * MST at eps, because w(a,b) = max(d², core²_a, core²_b) ≤ eps² ⟺
   * both endpoints core AND d ≤ eps — lets the FLAT cut skip the forest
   * entirely: clusters are ONE [[graft.operators.Dedup.clusterPairs]]
   * pass over {core pairs with d² ≤ eps²} (a Borůvka loop here would
   * pay O(log n) rounds of nested CC for a result one CC pass gives —
   * measured 207 s → ~5 s at the bench fixture). The HIERARCHY path —
   * an eps LADDER from one forest — is the [[mutualReachabilityEdges]]
   * → [[graft.operators.Analytics.minimumSpanningForest]] →
   * [[graft.operators.Analytics.singleLinkCut]] composition, and the
   * spec asserts the two routes agree. All arithmetic is exact
   * cross-engine: squared L2 via the strict-left-fold dot kernel
   * (d² = |a|² + |b|² − 2a·b — one defined accumulation order), the
   * k-NN rank breaks ties (d², id), max/compare of exact doubles.
   *
   * The pairwise stage is quadratic BY CONTRACT on the md5-lowest
   * `sampleN` ids (the [[distanceProfile]] fixed-sample discipline —
   * constant work at every tier); the 100 TB path swaps the complete
   * pair graph for IVF-cell or LSH-bucket candidate pairs (rows
   * 53/178) — candidates beyond eps never form edges, so only the
   * within-radius pair set must survive the pruning.
   *
   * Returns one row per sampled id: (id, cluster, is_core) with
   * cluster = component-min core id, NULL for noise.
   */
  def dbscanStar(em: DataFrame, idCol: String, vecCol: String,
                 k: Int, eps2: Double, sampleN: Int = 200): DataFrame = {
    require(k >= 1 && eps2 > 0 && sampleN >= 2,
      "dbscanStar needs k >= 1, eps2 > 0, sampleN >= 2")
    // id cast to LONG like mutualReachabilityEdges/kmeansParallelInit:
    // the two hierarchy routes must md5-order the SAME string rendering
    // (and emit the same id type) or they could pick different samples.
    val sample = graft.CacheScope.persist(em
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(sampleN)
      .withColumn("sq", dot(col("v"), col("v"))))
    val a = sample.select(col("id").as("id_a"), col("v").as("v_a"),
      col("sq").as("sq_a"))
    val b = sample.select(col("id").as("id_b"), col("v").as("v_b"),
      col("sq").as("sq_b"))
    val pairs = graft.CacheScope.persist(
      a.crossJoin(broadcast(b))
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("d2", col("sq_a") + col("sq_b") -
          lit(2.0) * dot(col("v_a"), col("v_b")))
        .select("id_a", "id_b", "d2"))
    // core² = the k-th smallest (d², id) neighbor distance
    val core = graft.CacheScope.persist(pairs
      .withColumn("_rn", row_number().over(
        Window.partitionBy("id_a").orderBy(col("d2"), col("id_b"))))
      .filter(col("_rn") === k)
      .select(col("id_a").as("id"), col("d2").as("core2")))
    val corePts = core.filter(col("core2") <= lit(eps2))
    val kept = pairs.filter(col("id_a") < col("id_b"))
      .filter(col("d2") <= lit(eps2))
      .join(corePts.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(corePts.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
      .select("id_a", "id_b")
    val cc = graft.operators.Dedup.clusterPairs(kept, "id_a", "id_b")
    sample.select(col("id"))
      .join(core.select(col("id"),
        (col("core2") <= lit(eps2)).as("_core")), Seq("id"), "left")
      .join(cc.select(col("id"), col("cluster_id")), Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("_core"), lit(false)),
          coalesce(col("cluster_id"), col("id"))).as("cluster"),
        coalesce(col("_core"), lit(false)).as("is_core"))
  }

  /**
   * Mutual-reachability edge list over the same md5-capped sample —
   * the HIERARCHY half of [[dbscanStar]]: w(a,b) = max(d²(a,b),
   * core²_k(a), core²_k(b)). Feed it to [[graft.operators.Analytics
   * .minimumSpanningForest]] once and read the whole HDBSCAN-style
   * dendrogram with [[graft.operators.Analytics.singleLinkCut]] at an
   * eps² ladder — each rung's clusters (restricted to core points,
   * i.e. nodes with merge paths ≤ eps²) equal [[dbscanStar]] at that
   * eps, which the spec asserts.
   */
  def mutualReachabilityEdges(em: DataFrame, idCol: String, vecCol: String,
                              k: Int, sampleN: Int = 200): DataFrame = {
    require(k >= 1 && sampleN >= 2,
      "mutualReachabilityEdges needs k >= 1, sampleN >= 2")
    val sample = graft.CacheScope.persist(em
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(sampleN)
      .withColumn("sq", dot(col("v"), col("v"))))
    val a = sample.select(col("id").as("id_a"), col("v").as("v_a"),
      col("sq").as("sq_a"))
    val b = sample.select(col("id").as("id_b"), col("v").as("v_b"),
      col("sq").as("sq_b"))
    val pairs = graft.CacheScope.persist(
      a.crossJoin(broadcast(b))
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("d2", col("sq_a") + col("sq_b") -
          lit(2.0) * dot(col("v_a"), col("v_b")))
        .select("id_a", "id_b", "d2"))
    val core = pairs
      .withColumn("_rn", row_number().over(
        Window.partitionBy("id_a").orderBy(col("d2"), col("id_b"))))
      .filter(col("_rn") === k)
      .select(col("id_a").as("id"), col("d2").as("core2"))
    pairs.filter(col("id_a") < col("id_b"))
      .join(core.select(col("id").as("id_a"), col("core2").as("_ca")), "id_a")
      .join(core.select(col("id").as("id_b"), col("core2").as("_cb")), "id_b")
      .select(col("id_a").as("u"), col("id_b").as("v"),
        greatest(col("d2"), col("_ca"), col("_cb")).as("w"))
  }

  /**
   * HDBSCAN cluster extraction by EXCESS-OF-MASS stability selection
   * (Campello, Moulavi & Sander 2013 §4 — the algorithm HDBSCAN ships
   * as its default flat output): where [[dbscanStar]] cuts the
   * mutual-reachability hierarchy at ONE eps — which on variable-density
   * data either merges the tight cluster into the diffuse cloud or
   * shatters the cloud into noise — this walks the WHOLE dendrogram and
   * keeps, per branch, the most persistent cluster:
   *
   *  1. condense the single-linkage merge tree with `minClusterSize`:
   *     a split whose smaller side has < minClusterSize points is not a
   *     split — those points FALL OUT of the cluster at λ = 1/w and the
   *     cluster continues; only a split with BOTH sides ≥ minClusterSize
   *     creates child clusters;
   *  2. stability S(C) = Σ_p (λ_exit(p) − λ_birth(C)) over the points
   *     that pass through C (Campello's excess of mass, λ = 1/ε with
   *     ε = the mutual-reachability d² merge weight — a monotone
   *     reparametrization, so the selected antichain is the metric's);
   *  3. select bottom-up: a cluster is kept iff S(C) exceeds the sum of
   *     its kept descendants (which it then replaces) — the
   *     max-total-stability NON-OVERLAPPING ANTICHAIN of the condensed
   *     tree. Per-tree roots (the "all points" cluster) are never
   *     selected — the library's allow_single_cluster=False.
   *
   * Scale shape: the distributed work is exactly the hierarchy family's
   * — [[mutualReachabilityEdges]] over the md5-capped sample +
   * [[graft.operators.Analytics.minimumSpanningForest]]; the collected
   * forest (≤ sampleN−1 edges) is a MODEL ARTIFACT by the same contract
   * as [[kmeansParallelInit]]'s driver recluster, and condensation +
   * selection are one O(sample · depth) pass over it. At 100 TB the
   * sample cap is the contract; the candidate-pair pruning note on
   * [[dbscanStar]] applies to the pair stage unchanged.
   *
   * Determinism: forest edges process in ascending (w, u, v) — equal-
   * weight merges order by endpoint ids, so the merge tree (and
   * therefore the condensed tree) is a pure function of the edge list;
   * zero-weight merges (identical vectors inside the k-NN floor) clamp
   * ε to 1e-12 so λ stays finite and comparisons stay total. The whole
   * result is replay-deterministic; no oracle query ships because the
   * rung set of the condensed tree is the CONTINUOUS set of forest
   * weights — the q_dendrogram recursive-CTE replay needs a FIXED
   * ladder, and quantizing the metric to get one would change the
   * algorithm. The spec certifies against an independent driver-side
   * reference on a planted variable-density fixture instead.
   *
   * Returns one row per sampled id: (id, cluster, stability) — cluster
   * = min member id of the selected cluster, NULL for noise;
   * stability = the selected cluster's S(C), NULL for noise.
   */
  def hdbscanClusters(em: DataFrame, idCol: String, vecCol: String,
                      k: Int, minClusterSize: Int,
                      sampleN: Int = 200): DataFrame = {
    require(k >= 1 && minClusterSize >= 2 && sampleN >= 2,
      "hdbscanClusters needs k >= 1, minClusterSize >= 2, sampleN >= 2")
    val spark = em.sparkSession
    import spark.implicits._
    val m = minClusterSize
    val forest = graft.operators.Analytics.minimumSpanningForest(
        mutualReachabilityEdges(em, idCol, vecCol, k, sampleN), "u", "v", "w")
      .as[(Long, Long, Double)].collect().sortBy(e => (e._3, e._1, e._2))
    // the SAME md5-order sample recipe as mutualReachabilityEdges — the
    // id list is needed to emit noise rows for edgeless points
    val ids = em.select(col(idCol).cast("long").as("id"))
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(sampleN).as[Long].collect()

    // ---- driver-side (model-artifact scale, ≤ sampleN nodes) ----
    val n = ids.length
    val idxOf = ids.zipWithIndex.toMap
    // merge tree: slots 0..n-1 are point leaves; internal nodes append
    val left = scala.collection.mutable.ArrayBuffer.fill(n)(-1)
    val right = scala.collection.mutable.ArrayBuffer.fill(n)(-1)
    val height = scala.collection.mutable.ArrayBuffer.fill(n)(0.0)
    val size = scala.collection.mutable.ArrayBuffer.fill(n)(1)
    val ufParent = scala.collection.mutable.Map[Int, Int]()
    def find(x: Int): Int = {
      val p = ufParent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); ufParent(x) = r; r }
    }
    forest.foreach { case (u, v, w) =>
      val (cu, cv) = (find(idxOf(u)), find(idxOf(v)))
      if (cu != cv) {
        val t = left.size
        left += cu; right += cv; height += w; size += (size(cu) + size(cv))
        ufParent(cu) = t; ufParent(cv) = t
      }
    }
    val roots = (0 until left.size).filter(t => find(t) == t && t >= n)
    def leavesOf(t: Int): Seq[Int] =
      if (t < n) Seq(t) else leavesOf(left(t)) ++ leavesOf(right(t))
    def lambdaOf(t: Int): Double = 1.0 / math.max(height(t), 1e-12)

    // condensed tree
    val cParent = scala.collection.mutable.ArrayBuffer[Int]()
    val cBirth = scala.collection.mutable.ArrayBuffer[Double]()
    val cStability = scala.collection.mutable.ArrayBuffer[Double]()
    val cChildren = scala.collection.mutable.ArrayBuffer[List[Int]]()
    val exitCluster = Array.fill(n)(-1)
    def newCluster(par: Int, birth: Double): Int = {
      cParent += par; cBirth += birth; cStability += 0.0
      cChildren += Nil
      if (par >= 0) cChildren(par) = cParent.size - 1 :: cChildren(par)
      cParent.size - 1
    }
    def condense(t: Int, cId: Int): Unit = {
      val lam = lambdaOf(t)
      val (l, r) = (left(t), right(t))
      if (size(l) >= m && size(r) >= m) {
        // true split: the remaining mass exits cId, children are born
        cStability(cId) += size(t) * (lam - cBirth(cId))
        condense(l, newCluster(cId, lam))
        condense(r, newCluster(cId, lam))
      } else {
        Seq(l, r).filter(size(_) < m).foreach { ch =>
          val lv = leavesOf(ch)
          cStability(cId) += lv.size * (lam - cBirth(cId))
          lv.foreach(p => exitCluster(p) = cId)
        }
        Seq(l, r).filter(size(_) >= m).foreach(ch => condense(ch, cId))
      }
    }
    val rootClusters = roots.map { t =>
      val c = newCluster(-1, 0.0)
      if (size(t) >= m) condense(t, c)
      else { val lv = leavesOf(t); lv.foreach(p => exitCluster(p) = c) }
      c
    }.toSet
    // excess-of-mass selection: bottom-up (children have larger indexes
    // — creation is pre-order), parent replaces its subtree's selection
    // when its own mass exceeds the subtree's total
    val nc = cParent.size
    val selected = Array.fill(nc)(false)
    val hat = Array.fill(nc)(0.0)
    def deselect(c: Int): Unit = {
      selected(c) = false; cChildren(c).foreach(deselect)
    }
    for (c <- (nc - 1) to 0 by -1) {
      val isRoot = rootClusters(c)
      val sumCh = cChildren(c).map(hat).sum
      if (cChildren(c).isEmpty) {
        selected(c) = !isRoot
        hat(c) = cStability(c)
      } else if (!isRoot && cStability(c) > sumCh) {
        cChildren(c).foreach(deselect)
        selected(c) = true
        hat(c) = cStability(c)
      } else hat(c) = sumCh
    }
    // labels: a point belongs to the unique selected cluster on its
    // exit chain (selection is an antichain); none → noise
    val rawLabel = (0 until n).map { p =>
      var c = exitCluster(p)
      while (c >= 0 && !selected(c)) c = cParent(c)
      c
    }
    val minIdOf = rawLabel.zipWithIndex.collect { case (c, p) if c >= 0 =>
      (c, ids(p)) }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).min }
    val rows = (0 until n).map { p =>
      val c = rawLabel(p)
      if (c >= 0) (ids(p), Some(minIdOf(c)), Some(cStability(c)))
      else (ids(p), None: Option[Long], None: Option[Double])
    }
    rows.toDF("id", "cluster", "stability")
  }

  def distanceProfile(em: DataFrame, idCol: String, vecCol: String,
                      sampleN: Int = 100, bins: Int = 20): DataFrame = {
    require(sampleN >= 2 && bins >= 1, "distanceProfile needs sampleN>=2, bins>=1")
    val sample = em
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(sampleN)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = sample.select(col("id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("nrm_a"))
    val b = sample.select(col("id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("nrm_b"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        cosOver(dot(col("v_a"), col("v_b")), col("nrm_a") * col("nrm_b")))
      // bin = floor((cos+1)/2 · bins), cos = 1.0 clamped into the last bin
      .withColumn("bin",
        least(floor((col("cos") + 1.0) / 2.0 * bins), lit(bins - 1)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("cos")).as("min_cos"),
        max(col("cos")).as("max_cos"))
      .withColumn("lo", lit(-1.0) + col("bin") * (2.0 / bins))
  }
}
