package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Round-6 hardening: lon-bucketed + hot-cell-salted encounter blocking
 * proven against a brute-force reference on adversarial geometry.
 */
class Round6Spec extends SparkSpecBase {
  import spark.implicits._

  /** O(n²) reference: the definition, with no blocking at all. */
  private def bruteEncounters(pts: DataFrame, maxKm: Double, maxGapSec: Long): Set[(Long, Long, Long, Long)] = {
    val a = pts.select(col("user_id").as("id_a"), col("ts_sec").as("ts_a"),
      col("lat").as("lat_a"), col("lon").as("lon_a"))
    val b = pts.select(col("user_id").as("id_b"), col("ts_sec").as("ts_b"),
      col("lat").as("lat_b"), col("lon").as("lon_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("ts_a") - col("ts_b")) <= maxGapSec)
      .filter(graft.functions.Geo.haversineKm(col("lat_a"), col("lon_a"),
        col("lat_b"), col("lon_b")) <= maxKm)
      .select("id_a", "id_b", "ts_a", "ts_b")
      .as[(Long, Long, Long, Long)].collect().toSet
  }

  /**
   * Adversarial fixture: a dense anchorage in one cell, an antimeridian
   * straddle, a high-latitude cluster, a near-pole ring (lon blocking
   * must degrade to band-only), plus pseudo-random global noise.
   * Deterministic (seeded via hashing), ~700 points.
   */
  private lazy val adversarialPoints: DataFrame = {
    def h(i: Int, s: Int): Double =
      (((i * 2654435761L + s * 40503L) & 0x7fffffffL) % 100000L) / 100000.0
    val anchorage = (0 until 200).map { i =>
      (1000L + i, 600L + (i % 40) * 30L, 1.0 + h(i, 1) * 0.1, 103.8 + h(i, 2) * 0.1)
    }
    val antimeridian = (0 until 100).map { i =>
      (2000L + i, 300L + i * 20L, -10.0 + h(i, 3) * 0.5,
        if (i % 2 == 0) 179.7 + h(i, 4) * 0.3 else -180.0 + h(i, 5) * 0.3)
    }
    val highLat = (0 until 100).map { i =>
      (3000L + i, 900L + i * 15L, 74.8 + h(i, 6) * 0.6, -40.0 + h(i, 7) * 2.0)
    }
    val polar = (0 until 100).map { i =>
      (4000L + i, 1200L + i * 10L, 89.5 + h(i, 8) * 0.49, -180.0 + i * 3.6)
    }
    val noise = (0 until 200).map { i =>
      (5000L + i, (h(i, 9) * 5000).toLong, -85.0 + h(i, 10) * 170.0,
        -180.0 + h(i, 11) * 360.0)
    }
    (anchorage ++ antimeridian ++ highLat ++ polar ++ noise)
      .toDF("user_id", "ts_sec", "lat", "lon")
  }

  test("encounters == brute force on adversarial geometry (anchorage, antimeridian, pole)") {
    val maxKm = 50.0; val maxGap = 1800L
    val expected = bruteEncounters(adversarialPoints, maxKm, maxGap)
    val got = Trajectory.encounters(adversarialPoints, "user_id", "ts_sec", "lat", "lon",
        maxKm, maxGap)
      .select("id_a", "id_b", "ts_a", "ts_b")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === got.toSet.size, "blocking emitted a duplicate pair")
    assert(got.toSet === expected,
      s"missing=${(expected -- got.toSet).take(5)} extra=${(got.toSet -- expected).take(5)}")
    assert(expected.nonEmpty, "fixture produced no encounters — not a real test")
    // the anchorage really is dense (quadratic if unblocked), the
    // antimeridian pairs really straddle the wrap
    assert(expected.count { case (a, b, _, _) => a >= 1000 && b < 2000 } > 500)
    assert(expected.exists { case (a, b, _, _) => a >= 2000 && a < 3000 && b >= 2000 && b < 3000 })
    assert(expected.exists { case (a, b, _, _) => a >= 4000 && a < 5000 && b >= 4000 && b < 5000 })
  }

  test("encounters: forced salting (tiny pair budget) leaves the result identical") {
    val maxKm = 50.0; val maxGap = 1800L
    val unsalted = Trajectory.encounters(adversarialPoints, "user_id", "ts_sec",
        "lat", "lon", maxKm, maxGap, hotPairBudget = Long.MaxValue)
      .select("id_a", "id_b", "ts_a", "ts_b").as[(Long, Long, Long, Long)].collect()
    val salted = Trajectory.encounters(adversarialPoints, "user_id", "ts_sec",
        "lat", "lon", maxKm, maxGap, hotPairBudget = 50L, maxSalt = 16)
      .select("id_a", "id_b", "ts_a", "ts_b").as[(Long, Long, Long, Long)].collect()
    assert(salted.length === salted.toSet.size, "salting duplicated a pair")
    assert(salted.toSet === unsalted.toSet, "salting changed the result set")
    assert(unsalted.length === unsalted.toSet.size)
  }

  test("encounters: salted plan stays an equi-join with a broadcast hot-key lookup") {
    val p = Trajectory.encounters(adversarialPoints, "user_id", "ts_sec", "lat", "lon",
        50.0, 1800L, hotPairBudget = 50L, maxSalt = 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "salted proximity join degraded to all-pairs\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"), "hot-key lookup is not broadcast\n" + p.take(2000))
  }

  // --- SURVEY §2 inventory <-> SparkEntry.queries bijectivity -----------------------

  test("every SURVEY §2 query key exists in SparkEntry.queries, and vice versa") {
    val survey = scala.io.Source.fromFile("SURVEY.md")("UTF-8").mkString
    val section = survey.substring(survey.indexOf("## §2"),
      survey.indexOf("## §3"))
    val keyRe = """q_\w+""".r
    val declared = section.linesIterator
      .filter(_.matches("""\|\s*\d+\s*\|.*"""))
      .flatMap { line =>
        val cols = line.split("""\|""").map(_.trim)
        // | # | Operator | impl | query key | oracle | → index 4
        if (cols.length > 4) keyRe.findAllIn(cols(4)).toSeq else Nil
      }.toSet
    val actual = SparkEntry.queries.keySet
    assert(declared.nonEmpty && declared.size > 100, s"SURVEY parse broke: ${declared.size} keys")
    val ghost = declared -- actual   // declared but not implemented
    val unlisted = actual -- declared // implemented but not in the inventory
    assert(ghost.isEmpty, s"SURVEY declares keys missing from SparkEntry.queries: $ghost")
    assert(unlisted.isEmpty, s"SparkEntry.queries keys missing from SURVEY §2: $unlisted")
    // every oracle-gated key also has its oracle SQL
    assert(actual === SparkEntry.oracleSql.keySet,
      s"queries/oracleSql drift: ${(actual -- SparkEntry.oracleSql.keySet) ++
        (SparkEntry.oracleSql.keySet -- actual)}")
  }

  // --- additive schema evolution on lake tables -------------------------------------

  test("LakeWriter.readEvolved: a column added mid-life reads null-filled for old partitions") {
    import graft.sources.LakeWriter
    val path = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // month 1: the feed has (id, v)
    LakeWriter.writePartitioned(
      Seq((1L, 10.0, "2024", "01", "05"), (2L, 20.0, "2024", "01", "06"))
        .toDF("id", "v", "year", "month", "day"), path)
    // month 2: the feed gained `draft` (additive, nullable)
    LakeWriter.writePartitioned(
      Seq((3L, 30.0, 7.5, "2024", "02", "05"))
        .toDF("id", "v", "draft", "year", "month", "day"), path)

    val evolved = LakeWriter.readEvolved(spark, path)
    assert(evolved.columns.contains("draft"), s"merged schema lost the new column")
    val rows = evolved.select("id", "v", "draft")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), Option(r.get(2))))).toMap
    assert(rows === Map(1L -> ((10.0, None)), 2L -> ((20.0, None)),
      3L -> ((30.0, Some(7.5)))), s"evolution read wrong: $rows")
    // old and new partitions coexist in ONE frame with pruning intact
    assert(evolved.filter(col("month") === "02").count() === 1)
    // a rebuild-style aggregate over the evolved frame sees every row
    assert(evolved.agg(sum("v")).head.getDouble(0) === 60.0)
  }

  // --- KS cardinality contract ------------------------------------------------------

  test("ksTest refuses an over-cardinality metric, passes after quantization") {
    val wide = spark.range(100000).select(
      (col("id").cast("double") / 7.0).as("m"),
      when(col("id") % 2 === 0, "a").otherwise("b").as("g"))
    val e = intercept[IllegalArgumentException] {
      Quality.ksTest(wide, "m", "g", "a", "b", maxDistinct = 1000L)
    }
    assert(e.getMessage.contains("quantizeStep"), e.getMessage)
    val gridded = Quality.ksTest(wide, "m", "g", "a", "b",
      maxDistinct = 1000L, quantizeStep = Some(32.0)).head
    assert(gridded.getAs[Double]("ks_d") >= 0.0 && gridded.getAs[Double]("ks_d") <= 1.0)
    assert(gridded.getAs[Long]("n_a") === 50000L)
  }

  test("ksTest: quantized D equals the exact D computed on pre-gridded values") {
    val vals = spark.range(2000).select(
      (col("id").cast("double") / 3.0).as("m"),
      when(col("id") % 3 === 0, "a").otherwise("b").as("g"))
    val viaStep = Quality.ksTest(vals, "m", "g", "a", "b",
      quantizeStep = Some(5.0)).head.getAs[Double]("ks_d")
    val pre = vals.withColumn("m", floor(col("m") / 5.0 + 0.5) * 5.0)
    val direct = Quality.ksTest(pre, "m", "g", "a", "b").head.getAs[Double]("ks_d")
    assert(viaStep === direct)
  }

  // --- reliable checkpoint for iterative loops --------------------------------------

  test("pagerank and clusterPairs: reliable checkpointDir gives identical results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 1.0), (4L, 1L, 0.5))
      .toDF("s", "d", "w")
    def ranks(ck: Option[String]) =
      Analytics.pagerank(edges, "s", "d", Some("w"), iters = 5, checkpointDir = ck)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(Some(dir)) === ranks(None))

    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L)).toDF("a", "b")
    def clusters(ck: Option[String]) =
      Dedup.clusterPairs(pairs, "a", "b", checkpointDir = ck)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(Some(dir)) === clusters(None))
    assert(clusters(None) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // the reliable variant really wrote checkpoint files
    assert(new java.io.File(dir).listFiles.nonEmpty, "no checkpoint files written")
  }

  test("pagerank with a reliable checkpointDir caches each round's rank frame once") {
    // the lazy reliable cut persists a round's frame before marking it,
    // so the round's readers (contribution join, dangling aggregate) and
    // the checkpoint write share one evaluation of it instead of each
    // recomputing the frame; the blocks go when the scope exits
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // a graph no other test builds: a frame persisted by an earlier
    // unscoped call on equal data would serve these plans instead
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 1.0), (5L, 1L, 0.25))
      .toDF("s", "d", "w")
    val iters = 4
    val base = org.apache.spark.sql.CacheManagerProbe.entries(spark)
    def run(ck: Option[String]) = {
      var cached = 0
      val ranks = CacheScope.scoped {
        val df = Analytics.pagerank(edges, "s", "d", Some("w"), iters = iters,
          checkpointDir = ck)
        cached = org.apache.spark.sql.CacheManagerProbe.entries(spark) - base
        df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      assert(org.apache.spark.sql.CacheManagerProbe.entries(spark) === base,
        "a round frame outlived the scope")
      (cached, ranks)
    }
    val (local, localRanks) = run(None)
    val (reliable, reliableRanks) = run(Some(dir))
    // one more reliable persist than rounds: the edge frame enters the
    // loop through the same lazy reliable cut (Fixpoint.input)
    assert(reliable - local === iters + 1, "each round's frame is cached once")
    assert(reliableRanks === localRanks)
  }

  // --- corrMatrix pairwise-complete semantics ---------------------------------------

  test("corrMatrix restricts each pair's stddevs to pairwise-complete rows") {
    // column c's nulls are asymmetric: rows where c is null have extreme
    // a values, so sigma(a | c non-null) != sigma(a); the old all-rows
    // sigma pushed |r| off the pairwise-complete value (DuckDB corr)
    val df = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.0, 2.0, 10.0), (2.0, 4.0, 8.0), (3.0, 6.0, 6.0),
      (100.0, 1.0, null), (-100.0, 2.0, null)
    ).toDF("a", "b", "c")
    val r = Analytics.corrMatrix(df, Seq("a", "b", "c"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> Option(x.get(2))).toMap
    // over complete (a,c) rows {1,2,3}x{10,8,6}: perfect anticorrelation
    val ac = r(("a", "c")).get.asInstanceOf[Double]
    assert(math.abs(ac - (-1.0)) < 1e-12, s"a~c got $ac, want -1 (pairwise-complete)")
    assert(r.values.flatten.forall { x =>
      val d = x.asInstanceOf[Double]; d >= -1.0 - 1e-12 && d <= 1.0 + 1e-12
    }, s"r outside [-1,1]: $r")
  }

  test("corrMatrix: single-complete-pair yields null, not NaN") {
    val df = Seq[(java.lang.Double, java.lang.Double)]((1.0, 2.0), (3.0, null))
      .toDF("a", "b")
    val r = Analytics.corrMatrix(df, Seq("a", "b")).head
    assert(r.isNullAt(2), s"expected null r for a 1-pair frame, got ${r.get(2)}")
  }

  // --- interval merge / coverage gaps -----------------------------------------------

  test("mergeIntervals: overlap, touch, adjacency slack, and per-key isolation") {
    val iv = Seq(
      (1L, 100L, 200L, 1L), (1L, 150L, 250L, 2L), // overlap → one span
      (1L, 250L, 300L, 3L),                       // touching (start == prev end) → same span
      (1L, 400L, 500L, 4L),                       // gap 100 → new span
      (2L, 100L, 110L, 5L)                        // other key
    ).toDF("k", "s", "e", "id")
    val got = Intervals.mergeIntervals(iv, Seq("k"), "s", "e", tieBreak = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === Set((1L, 100L, 300L, 3L), (1L, 400L, 500L, 1L), (2L, 100L, 110L, 1L)),
      s"got $got")
    // adjacency slack 100 bridges the 100-gap... (> means strictly past the slack)
    val bridged = Intervals.mergeIntervals(iv, Seq("k"), "s", "e",
      adjacencySec = 100L, tieBreak = Seq("id"))
    assert(bridged.filter(col("k") === 1L).count() === 1L)
    val gaps = Intervals.coverageGaps(iv, Seq("k"), "s", "e", tieBreak = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(gaps.toSeq === Seq((1L, 300L, 400L, 100L)), s"got ${gaps.toSeq}")
    // a contained interval never splits a span
    val contained = Seq((1L, 100L, 500L, 1L), (1L, 200L, 210L, 2L)).toDF("k", "s", "e", "id")
    assert(Intervals.mergeIntervals(contained, Seq("k"), "s", "e").count() === 1L)
  }

  test("courseFeatures: cardinal bearings and a wrapped turn rate") {
    val track = Seq(
      (1L, 0L, 0.0, 0.0), (1L, 60L, 1.0, 0.0),   // due north → 0°
      (1L, 120L, 1.0, 1.0),                      // due east → 90° (turn +90/min)
      (1L, 180L, 0.0, 1.0)                       // due south → 180°
    ).toDF("k", "ts", "lat", "lon")
    val r = Trajectory.courseFeatures(track, Seq("k"), "ts", "lat", "lon")
      .collect().map(x => x.getAs[Long]("ts") ->
        ((Option(x.getAs[Any]("bearing_deg")), Option(x.getAs[Any]("turn_deg_per_min"))))).toMap
    assert(r(0L)._1 === None, "first fix has no bearing")
    assert(math.abs(r(60L)._1.get.asInstanceOf[Double] - 0.0) < 0.5)
    assert(math.abs(r(120L)._1.get.asInstanceOf[Double] - 90.0) < 0.5)
    assert(math.abs(r(180L)._1.get.asInstanceOf[Double] - 180.0) < 0.5)
    assert(math.abs(r(120L)._2.get.asInstanceOf[Double] - 90.0) < 1.0,
      s"turn at 120: ${r(120L)._2}")
    // a 350° → 10° wrap is a +20 turn, not -340
    val wrap = Seq((2L, 0L, 0.0, 0.0), (2L, 60L, 1.0, -0.176), (2L, 120L, 2.0, 0.0))
      .toDF("k", "ts", "lat", "lon")
    val t = Trajectory.courseFeatures(wrap, Seq("k"), "ts", "lat", "lon")
      .filter(col("ts") === 120L).head.getAs[Double]("turn_deg_per_min")
    assert(t > 0 && t < 45, s"wrapped turn should be small positive, got $t")
  }

  test("scd2: heartbeats collapse, same-second version change stays ordered") {
    val log = Seq(
      (1L, 100L, "A", 1L), (1L, 200L, "A", 2L), // heartbeat → same version
      (1L, 300L, "B", 3L),
      (1L, 300L, "C", 4L),                      // change at the SAME second (tiebreak id)
      (1L, 400L, "C", 5L),
      (2L, 100L, "X", 6L)
    ).toDF("k", "ts", "attr", "id")
    val got = Dims.scd2(log, Seq("k"), "ts", Seq("attr"), tieBreak = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)), r.getBoolean(4))).toSet
    assert(got === Set(
      (1L, "A", 100L, Some(300L), false),
      (1L, "B", 300L, Some(300L), false), // zero-length version, correctly ordered
      (1L, "C", 300L, None, true),
      (2L, "X", 100L, None, true)), s"got $got")
  }

  test("anomalyFlags: planted spike flagged, constant history null, cold start null") {
    val rows = ((1 to 20).map(i => (1L, i.toLong, 10.0 + (i % 3) * 0.5, i.toLong)) ++
      Seq((1L, 21L, 500.0, 21L)) ++                       // spike
      (1 to 10).map(i => (2L, i.toLong, 7.0, 100L + i))   // constant series
      ).toDF("k", "ts", "v", "id")
    val r = Analytics.anomalyFlags(rows, Seq("k"), "ts", "v",
        alpha = 0.3, window = 10, k = 3.0, tieBreak = Seq("id"))
      .collect().map(x => (x.getAs[Long]("k"), x.getAs[Long]("ts")) ->
        Option(x.getAs[Any]("anomaly"))).toMap
    assert(r((1L, 21L)) === Some(true), s"spike not flagged: ${r((1L, 21L))}")
    assert(r((1L, 10L)) === Some(false))
    assert(r((1L, 1L)) === None, "cold start must be null, not false")
    assert(r((2L, 10L)) === None, "constant history has no scale; flag must be null")
  }

  test("overlapJoin: every overlapping pair exactly once, incl. multi-bucket spans") {
    // a long interval covering many buckets against several short ones —
    // the meet-once rule must not duplicate the pair per shared bucket
    val l = Seq((1L, 0L, 100000L, "L1"), (1L, 5000L, 6000L, "L2"),
      (2L, 0L, 10L, "L3")).toDF("k", "s_a", "e_a", "id_a")
    val r = Seq((1L, 50000L, 50100L, "R1"),   // inside L1 only
      (1L, 5500L, 7000L, "R2"),               // overlaps L1 AND L2
      (1L, 100000L, 100500L, "R3"),           // touches L1's end exactly
      (1L, 100001L, 100500L, "R4"),           // just past L1 → no pair
      (2L, 11L, 20L, "R5")                    // adjacent but disjoint → no pair
    ).toDF("k", "s_b", "e_b", "id_b")
    val got = Intervals.overlapJoin(l, "s_a", "e_a", r, "s_b", "e_b",
        Seq("k"), bucketSec = 1000L)
      .select("id_a", "id_b").as[(String, String)].collect()
    assert(got.length === got.toSet.size, s"pair duplicated: ${got.toSeq}")
    assert(got.toSet === Set(("L1", "R1"), ("L1", "R2"), ("L2", "R2"), ("L1", "R3")),
      s"got ${got.toSet}")
    // parity with the naive inequality join on a random fixture
    val rng = new scala.util.Random(71)
    val ra = (1 to 150).map(i =>
      (rng.nextInt(3).toLong, rng.nextInt(5000).toLong, rng.nextInt(3000).toLong, i))
      .map { case (k, s, len, i) => (k, s, s + len, s"a$i") }.toDF("k", "s_a", "e_a", "id_a")
    val rb = (1 to 150).map(i =>
      (rng.nextInt(3).toLong, rng.nextInt(5000).toLong, rng.nextInt(3000).toLong, i))
      .map { case (k, s, len, i) => (k, s, s + len, s"b$i") }.toDF("k", "s_b", "e_b", "id_b")
    val fast = Intervals.overlapJoin(ra, "s_a", "e_a", rb, "s_b", "e_b",
        Seq("k"), bucketSec = 700L)
      .select("id_a", "id_b").as[(String, String)].collect()
    val naive = ra.join(rb, Seq("k"))
      .filter(col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(fast.length === fast.toSet.size && fast.toSet === naive,
      s"missing=${(naive -- fast.toSet).take(5)} extra=${(fast.toSet -- naive).take(5)}")
  }

  // --- k-means centroid training ----------------------------------------------------

  test("kmeansCentroids: two separated blobs converge to their true centers") {
    // blob A around (0,0), blob B around (100,100); k=2 must find them
    def jig(i: Int) = (i % 7 - 3) * 0.1
    val rows = ((0 until 30).map(i => (i.toLong, Array(jig(i), jig(i + 1)))) ++
      (0 until 30).map(i => (100L + i, Array(100.0 + jig(i), 100.0 + jig(i + 2)))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(rows, "vec_id", "embedding",
        k = 2, iters = 5)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(cents.size === 4, s"expected 2 cells x 2 dims: $cents")
    val byCell = cents.groupBy(_._1._1).view.mapValues(_.values.toSeq.sorted).toMap
    val means = byCell.values.toSeq.map(_.sum / 2)
    assert(means.exists(m => math.abs(m) < 1.0), s"no centroid near blob A: $cents")
    assert(means.exists(m => math.abs(m - 100.0) < 1.0), s"no centroid near blob B: $cents")
    // iters = 0 returns the raw init picks (row form, k cells)
    assert(Similarity.kmeansCentroids(rows, "vec_id", "embedding", k = 2, iters = 0)
      .select("cell").distinct().count() === 2)
  }

  test("ivfTopKFitted: trained cells reach full recall on clustered data, >= hash-init") {
    // 8 tight separated blobs of 40 vectors; queries from 4 blobs.
    // Hash-picked init often lands several picks in one blob (some blobs
    // unrepresented); fitted k-means centers align with the blobs.
    def vec(blob: Int, i: Int): Array[Double] =
      Array.tabulate(8)(j => blob * 50.0 + (((i * 13 + j * 7) % 11) - 5) * 0.05 +
        (if (j == blob % 8) 10.0 else 0.0))
    val rows = (for { b <- 0 until 8; i <- 0 until 40 }
      yield ((b * 100 + i).toLong, vec(b, i))).toDF("vec_id", "embedding")
    val queries = rows.filter(col("vec_id") % 100 === 0 && col("vec_id") < 400)
    val truth = Similarity.bruteForceTopK(rows, queries, "vec_id", "embedding", k = 5)
    val cents = Similarity.kmeansCentroids(rows, "vec_id", "embedding", k = 8, iters = 4)
    val fitted = Similarity.ivfTopKFitted(rows, queries, "vec_id", "embedding",
      k = 5, centroidRows = cents, nProbe = 1)
    val hashed = Similarity.ivfTopK(rows, queries, "vec_id", "embedding",
      k = 5, nCentroids = 8, nProbe = 1)
    val qids = queries.select(col("vec_id").as("query_id"))
    def recall(r: DataFrame) = Similarity.recallAtK(r, truth, qids, 5)
      .agg(avg("recall")).head.getDouble(0)
    val (rf, rh) = (recall(fitted), recall(hashed))
    assert(rf === 1.0, s"fitted cells should be exact on separated blobs, got $rf")
    assert(rf >= rh, s"fitted recall $rf < hash-init recall $rh")
  }

  // --- SemDeDup ---------------------------------------------------------------------

  test("semanticDedup: planted duplicate dropped, smallest id survives, cell cap enforced") {
    // 40 base vectors + ids 100/101 duplicating id 0's vector exactly
    def vec(seed: Long): Array[Double] =
      Array.tabulate(8)(j => (((seed * 31 + j * 17) % 19) - 9).toDouble)
    val rows = ((0L until 40L).map(i => (i, vec(i))) ++
      Seq((100L, vec(0)), (101L, vec(0)))).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(rows, "vec_id", "embedding",
        nCells = 4, threshold = 0.999)
      .collect().map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(!r(0L), "smallest id of the duplicate chain must survive")
    assert(r(100L) && r(101L), s"exact duplicates not dropped: $r")
    // identical vectors land in the same cell by construction
    assert(r.count(_._2) >= 2)
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(rows, "vec_id", "embedding",
        nCells = 1, threshold = 0.9, maxCellSize = 10L)
    }
    assert(e.getMessage.contains("quadratic"), e.getMessage)
  }

  // --- duplicated spans (exact-substring dedup regions) -----------------------------

  test("duplicatedSpans: shared region found maximally, unique text untouched") {
    def words(s: String) = s.trim
    val shared = (1 to 12).map(i => s"s$i").mkString(" ") // 12 shared tokens
    val doc1 = words(s"${(1 to 10).map(i => s"a$i").mkString(" ")} $shared " +
      (1 to 10).map(i => s"b$i").mkString(" "))
    val doc2 = words(s"${(1 to 6).map(i => s"c$i").mkString(" ")} $shared " +
      (1 to 8).map(i => s"d$i").mkString(" "))
    val doc3 = words((1 to 40).map(i => s"u$i").mkString(" ")) // unique
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val got = Text.duplicatedSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: shared tokens occupy positions 10..21 → seeds 10..14, span 10..21
    assert(got(1L) === ((10L, 21L)), s"doc1 span: ${got.get(1L)}")
    // doc2: shared at positions 6..17
    assert(got(2L) === ((6L, 17L)), s"doc2 span: ${got.get(2L)}")
    assert(!got.contains(3L), "unique doc flagged")
    // self-repetition inside ONE doc also counts (corpus-level, like Lee et al.)
    val selfRep = Seq((9L, ((1 to 10).map(i => s"x$i").mkString(" ") + " ") * 2 +
      (1 to 10).map(i => s"y$i").mkString(" "))).toDF("doc_id", "text")
    assert(Text.duplicatedSpans(selfRep, "doc_id", "text", n = 8).count() >= 1)
  }

  // --- Gopher rule battery ----------------------------------------------------------

  test("gopherRules: each rule flips on its targeted pathology") {
    val good = (("the be to of and that have with " * 8).trim + " " +
      ("ship port cargo wave " * 6).trim)
    val docs = Seq(
      (1L, good),                                       // all rules pass
      (2L, "the be to of and"),                         // too short
      (3L, good + " " + ("#### ##### " * 30).trim),     // symbol spam
      (4L, (1 to 60).map(i => s"$i").mkString(" ") +
        " the be"),                                     // numeric: alpha frac low
      (5L, good.split(" ").map(w => "- " + w).mkString("\n")), // every line a bullet
      (6L, good.split(" ").map(_ + "...").mkString("\n")),     // every line ellipsis
      (7L, ("Supercalifragilistic Honorificabilitudinitatibus " * 30).trim
        + " the be")                                    // mean word length > 10
    ).toDF("doc_id", "text")
    val r = Text.gopherRules(docs, "doc_id", "text", minWords = 20)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("gopher_pass"), s"good doc failed: ${r(1L)}")
    assert(!r(2L).getAs[Boolean]("g_words"))
    assert(!r(3L).getAs[Boolean]("g_symbol") && r(1L).getAs[Boolean]("g_symbol"))
    assert(!r(4L).getAs[Boolean]("g_alpha") && r(1L).getAs[Boolean]("g_alpha"))
    assert(!r(5L).getAs[Boolean]("g_bullet") && r(1L).getAs[Boolean]("g_bullet"))
    assert(!r(6L).getAs[Boolean]("g_ellipsis") && r(1L).getAs[Boolean]("g_ellipsis"))
    assert(!r(7L).getAs[Boolean]("g_word_len") && r(1L).getAs[Boolean]("g_word_len"))
    // stop-word hits count whitespace-split tokens, so the multi-line
    // docs (whose tokens keep embedded newlines) are out of scope here
    assert(r(1L).getAs[Boolean]("g_stop") && r(2L).getAs[Boolean]("g_stop"))
  }

  // --- triangle counting ------------------------------------------------------------

  test("triangles: K4 plus a pendant edge has exactly 4, duplicates/self-loops ignored") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4 → 4 triangles
      (4L, 5L),          // pendant: no new triangle
      (2L, 1L), (3L, 3L) // reversed duplicate + self-loop → ignored
    ).toDF("a", "b")
    assert(Analytics.triangles(edges, "a", "b").head.getLong(0) === 4L)
    assert(Analytics.triangles(
      Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b").head.getLong(0) === 0L)
  }

  test("asof direction semantics: backward, forward, nearest with tie-to-prior") {
    val left = Seq((1L, 100L), (2L, 200L), (3L, 305L)).toDF("id", "ts")
    val right = Seq((50L, "a"), (150L, "b"), (310L, "c"))
      .toDF("ts", "st").withColumn("k", lit(1)).select(col("k"), col("ts"), col("st"))
    val l = left.withColumn("k", lit(1)).select("id", "k", "ts")
    def run(d: String) = AsOf.join(l, right, Seq("k"), "ts", Seq("st"), direction = d)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[String]("st")).getOrElse("-")).toMap
    assert(run("backward") === Map(1L -> "a", 2L -> "b", 3L -> "b"))
    assert(run("forward") === Map(1L -> "b", 2L -> "c", 3L -> "c"))
    // id 1 at 100: |100-50| == |150-100| → TIE → prior "a"; id 2 at 200:
    // |200-150|=50 vs |310-200|=110 → backward; id 3 at 305:
    // |305-150|=155 vs |310-305|=5 → forward
    assert(run("nearest") === Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("asof nearest: exact tie keeps the prior row") {
    val l = Seq((1L, 100L)).toDF("id", "ts").withColumn("k", lit(1))
    val r = Seq((90L, "prior"), (110L, "later")).toDF("ts", "st").withColumn("k", lit(1))
    val got = AsOf.join(l.select("id", "k", "ts"), r, Seq("k"), "ts", Seq("st"),
      direction = "nearest").head.getAs[String]("st")
    assert(got === "prior")
  }

  // --- weighted median --------------------------------------------------------------

  test("weightedMedian: weights shift the location; bad weights dropped") {
    // values 1..4; weight 10 on value 4 dominates → median 4; uniform → 2
    val skewedW = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 10.0))
      .map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
    assert(Quality.weightedMedian(skewedW, Seq("g"), "v", "w")
      .head.getDouble(1) === 4.0)
    val uniform = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0))
      .map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
    assert(Quality.weightedMedian(uniform, Seq("g"), "v", "w")
      .head.getDouble(1) === 2.0)
    // exact half-crossing: first of two equal weights IS the crossing
    val half = Seq((1.0, 5.0), (9.0, 5.0))
      .map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
    assert(Quality.weightedMedian(half, Seq("g"), "v", "w")
      .head.getDouble(1) === 1.0)
    // zero/negative weights contribute nothing
    val dirty = Seq((1.0, 0.0), (2.0, -5.0), (3.0, 1.0))
      .map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
    assert(Quality.weightedMedian(dirty, Seq("g"), "v", "w")
      .head.getDouble(1) === 3.0)
  }

  // --- CMS heavy-hitter gate --------------------------------------------------------

  test("cmsHeavyHitters: top-k exact counts with the sketch guarantee holding") {
    // zipf-ish skew: key k appears ~1000/k times
    val rows = spark.range(1, 30).select(col("id").as("key"))
      .withColumn("n", (lit(1000) / col("key")).cast("int"))
      .select(col("key"), explode(sequence(lit(1), col("n"))).as("i"))
    val got = Quality.cmsHeavyHitters(rows, "key", k = 5, eps = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(_._1).toSet === Set(1L, 2L, 3L, 4L, 5L), s"wrong top keys: ${got.toSeq}")
    assert(got.find(_._1 == 1L).get._2 === 1000L)
    assert(got.find(_._1 == 3L).get._2 === 333L)
    assert(got.forall(_._3), s"CMS guarantee violated: ${got.filterNot(_._3).toSeq}")
  }

  // --- pagerank weight guard --------------------------------------------------------

  test("pagerank: zero/negative-weight edges carry no mass but keep their nodes") {
    val clean = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("s", "d", "w")
    val dirty = Seq((1L, 2L, 1.0), (2L, 1L, 1.0),
      (3L, 1L, 0.0), (3L, 2L, -5.0)).toDF("s", "d", "w")
    val got = Analytics.pagerank(dirty, "s", "d", Some("w"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "node with only bad out-edges vanished")
    assert(got.values.forall(v => !v.isNaN && !v.isInfinite && v > 0),
      s"bad weights poisoned the rank vector: $got")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass not conserved: $got")
  }

  // --- JL projection dim validation -------------------------------------------------

  test("randomProject family fails fast on an embedding/dim mismatch") {
    val em = Seq((1L, Array(1.0, 2.0, 3.0)), (2L, Array(1.0, 2.0)))
      .toDF("id", "vec")
    val e = intercept[Exception] {
      Similarity.randomProject(em, "id", "vec", outDim = 2, dim = 3).collect()
    }
    assert(e.getMessage.contains("embedding length"), e.getMessage)
    val eBig = intercept[Exception] {
      Similarity.randomProjectBig(em, "id", "vec", outDim = 2, dim = 3).collect()
    }
    assert(eBig.getMessage.contains("embedding length"), eBig.getMessage)
    // well-formed input still projects (and nulls pass through)
    val ok = Similarity.randomProject(
      em.filter(col("id") === 1L), "id", "vec", outDim = 2, dim = 3).collect()
    assert(ok.length === 1)
  }
}
