package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, EntityResolution, Similarity}

/** Round-11 second wave: the entity-resolution family (equi-blocking +
  * planning profile, sorted-neighborhood candidates, Fellegi–Sunter
  * scoring, transitive entities), the two-window mean-shift changepoint
  * screen, and semantic benchmark decontamination. */
@SlowTest
class Round11bSpec extends SparkSpecBase {
  import spark.implicits._

  // A small dirty-records fixture: 1/2/3 are the same "person" under
  // typos, 4 matches nobody, 5/6 share a block but differ hard, and
  // 7 has a NULL block key.
  private def people = Seq(
    (1L, "jon smith", "NY", 100.0),
    (2L, "john smith", "NY", 105.0),
    (3L, "john smyth", "NY", 110.0),
    (4L, "maria gonzalez", "CA", 500.0),
    (5L, "bob lee", "NY", 10.0),
    (6L, "zzz unrelated", "NY", 9000.0),
    (7L, "ghost entry", null.asInstanceOf[String], 1.0)
  ).toDF("id", "name", "state", "bal")

  // --- blocking -------------------------------------------------------------

  test("blockCandidates: pairs only within blocks, null keys generate nothing") {
    val got = EntityResolution.blockCandidates(people, "id", Seq("state"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // NY block = {1,2,3,5,6} → C(5,2) = 10 pairs; CA block is a singleton;
    // the null-state row pairs with nothing
    assert(got.size === 10)
    assert(got.forall { case (a, b) => a < b })
    assert(!got.exists { case (a, b) => a == 7L || b == 7L })
    assert(!got.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("blockCandidates: an oversized block is skipped entirely") {
    val got = EntityResolution.blockCandidates(people, "id", Seq("state"),
      maxBlock = 4).select("id_a", "id_b").collect()
    assert(got.isEmpty, "the 5-row NY block must be skipped at maxBlock=4")
  }

  test("blockProfile reports the would-be pair volume and the skip verdict") {
    val prof = EntityResolution.blockProfile(people, "id", Seq("state"),
      maxBlock = 4)
      .select("state", "n", "n_pairs", "skipped")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(prof("NY") === ((5L, 10L, true)))
    assert(prof("CA") === ((1L, 0L, false)))
    assert(!prof.contains(null), "null block keys must not profile")
  }

  // --- sorted neighborhood --------------------------------------------------

  test("snmCandidates: exactly the rank-window pairs, each pair once") {
    // sort by name: ghost(7) < john smith(2) < john smyth(3) < jon smith(1)
    // < maria(4) < bob?  ... use explicit ordering on (name, id)
    val pairs = EntityResolution.snmCandidates(people, "id",
      Seq("name", "id"), window = 2)
      .select("id_a", "id_b", "rank_dist")
      .as[(Long, Long, Long)].collect()
    // window=2 → adjacent ranks only → exactly n-1 = 6 pairs, all dist 1
    assert(pairs.length === 6)
    assert(pairs.forall(_._3 == 1L))
    assert(pairs.map(p => (p._1, p._2)).distinct.length === 6, "meet-once")
    // name order: bob lee, ghost entry, john smith, john smyth, jon smith,
    // maria gonzalez, zzz unrelated → the typo cluster {2,3,1} is chained
    // by adjacency even though a state-typo would have broken blocking
    val set = pairs.map(p => (p._1, p._2)).toSet
    assert(set.contains((2L, 3L)) && set.contains((3L, 1L)))
  }

  test("snmCandidates window=4 pair count is exact (n·(w−1) − edge terms)") {
    val n = 7
    val w = 4
    val got = EntityResolution.snmCandidates(people, "id",
      Seq("name", "id"), window = w).count()
    // Σ over rank r of min(w-1, n-r) = (n-w+1)(w-1) + (w-1)(w-2)/2
    val expect = (n - w + 1) * (w - 1) + (w - 1) * (w - 2) / 2
    assert(got === expect)
  }

  // --- scoring --------------------------------------------------------------

  test("scorePairs: per-field sims and the weighted fold are exact") {
    val cands = Seq((1L, 2L)).toDF("id_a", "id_b")
    val row = EntityResolution.scorePairs(people, cands, "id",
      stringCols = Seq("name" -> 0.5),
      exactCols = Seq("state" -> 0.2),
      numericCols = Seq(("bal", 0.3, 100.0)))
      .select("sim_name", "eq_state", "num_bal", "score")
      .as[(Double, Double, Double, Double)].head()
    // lev("jon smith","john smith") = 1, maxlen = 10 → 0.9
    assert(row._1 === 0.9)
    assert(row._2 === 1.0)
    // |100-105|/100 = 0.05 → 0.95
    assert(row._3 === 0.95)
    val expect = (0.9 * 0.5 + 1.0 * 0.2 + 0.95 * 0.3) / (0.5 + 0.2 + 0.3)
    assert(row._4 === expect)
  }

  test("scorePairs null rules: both-null agrees, one-null is evidence against") {
    val recs = Seq(
      (1L, null.asInstanceOf[String], 1.0),
      (2L, null.asInstanceOf[String], 1.0),
      (3L, "x", 1.0)).toDF("id", "name", "bal")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = EntityResolution.scorePairs(recs, cands, "id",
      stringCols = Seq("name" -> 1.0))
      .select("id_b", "sim_name").as[(Long, Double)].collect().toMap
    assert(got(2L) === 1.0, "null vs null = vacuous agreement")
    assert(got(3L) === 0.0, "null vs value = evidence against")
  }

  test("matches → entities: transitive closure collapses the typo chain") {
    val cands = EntityResolution.blockCandidates(people, "id", Seq("state"))
    val m = EntityResolution.matches(people, cands, "id", threshold = 0.75,
      stringCols = Seq("name" -> 0.7),
      numericCols = Seq(("bal", 0.3, 100.0)))
    val ids = EntityResolution.entities(people, m, "id")
      .select("id", "entity_id").as[(Long, Long)].collect().toMap
    // the typo chain 1~2~3 collapses into one entity
    assert(ids(1L) === ids(2L) && ids(2L) === ids(3L))
    assert(ids(1L) === 1L, "min-label entity id")
    assert(Seq(4L, 5L, 6L, 7L).forall(i => ids(i) === i), "unmatched = own id")
    val prof = EntityResolution.entityProfile(people, m, "id")
      .select("entity_size", "n_entities", "n_records")
      .as[(Long, Long, Long)].collect().toSet
    assert(prof === Set((3L, 1L, 3L), (1L, 4L, 4L)))
  }

  test("phonetic blocking: soundex keys catch what prefix blocking misses") {
    // blockCandidates composes with ANY derived key — Spark's builtin
    // soundex makes it phonetic: smith/smyth/smithe all collapse to S530,
    // while a name-prefix key separates smy... from smi...
    val recs = Seq(
      (1L, "smith"), (2L, "smyth"), (3L, "smithe"), (4L, "jones")
    ).toDF("id", "name").withColumn("snd", soundex(col("name")))
      .withColumn("pfx", substring(col("name"), 1, 3))
    val phonetic = EntityResolution.blockCandidates(recs, "id", Seq("snd"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(phonetic === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val prefix = EntityResolution.blockCandidates(recs, "id", Seq("pfx"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(prefix === Set((1L, 3L)), "prefix blocking loses the smyth typo")
  }

  // --- personalized PageRank ----------------------------------------------------

  test("personalizedPagerank: mass conserved, matches the reference fold, unreachable = 0") {
    import graft.operators.Analytics
    // directed chain a→b→c plus an isolated pair x→y; seed = {a}
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("s", "d")
    val seeds = Seq("a").toDF("node")
    val iters = 10
    val pr = Analytics.personalizedPagerank(edges, "s", "d", seeds, "node",
      iters = iters).as[(String, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-12, "Σpr must stay 1")
    assert(pr("x") === 0.0 && pr("y") === 0.0,
      "nodes unreachable from the seeds carry NO mass under restart")
    // sequential reference of the same iteration (note: at 10 rounds the
    // restart pulse is NOT yet at the fixpoint — the reference replays
    // the trajectory, not the limit)
    val d = 0.85
    var ref = Map("a" -> 1.0, "b" -> 0.0, "c" -> 0.0, "x" -> 0.0, "y" -> 0.0)
    for (_ <- 1 to iters) {
      val dm = ref("c") + ref("y") // dangling nodes
      def t(n: String) = if (n == "a") 1.0 else 0.0
      def in(n: String) = n match {
        case "b" => ref("a"); case "c" => ref("b"); case "y" => ref("x")
        case _ => 0.0
      }
      ref = ref.keys.map(n =>
        n -> ((1.0 - d) * t(n) + d * (in(n) + dm * t(n)))).toMap
    }
    ref.foreach { case (n, v) =>
      assert(math.abs(pr(n) - v) < 1e-12, s"node $n: got ${pr(n)}, want $v")
    }
    // the fixpoint DOES order the chain by seed proximity — check it at
    // a depth where the pulse has damped out
    val deep = Analytics.personalizedPagerank(edges, "s", "d", seeds, "node",
      iters = 50).as[(String, Double)].collect().toMap
    assert(deep("a") > deep("b") && deep("b") > deep("c"),
      s"converged ranks must order the chain by proximity: $deep")
  }

  test("personalizedPagerank refuses a seed set absent from the graph") {
    import graft.operators.Analytics
    // in-plan gate (raise_error riding the teleport's 1-row n_seeds
    // broadcast): fires at execution, walk the SparkException chain
    val edges = Seq(("a", "b")).toDF("s", "d")
    val seeds = Seq("zzz").toDF("node")
    val e = intercept[Throwable] {
      Analytics.personalizedPagerank(edges, "s", "d", seeds, "node",
        iters = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("no seed appears")), msgs(e).mkString(" | "))
    // an EMPTY graph must raise the same refusal, not return an empty
    // frame: the gate rides the 1-row n_seeds aggregate itself (an agg
    // without groupBy yields one row over zero input), never a per-node
    // projection that zero rows would skip
    val empty = intercept[Throwable] {
      Analytics.personalizedPagerank(
        edges.filter(lit(false)), "s", "d", seeds, "node",
        iters = 2).collect()
    }
    assert(msgs(empty).exists(_.contains("no seed appears")),
      msgs(empty).mkString(" | "))
  }

  // --- k-center coreset -----------------------------------------------------------

  test("kCenterSelect: farthest-point picks cover the planted clusters") {
    import graft.operators.Similarity
    // three tight clusters far apart; k=3 must pick one point from EACH
    // (a random draw of 3 from these 9 misses a cluster ~30% of the time)
    def pt(cx: Double, cy: Double, j: Int) =
      Array((cx + j * 0.01).toFloat, (cy + j * 0.01).toFloat)
    val em = (
      (0 until 3).map(j => (10L + j, pt(0, 0, j))) ++
      (0 until 3).map(j => (20L + j, pt(100, 0, j))) ++
      (0 until 3).map(j => (30L + j, pt(0, 100, j)))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(em, "vec_id", "embedding", k = 3)
      .select("round", "vec_id", "dist2")
      .as[(Int, Long, Option[Double])].collect().sortBy(_._1)
    assert(got.length === 3)
    assert(got.map(_._2 / 10).toSet === Set(1L, 2L, 3L),
      s"one pick per planted cluster: ${got.toSeq}")
    assert(got.head._3.isEmpty, "the seed has no distance")
    // coverage radii never increase
    val radii = got.flatMap(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })
  }

  test("kCenterSelect: k past n returns every point once") {
    import graft.operators.Similarity
    val em = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(em, "vec_id", "embedding", k = 5)
      .select("vec_id").as[Long].collect().toSet
    // greedy keeps picking the farthest point; once every point is a
    // center the max min-distance is 0 and re-picks add nothing new
    assert(got === Set(1L, 2L) || got.size <= 5)
    assert(got.contains(1L) && got.contains(2L))
  }

  // --- bitext mining --------------------------------------------------------------

  test("bitextMine: planted translation pair wins; hub vector is margin-punished") {
    import graft.operators.Similarity
    // a1/b1 are a planted aligned pair; b9 is a HUB (high cosine to
    // everything on the a side) that raw-cosine mining would pick twice,
    // but the margin normalizes its inflated neighborhood away
    val aSide = Seq(
      (1L, Array(1.0f, 0.05f, 0.62f)),
      (2L, Array(0.0f, 1.0f, 0.55f)),
      (3L, Array(0.3f, -0.9f, 0.6f))
    ).toDF("vec_id", "embedding")
    val bSide = Seq(
      (101L, Array(0.98f, 0.1f, 0.6f)),   // ≈ a1
      (102L, Array(0.05f, 0.97f, 0.58f)), // ≈ a2
      (109L, Array(0.5f, 0.5f, 0.7f))     // the hub
    ).toDF("vec_id", "embedding")
    val got = Similarity.bitextMine(aSide, bSide, "vec_id", "embedding",
      k = 2, threshold = 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 101L)) && got.contains((2L, 102L)),
      s"planted pairs must be mined: $got")
    assert(!got.exists(_._2 == 109L),
      s"the hub must not be mined as anyone's pair: $got")
    // mutual-best means each side appears at most once
    assert(got.map(_._1).size === got.size && got.map(_._2).size === got.size)
  }

  test("bitextMine: zero-norm vectors drop instead of poisoning cosines") {
    import graft.operators.Similarity
    val aSide = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val bSide = Seq((10L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val got = Similarity.bitextMine(aSide, bSide, "vec_id", "embedding",
      k = 2, threshold = 0.0)
      .select("id_a").as[Long].collect().toSet
    assert(got === Set(1L))
  }

  // --- cluster agreement ----------------------------------------------------------

  test("clusterAgreement: hand-computed contingency on a 6-record fixture") {
    import graft.operators.EntityResolution
    // A: {1,2,3}{4,5}{6}  B: {1,2}{3,4,5}{6}
    val a = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L,
      6L -> 30L).toDF("id", "entity_id")
    val b = Seq(1L -> 100L, 2L -> 100L, 3L -> 200L, 4L -> 200L, 5L -> 200L,
      6L -> 300L).toDF("id", "entity_id")
    val r = EntityResolution.clusterAgreement(a, b, "id")
      .select("n_ids", "shared_pairs", "a_pairs", "b_pairs",
        "precision", "recall", "f1")
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    // contingency: (10,100)=2 (10,200)=1 (20,200)=2 (30,300)=1
    // shared = C(2,2)+C(2,2) = 2;  A pairs = 3+1 = 4;  B pairs = 1+3 = 4
    assert(r._1 === 6L && r._2 === 2L && r._3 === 4L && r._4 === 4L)
    assert(r._5 === 0.5 && r._6 === 0.5 && r._7 === 0.5)
  }

  test("clusterAgreement: all-singletons sides yield NULL ratios, not errors") {
    import graft.operators.EntityResolution
    val a = Seq(1L -> 1L, 2L -> 2L).toDF("id", "entity_id")
    val r = EntityResolution.clusterAgreement(a, a, "id")
      .select("shared_pairs", "a_pairs").as[(Long, Long)].head()
    assert(r === ((0L, 0L)))
    val nulls = EntityResolution.clusterAgreement(a, a, "id")
      .select("precision", "recall", "f1").collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))
  }

  // --- LPA communities -----------------------------------------------------------

  /** Sequential reference of the same synchronous LPA (self-vote,
    * min-label ties, fixed rounds). */
  private def lpaRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).map {
      case (n, es) => n -> es.map(_._2)
    }
    var lbl = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lbl = nbrs.map { case (n, ns) =>
        val votes = (ns.map(lbl) :+ lbl(n)).groupBy(identity)
          .view.mapValues(_.size).toMap
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  test("lpaCommunities: two cliques with a bridge split into two communities") {
    import graft.operators.Analytics
    // K4 {1..4} — bridge 4–5 — K4 {5..8}; CC would merge everything
    val k4a = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k4b = for (a <- 5L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val edges = (k4a ++ k4b :+ (4L, 5L)).toDF("a", "b")
    val got = Analytics.lpaCommunities(edges, "a", "b", iters = 10)
      .as[(Long, Long)].collect().toMap
    val comms = got.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(comms === Set(Set(1L, 2L, 3L, 4L), Set(5L, 6L, 7L, 8L)),
      s"the bridge must NOT merge the cliques (CC would): $got")
  }

  test("lpaCommunities matches the sequential reference on a random graph") {
    import graft.operators.Analytics
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val got = Analytics.lpaCommunities(edges.toDF("a", "b"), "a", "b",
      iters = 7).as[(Long, Long)].collect().toMap
    assert(got === lpaRef(edges, 7))
  }

  // --- CC pointer shortcutting -------------------------------------------------

  test("clusterPairs converges on a 500-long chain in O(log d) rounds") {
    // a path graph 1-2-3-...-500: neighbor propagation alone moves the
    // min ONE hop per round (500 rounds — far past maxIter, silently
    // wrong); the label-of-label shortcut halves chains every round, so
    // the default iteration budget is ample. ER match graphs really look
    // like this (consecutive near-identical records each matching the
    // next), which is how the sf1 tier exposed it. On the loop: the chain
    // is under the broadcast threshold, where one task answers it.
    import graft.operators.Dedup
    val chain = (1L until 500L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = onTheLoop(Dedup.clusterPairs(chain, "id_a", "id_b", maxIter = 20)
      .select("cluster_id").distinct().as[Long].collect())
    assert(labels.toSeq === Seq(1L),
      "the whole chain must collapse to the min label within the budget")
  }

  // --- Fellegi–Sunter EM ------------------------------------------------------

  /** Plain-Scala EM reference: the same fold [[EntityResolution.emWeights]]
    * distributes, run sequentially on a local Seq. */
  private def emRef(rows: Seq[(Boolean, Boolean)], iters: Int)
      : (Seq[Double], Seq[Double], Double) = {
    var m = Seq(0.9, 0.9); var u = Seq(0.1, 0.1); var p = 0.1
    for (_ <- 1 to iters) {
      val ws = rows.map { case (a, b) =>
        val gam = Seq(a, b)
        val pm = gam.zip(m).map { case (g, x) => if (g) x else 1.0 - x }.product
        val pu = gam.zip(u).map { case (g, x) => if (g) x else 1.0 - x }.product
        (gam, p * pm / (p * pm + (1.0 - p) * pu))
      }
      val sw = ws.map(_._2).sum
      val n = rows.size
      m = Seq(0, 1).map(i => ws.filter(_._1(i)).map(_._2).sum / sw)
      u = Seq(0, 1).map(i => ws.filter(_._1(i)).map(w => 1.0 - w._2).sum / (n - sw))
      p = sw / n
    }
    (m, u, p)
  }

  test("emWeights matches the sequential EM reference to float tolerance") {
    // 100 clean non-matches (nothing agrees), 10 true dups (both agree),
    // 20 coincidental balance-agreements
    val rows: Seq[(Boolean, Boolean)] =
      Seq.fill(100)((false, false)) ++ Seq.fill(10)((true, true)) ++
        Seq.fill(20)((false, true))
    val got = EntityResolution.emWeights(
      rows.toDF("a_name", "a_bal"), Seq("a_name", "a_bal"), iters = 2)
      .select("field", "m", "u", "prior")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (m, u, p) = emRef(rows, 2)
    // distributed double sums reorder vs the sequential fold → tolerance,
    // not equality (the oracle gate compares at r3 for the same reason)
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(close(got("a_name")._2, m(0)) && close(got("a_bal")._2, m(1)))
    assert(close(got("a_name")._3, u(0)) && close(got("a_bal")._3, u(1)))
    assert(close(got("a_name")._4, p))
    // the discriminating field earns a positive agreement weight and the
    // prior lands near the true dup fraction
    val wAgree = EntityResolution.emWeights(
      rows.toDF("a_name", "a_bal"), Seq("a_name", "a_bal"), iters = 2)
      .filter($"field" === "a_name").select("w_agree").as[Double].head()
    assert(wAgree > 0, s"agreement on the clean field must be evidence FOR: $wAgree")
    assert(p > 0.03 && p < 0.3, s"prior should approach the planted 10/130: $p")
  }

  test("emWeights on empty input returns the init parameters, not NaN") {
    val empty = Seq.empty[(Boolean, Boolean)].toDF("a_name", "a_bal")
    val got = EntityResolution.emWeights(empty, Seq("a_name", "a_bal"))
      .select("field", "m", "u", "prior")
      .as[(String, Double, Double, Double)].collect()
    assert(got.length === 2)
    assert(got.forall(r => r._2 == 0.9 && r._3 == 0.1 && r._4 == 0.1))
  }

  // --- changepoint ----------------------------------------------------------

  test("meanShift flags exactly the planted level shift, full windows only") {
    // one entity, 12 points: 6 at level 10, then 6 at level 50, w=3
    val rows = (1 to 6).map(i => ("u", i.toLong, 10.0)) ++
      (7 to 12).map(i => ("u", i.toLong, 50.0))
    val df = rows.toDF("k", "t", "v")
    val got = Analytics.meanShift(df, Seq("k"), "t", "v",
      window = 3, threshold = 20.0)
      .select("t", "shift").as[(Long, Double)].collect().toMap
    // full both-side windows exist for t in [3, 9]; lead-trail means:
    // t=5: trail {10,10,10}=10, lead {10,50,50}... wait lead at 5 = rows
    // 6,7,8 = {10,50,50} → 36.67-10 = 26.67 ≥ 20 → flagged
    // t=6: lead {50,50,50}=50, trail {10,10,10}=10 → 40 → flagged (the cut)
    // t=7: trail {10,10,50}=23.3, lead 50 → 26.67 → flagged
    assert(got.keySet === Set(5L, 6L, 7L))
    assert(got(6L) === 40.0, "the exact cut point carries the full shift")
    assert(!got.contains(1L) && !got.contains(12L), "edges never fire")
  }

  test("meanShift: series shorter than 2w produces nothing") {
    val df = (1 to 5).map(i => ("u", i.toLong, if (i > 2) 100.0 else 0.0))
      .toDF("k", "t", "v")
    assert(Analytics.meanShift(df, Seq("k"), "t", "v", 3, 1.0).count() === 0)
  }

  // --- target encoding --------------------------------------------------------

  test("targetEncode: LOO formula exact; singleton → global mean; null rules") {
    import graft.operators.Analytics
    val df = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "b", 100.0),                       // singleton category
      (5L, null.asInstanceOf[String], 40.0),  // null category
      (6L, null.asInstanceOf[String], 60.0)
    ).toDF("id", "cat", "y")
    val s = 2.0
    val gm = (10.0 + 20.0 + 30.0 + 100.0 + 40.0 + 60.0) / 6
    val got = Analytics.targetEncode(df, "cat", "y", smoothing = s)
      .select("id", "enc").as[(Long, Double)].collect().toMap
    def loo(sum: Double, own: Double, n: Int) = (sum - own + s * gm) / (n - 1 + s)
    assert(math.abs(got(1L) - loo(60.0, 10.0, 3)) < 1e-12)
    assert(math.abs(got(4L) - gm) < 1e-12, "singleton encodes to the global mean")
    assert(math.abs(got(5L) - loo(100.0, 40.0, 2)) < 1e-12,
      "null categories form their own group")
  }

  test("targetEncode: null label gets the full-category posterior") {
    import graft.operators.Analytics
    val df = Seq((1L, "a", Some(10.0)), (2L, "a", Some(20.0)),
      (3L, "a", None)).toDF("id", "cat", "y")
    val got = Analytics.targetEncode(df, "cat", "y", smoothing = 2.0)
      .filter($"id" === 3L).select("enc").as[Double].head()
    val gm = 15.0
    assert(math.abs(got - (30.0 + 2.0 * gm) / (2 + 2.0)) < 1e-12)
  }

  // --- priority sampling -------------------------------------------------------

  test("prioritySample: census when k >= n (tau = 0, w_hat = w exactly)") {
    import graft.operators.Sampling
    val df = Seq((1L, 5.0), (2L, 3.0), (3L, 7.0), (4L, -1.0), (5L, 0.0))
      .toDF("id", "w")
    val got = Sampling.prioritySample(df, "id", "w", k = 10)
      .select("id", "w", "w_hat").as[(Long, Double, Double)].collect()
    assert(got.length === 3, "non-positive weights can carry no mass")
    assert(got.forall(r => r._3 === r._2), "census: zero estimation error")
  }

  test("prioritySample matches an independent reference of the DLT estimator") {
    import graft.operators.Sampling
    val df = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("id", "w")
    val k = 10
    // reference: same md5 uniforms (via the shared hashBucket contract),
    // priorities sorted in plain Scala
    val qs = df.withColumn("u",
        (Sampling.hashBucket(col("id")) + 0.5) / Sampling.DefaultBuckets)
      .withColumn("q", col("w") / col("u"))
      .select("id", "w", "q").as[(Long, Double, Double)].collect()
      .sortBy(r => (-r._3, r._1))
    val tau = qs(k)._3
    val want = qs.take(k).map(r => (r._1, math.max(r._2, tau))).toMap
    val got = Sampling.prioritySample(df, "id", "w", k)
      .select("id", "w_hat").as[(Long, Double)].collect().toMap
    assert(got === want)
    // ... and it is a deterministic draw
    val again = Sampling.prioritySample(df, "id", "w", k)
      .select("id", "w_hat").as[(Long, Double)].collect().toMap
    assert(again === got)
  }

  test("prioritySample plans one TakeOrderedAndProject, no global sort") {
    import graft.operators.Sampling
    val df = Tables.documents(spark, sfDir)
    val plan = Sampling.prioritySample(df, "doc_id", "n_chars", 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  // --- semantic decontamination ----------------------------------------------

  test("semanticDecontaminate flags the planted paraphrase, not the orthogonal") {
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.99f, 0.1f, 0.0f)),  // near-copy of the bench row
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
      (3L, Array(0.0f, 0.0f, 0.0f))    // zero-norm → null cosine → dropped
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(corpus, bench,
      "vec_id", "embedding", threshold = 0.9)
      .select("vec_id", "n_bench_hits").as[(Long, Long)].collect().toMap
    assert(got.keySet === Set(1L))
    assert(got(1L) === 1L)
  }

  test("semanticDecontaminate plans the benchmark side as a broadcast") {
    val em = Tables.embeddings(spark, sfDir)
    val df = Similarity.semanticDecontaminate(
      em.filter(col("vec_id") % 19 =!= 0), em.filter(col("vec_id") % 19 === 0),
      "vec_id", "embedding", 0.3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast (map-side screen), got:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "corpus × bench must never plan a shuffled cartesian")
  }
}
