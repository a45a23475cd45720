package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, Similarity}

/** The [[Fixpoint]] contract: what each exhaustion policy does at its
 * bound, what the lazy cut costs while a loop is built, and what
 * [[Fixpoint.input]] keeps out of the plans AQE re-prints every round. */
class FixpointSpec extends SparkSpecBase {
  import SparkTestSession.spark.implicits._

  /** 20 disjoint triangles over ids 0..59 as `(id_a, id_b)` pairs. */
  private def triangles: DataFrame =
    (0L until 20L).flatMap { t =>
      val (a, b, c) = (3 * t, 3 * t + 1, 3 * t + 2)
      Seq((a, b), (b, c), (a, c))
    }.toDF("id_a", "id_b")

  /** The min-label answer: each triangle's nodes get its smallest id. */
  private val triangleLabels: Map[Long, Long] =
    (0L until 60L).map(n => n -> (n - n % 3)).toMap

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  /** `triangles` with a weight column, behind `depth` nested persisted
   * frames, each reading the one below twice (a self-join that keeps the
   * 60 pairs) — the shape of a similarity join's cached pair source. */
  private def nestedInput(depth: Int): DataFrame =
    (1 to depth).foldLeft(
      triangles.withColumn("w", ((col("id_a") + col("id_b")) % 7 + 1).cast("double"))) {
      (f, _) => CacheScope.persist(f.join(f, Seq("id_a", "id_b", "w")))
    }

  /** The directed chain 0 → 1 → … → 60 over the triangles' ids, read
   * from the edge frame itself: the BFS loops then run a ring per hop
   * instead of stopping at each triangle's second ring. */
  private def chain(e: DataFrame): DataFrame =
    e.select(col("id_a"), (col("id_a") + 1).as("id_b"))
      .union(e.select(col("id_b").as("id_a"), (col("id_b") + 1).as("id_b")))

  /** Every graph loop, on an `(id_a, id_b, w)` edge frame, with the round
   * counts cut down to keep the fast gate fast. */
  private val graphLoops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "pagerank" -> (e => Analytics.pagerank(e, "id_a", "id_b", Some("w"), iters = 3)),
    "personalizedPagerank" -> (e => Analytics.personalizedPagerank(e, "id_a", "id_b",
      Seq(0L, 4L).toDF("s"), "s", Some("w"), iters = 3)),
    "lpaCommunities" -> (e => Analytics.lpaCommunities(e, "id_a", "id_b", iters = 3)),
    "louvainCommunities" -> (e =>
      Analytics.louvainCommunities(e, "id_a", "id_b", moveRounds = 1)),
    "leidenCommunities" -> (e =>
      Analytics.leidenCommunities(e, "id_a", "id_b", moveRounds = 1, maxLevels = 2)),
    "kCore" -> (e => Analytics.kCore(e, "id_a", "id_b", k = 2)),
    "minimumSpanningForest" -> (e =>
      Analytics.minimumSpanningForest(e, "id_a", "id_b", "w")),
    "shortestPaths" -> (e =>
      Analytics.shortestPaths(e, "id_a", "id_b", "w", Seq(0L, 3L))),
    "randomWalks" -> (e => Analytics.randomWalks(e, "id_a", "id_b", walkLen = 3)),
    "bfsHops" -> (e => Analytics.bfsHops(chain(e), "id_a", "id_b",
      Seq(0L, 30L).toDF("s"), "s", maxHops = 8)),
    "landmarkHops" -> (e => Analytics.landmarkHops(chain(e), "id_a", "id_b",
      Seq((0L, 0L), (1L, 30L)).toDF("o", "n"), "o", "n", maxHops = 8)),
    "featurePropagate" -> (e => Similarity.featurePropagate(e, "id_a", "id_b",
      spark.range(60).select(col("id"), array(col("id").cast("double"), lit(1.0))
        .as("v")), "id", "v")),
    "clusterPairs" -> (e => Dedup.clusterPairs(e, "id_a", "id_b")))

  /** A frame's rows as sorted strings, doubles to 9 places: the sums'
   * order (and so their last bits) follows the input's partitioning. */
  private def answerOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9f"
      case x => String.valueOf(x)
    }.mkString(",")).sorted.toSeq

  for ((name, loop) <- graphLoops) {
    val owner = if (name.endsWith("s")) s"$name'" else s"$name's"
    test(s"$owner rounds do not re-print the input's nested cached plans") {
      // plan chars of one count of the input, of the loop; the answer
      def run(depth: Int): (Long, Long, Seq[String]) = CacheScope.scoped {
        val input = nestedInput(depth)
        val (n, counted) = measure(input.count())
        assert(n === 60L)
        val (answer, looped) = measure(answerOf(loop(input)))
        (counted.planChars, looped.planChars, answer)
      }
      val (count0, loop0, answer0) = run(0)
      val (count3, loop3, answer3) = run(3)
      assert(answer3 === answer0)
      // a loop input enters as a cut leaf, so AQE's per-stage plan updates
      // do not carry the three cached levels every round: the loop posts
      // the nested plans a few times, not once per stage of every round
      val reprints = (loop3 - loop0).toDouble / (count3 - count0)
      info(f"$name: $reprints%.2f re-prints ($loop0 → $loop3 chars)")
      assert(reprints <= 10.0,
        f"$name re-printed its input's nested plans $reprints%.1f times")
    }
  }

  test("clusterPairs with a checkpointDir cuts into it and keeps the labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cp-pairs")
    // on the loop: 60 pairs are far under the broadcast threshold, where
    // the one-task path runs no round to cut
    onTheLoop(CacheScope.scoped {
      val local = labelsOf(Dedup.clusterPairs(triangles, "id_a", "id_b"))
      val reliable = labelsOf(Dedup.clusterPairs(triangles, "id_a", "id_b",
        checkpointDir = Some(dir.toString)))
      assert(local === triangleLabels)
      assert(reliable === local)
    })
    // labels0 is already the answer on triangles, so the loop runs one
    // round: one checkpointed RDD for it, one for the pair source
    val rdds = java.nio.file.Files.walk(dir).toArray.map(_.toString)
      .filter(_.matches(".*/rdd-[0-9]+"))
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    assert(rdds.length === 2, rdds.mkString(", "))
  }

  test("Fixed(n) runs n rounds; building the lazy-cut loop submits no job") {
    def build(eager: Boolean) = {
      var steps = 0
      val (df, c) = measure {
        Fixpoint.iterate("narrow", spark.range(10).toDF("id"), None, eager)(
            Fixpoint.Fixed(5)) { (df, _, cut) =>
          steps += 1
          cut(df.select((col("id") + 1).as("id")))
        }
      }
      (steps, c.jobs, df.agg(sum("id")).as[Long].head)
    }
    // ids 5..14 after five +1 rounds
    assert(build(eager = false) === ((5, 0L, 95L)))
    // the eager cut pays one job per round while the loop is built
    assert(build(eager = true) === ((5, 5L, 95L)))
  }

  test("Cap(n): bfsHops past maxHops returns exactly maxHops + 1 rings") {
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
    val rings = Analytics.bfsHops(chain, "a", "b", Seq(1L).toDF("s"), "s",
        maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(rings === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("Converge(max) fails at the bound, passes a state done exactly there") {
    var steps = 0
    val err = intercept[IllegalStateException] {
      Fixpoint.iterate("spin", 0, None)(Fixpoint.Converge[Int](3, _ => false)) {
        (s, _, _) => steps += 1; s + 1
      }
    }
    assert(steps === 3)
    assert(err.getMessage.contains("spin") && err.getMessage.contains("3 rounds"))
    assert(Fixpoint.iterate("count", 0, None)(Fixpoint.Converge[Int](3, _ >= 3)) {
      (s, _, _) => s + 1
    } === 3)
  }

  test("Converge: a state done before any round runs no round") {
    val out = Fixpoint.iterate("empty", Seq.empty[Int], None)(
        Fixpoint.Converge[Seq[Int]](5, _.isEmpty)) { (_, _, _) =>
      fail("no round may run on a converged state")
    }
    assert(out.isEmpty)
    assert(Analytics.kCore(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b",
      k = 2).count() === 0)
  }

  test("clusterPairs fails loudly when maxIter rounds leave labels unconverged") {
    // a 500-long chain needs ~9 shortcut rounds; 2 cannot converge it,
    // and partial labels must never come back as an answer. On the loop:
    // `maxIter` bounds the loop only, and the chain is under the
    // broadcast threshold, where one task answers without rounds
    val chain = (1L until 500L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException] {
      onTheLoop(Dedup.clusterPairs(chain, "id_a", "id_b", maxIter = 2).collect())
    }
    assert(err.getMessage.contains("clusterPairs") &&
      err.getMessage.contains("2 rounds"), err.getMessage)
  }
}
