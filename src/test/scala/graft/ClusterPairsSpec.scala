package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
import graft.operators.Dedup

/** [[Dedup.clusterPairs]]' two paths give the same rows: each input runs
 * through the one-task union-find (a small input under the session's
 * broadcast threshold) and through the min-label loop (the threshold at
 * -1), and both must match each other and the expected components. */
class ClusterPairsSpec extends SparkSpecBase {
  import SparkTestSession.spark.implicits._

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(r => s"${r.get(0)}->${r.get(1)}").sorted.toSeq

  /** `pairs`' rows, and whether the one-task path gave them. */
  private def run(pairs: DataFrame,
                  checkpointDir: Option[String] = None): (Seq[String], Boolean) =
    CacheScope.scoped {
      val out = Dedup.clusterPairs(pairs, "a", "b", checkpointDir = checkpointDir)
      val oneTask = out.queryExecution.optimizedPlan
        .collectFirst { case m: MapPartitions => m }.isDefined
      (rowsOf(out), oneTask)
    }

  /** Both paths' rows of `pairs`, after checking which path each took. */
  private def bothPaths(pairs: DataFrame): (Seq[String], Seq[String]) = {
    val (small, viaTask) = run(pairs)
    val (looped, viaLoop) = onTheLoop(run(pairs))
    assert(viaTask && !viaLoop, s"paths: one task $viaTask, loop $viaLoop")
    (small, looped)
  }

  private def same(pairs: DataFrame, expected: Seq[String]): Unit = {
    val (small, looped) = bothPaths(pairs)
    assert(small === looped)
    assert(small === expected.sorted)
  }

  /** `components` as `id->cluster_id` rows, each cluster its first id
   * (callers list the minimum first). */
  private def expect[T](components: Seq[T]*): Seq[String] =
    components.flatMap(c => c.map(id => s"$id->${c.head}"))

  test("empty input gives no rows on both paths") {
    same(Seq.empty[(Long, Long)].toDF("a", "b"), Nil)
  }

  test("one pair, a self-loop, duplicate and reversed pairs") {
    same(Seq((7L, 3L)).toDF("a", "b"), expect(Seq(3L, 7L)))
    same(Seq((5L, 5L)).toDF("a", "b"), expect(Seq(5L)))
    same(Seq((1L, 2L), (1L, 2L), (2L, 1L), (4L, 3L), (3L, 4L), (3L, 3L))
      .toDF("a", "b"), expect(Seq(1L, 2L), Seq(3L, 4L)))
  }

  test("a 500-long chain collapses to its minimum on both paths") {
    same((1L until 500L).map(i => (i + 1, i)).toDF("a", "b"),
      expect((1L to 500L)))
  }

  test("disjoint triangles, Long and Int ids") {
    val tri = (0 until 20).flatMap { t =>
      Seq((3 * t + 2, 3 * t + 1), (3 * t + 1, 3 * t), (3 * t, 3 * t + 2))
    }
    val comps = (0 until 20).map(t => Seq(3 * t, 3 * t + 1, 3 * t + 2))
    same(tri.toDF("a", "b"), expect(comps: _*))
    same(tri.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b"),
      expect(comps.map(_.map(_.toLong)): _*))
  }

  test("String ids follow Spark's ordering, not Java's") {
    // U+FFFD sorts after a surrogate pair in UTF-16 but before it in
    // UTF-8 bytes, which is the order Spark's min uses
    val (emoji, fffd) = ("\uD83D\uDE00", "\uFFFD")
    same(Seq(("d", "c"), ("c", "b"), ("b", "a"), ("x", "y"),
        (emoji, fffd)).toDF("a", "b"),
      expect(Seq("a", "b", "c", "d"), Seq("x", "y"), Seq(fffd, emoji)))
  }

  test("a null end is neither a node nor an edge; the other end stays") {
    val pairs = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), None), (None, Some(3L)), (None, None), (Some(9L), None))
      .toDF("a", "b")
    same(pairs, expect(Seq(1L, 2L), Seq(3L), Seq(9L)))
  }

  test("the pair cut's stored bytes pick the path, local and reliable alike") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cp-size")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val rows = expect(Seq(1L, 2L, 3L), Seq(10L, 11L)).sorted
    try for (ck <- Seq(None, Some(dir.toString))) {
      val (_, bytes) = CacheScope.scoped(Fixpoint.sizedInput(pairs, ck))
      assert(bytes > 0 && bytes < (1L << 20), s"$ck: $bytes bytes")
      // a few hundred bytes: over a 1-byte threshold, under a 1 MB one
      assert(withBroadcastThreshold("1")(run(pairs, ck)) === ((rows, false)))
      assert(withBroadcastThreshold("1MB")(run(pairs, ck)) === ((rows, true)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a small clusterPairs call runs in a bounded number of jobs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val (rows, c) = measure(CacheScope.scoped(
      rowsOf(Dedup.clusterPairs(pairs, "a", "b"))))
    assert(rows === expect(Seq(1L, 2L, 3L), Seq(10L, 11L)).sorted)
    // 2 jobs: the pair source's cut and the collect of the one-task
    // answer (the min-label loop took 22 here); bound at twice that
    info(s"${c.jobs} jobs")
    assert(c.jobs <= 4, s"${c.jobs} jobs")
  }
}
