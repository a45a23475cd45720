package graft

/**
 * Plan-text locks for the iterative query family (the graph_iter
 * workload's queries). AQE posts each query's full physical plan
 * description at its start and at every stage completion; a loop that
 * carries a cached upstream plan in every round re-prints it each time,
 * and building those strings becomes most of the driver's time while
 * the answer and the shuffle volume stay the same — ShuffleBudgetSpec
 * and PlanSpec do not see it. Bounds are 2× the characters measured at
 * sf0.001 (local[4]) after every loop input became a cut leaf.
 */
class PlanTextSpec extends SparkSpecBase {

  // bound = 2× the characters measured at sf0.001
  private val bounds: Seq[(String, Long)] = Seq(
    "q_louvain" -> 14_106_620L, // 7.05 M measured
    "q_leiden" -> 10_160_530L, // 5.08 M measured
    "q_dendrogram" -> 5_874_406L, // 2.94 M measured
    "q_single_link" -> 5_872_396L, // 2.94 M measured
    "q_pagerank" -> 7_275_436L, // 3.64 M measured
    "q_ppr" -> 11_231_924L, // 5.62 M measured
    "q_bfs_hops" -> 327_876L, // 0.16 M measured
    "q_closeness" -> 341_124L, // 0.17 M measured
    "q_dbscan" -> 1_759_626L, // 0.88 M measured
    "q_refine" -> 1_071_000L) // 0.54 M measured

  bounds.foreach { case (name, bound) =>
    test(s"$name posts plan text within its bound at sf0.001") {
      // every query builds its own shared stages (the spanning forest)
      SharedStage.clear()
      val (chars, _) = planChars {
        CacheScope.scoped { SparkEntry.queries(name)(spark, sfDir).count() }
      }
      info(s"$name posted $chars plan characters")
      assert(chars <= bound,
        s"$name posted $chars plan characters at sf0.001, bound $bound — a " +
          "loop likely re-prints a cached upstream plan every round; see " +
          "Fixpoint's LOOP INPUT")
    }
  }
}
