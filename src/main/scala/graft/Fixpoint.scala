package graft

import org.apache.spark.sql.{Column, DataFrame}

/**
 * The one driver for graft's iterative operators: every round loop
 * (pagerank's power iteration, clusterPairs' min-label propagation,
 * Borůvka, Bellman–Ford, BFS rings, Lloyd, the suffix-rank doubling,
 * Douglas–Peucker splits, …) runs its rounds through [[iterate]], which
 * owns the four things each loop used to hand-roll: the lineage cut,
 * the round counter, the exhaustion policy and the `GRAFT_LOOP_DEBUG`
 * line.
 *
 * LINEAGE CUT. A round that references the previous round's frame k
 * times grows the LOGICAL plan k^rounds without a cut — execution
 * dedups through caching, but Catalyst still carries (and
 * stringifies) the whole tree, which blows the driver heap within ten
 * rounds. The cut truncates a frame to an RDD leaf, so plans stay
 * O(1) per round. Each round's step receives the loop's cut as a
 * function and applies it to whatever frames it carries forward.
 *
 *  - LAZY (the default): the plan truncates at build time, but the
 *    blocks are computed (MEMORY_AND_DISK) by the first action that
 *    reads the frame. A lazy cut is correct when the loop's own probe
 *    or the caller's action is that first reader — fixed-round loops
 *    (the consumer's one action runs every round as one job chain) and
 *    probed loops alike (bfsHops' `frontier.isEmpty` materialises the
 *    new ring, and transitively the previous ring's blocks). It saves
 *    one eager job per round, the measured wall floor of the
 *    tiny-graph loops.
 *  - EAGER: the cut runs its own job per round. Only clusterPairs uses
 *    it; its call site records why.
 *
 * With `checkpointDir` set the cut is a RELIABLE checkpoint into that
 * directory (blocks survive executor loss — what keeps a lost executor
 * at round 9 from killing a 10-round job on a real cluster); the lazy
 * reliable cut persists the frame before marking it, so its readers
 * share one evaluation instead of each recomputing the uncached
 * lineage. With None the cut is a `localCheckpoint`, whose blocks die
 * with their executor — acceptable in local mode and for
 * cheap-to-rerun loops.
 *
 * LOOP INPUT. Every frame the rounds read that comes from outside the
 * loop — a caller's argument, or an earlier loop's output — enters
 * through [[input]], never through a persist of the caller's plan. A
 * persisted frame stays in every plan as an InMemoryRelation that
 * carries its whole upstream plan, and AQE posts the full plan
 * description — each nested cached plan printed inside it, Final and
 * Initial — at every stage completion of every round; a caller's chain
 * of persisted frames grows that text about 4× per level of nesting,
 * until building plan strings is most of the driver's time. [[input]]
 * applies the loop's lazy cut, whose leaf prints as one line. A cut
 * leaf reports no output partitioning (`UnknownPartitioning(0)` on
 * Spark 4.1), so a frame whose partitioning the rounds reuse (an edge
 * table keyed by its join column) names its partition columns and is
 * persisted as a `repartition` OVER the cut: its cached plan is a few
 * lines, and the rounds' joins need no exchange on its side. Frames
 * built from an input may be persisted freely — their plans start at
 * the cut. An initial state that only the first round reads needs no
 * input: that round's cut drops its plan.
 *
 * EXHAUSTION. A loop names its policy: [[Fixed]] runs exactly n rounds
 * and never probes; [[Cap]] stops early when its probe reports done and
 * returns normally at n, because n is part of the answer (bfsHops'
 * `maxHops`); [[Converge]] stops when its probe reports done and fails
 * loudly, naming the operator and the bound, when max rounds did not
 * get there — never a silently unconverged answer. The probe runs
 * before every round, the first included, so a state that is already
 * done (empty input) returns without a round.
 */
object Fixpoint {

  /** How many rounds a loop runs, and what reaching the bound means. */
  sealed trait Policy[S]
  /** Exactly `n` rounds; no probe. */
  final case class Fixed[S](n: Int) extends Policy[S]
  /** Rounds until `done`, at most `n`; stopping at `n` is an answer. */
  final case class Cap[S](n: Int, done: S => Boolean) extends Policy[S]
  /** Rounds until `done`; not done after `max` rounds is an error. */
  final case class Converge[S](max: Int, done: S => Boolean) extends Policy[S]

  /** The loop's lineage cut, handed to every step. */
  type Cut = DataFrame => DataFrame

  /** `GRAFT_LOOP_DEBUG` set: each loop prints one line (name, rounds,
   * converged) to stderr. */
  private[graft] val debug: Boolean = sys.env.contains("GRAFT_LOOP_DEBUG")

  /**
   * Run `step` from `init` under `policy`. A step gets the state, the
   * 1-based round number and the loop's cut, and returns the next
   * state — any type: a frame, a tuple of frames, frames plus the
   * scalars a probe compares. `eager` picks the eager cut (see the
   * object doc); every loop but clusterPairs leaves it off.
   */
  def iterate[S](name: String, init: S, checkpointDir: Option[String],
                 eager: Boolean = false)
                (policy: Policy[S])(step: (S, Int, Cut) => S): S = {
    val cut: Cut = lineageCut(_, checkpointDir, eager)
    var state = init
    var rounds = 0
    def log(how: String): Unit =
      if (debug) System.err.println(s"[loop] $name: $rounds rounds, $how")
    // Cap checks the bound before probing (no probe job at the cap);
    // Converge probes first, so a state done exactly at the bound passes
    def finished(): Boolean = policy match {
      case Fixed(n) => rounds >= n
      case Cap(n, done) => rounds >= n || done(state)
      case Converge(max, done) =>
        done(state) || (rounds >= max && {
          log("converged=false")
          throw new IllegalStateException(
            s"$name did not converge in $max rounds — raise its round " +
              "bound if the input really needs more")
        })
    }
    while (!finished()) {
      rounds += 1
      state = step(state, rounds, cut)
    }
    log(policy match {
      case _: Fixed[_] => "fixed"
      case Cap(n, _) => s"converged=${rounds < n}"
      case _ => "converged=true"
    })
    state
  }

  /** The one way a frame enters a loop (see LOOP INPUT in the object
   * doc): the lazy cut of `df`, reliable under `checkpointDir`; with
   * `partitionBy` columns, a persisted `repartition` over that cut. The
   * frame's first reader materialises its blocks; every later reader,
   * each round included, reads them. */
  def input(df: DataFrame, checkpointDir: Option[String],
            partitionBy: Column*): DataFrame = {
    val leaf = lineageCut(df, checkpointDir, eager = false)
    if (partitionBy.isEmpty) leaf
    else CacheScope.persist(leaf.repartition(partitionBy: _*))
  }

  private def lineageCut(df: DataFrame, dir: Option[String],
                         eager: Boolean): DataFrame = dir match {
    case Some(d) =>
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir appends a per-context UUID subdir: only set it
      // when the requested root is not already the active one
      if (!sc.getCheckpointDir.exists(_.contains(d))) sc.setCheckpointDir(d)
      if (!eager) CacheScope.persist(df)
      df.checkpoint(eager)
    case None => df.localCheckpoint(eager)
  }
}
