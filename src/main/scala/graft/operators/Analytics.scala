package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * General analytic operators over event streams — the query patterns the
 * reference's Athena validation scripts imply (top-N, distributions,
 * transitions, windows) plus the normalization/statistics passes a
 * training-data pipeline runs before export.
 *
 * All window families partition by a high-cardinality entity key, so the
 * single shuffle per operator stays balanced at 100 TB; aggregations are
 * plain groupBys (map-side partial combine).
 */
object Analytics {

  /**
   * Top-k rows per group by a metric (e.g. each user's k busiest days):
   * one window `row_number` over (groupKeys) ordered by the metric
   * descending with explicit tie-break columns — deterministic in any
   * engine, one shuffle.
   */
  def topKPerGroup(df: DataFrame, groupKeys: Seq[String], k: Int,
                   orderBy: Seq[Column], rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(groupKeys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
  }

  /**
   * Markov transition counts: per entity, pair each row's category with
   * the previous row's (by time) and count global (prev, next)
   * transitions. The lag window shares the per-entity (key, ts) sort with
   * the sessionization family; the count is a partial-agg groupBy.
   */
  def transitions(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  catCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    df.withColumn("prev_cat", lag(col(catCol), 1).over(w))
      .filter(col("prev_cat").isNotNull)
      .groupBy(col("prev_cat"), col(catCol).as("next_cat"))
      .agg(count(lit(1)).as("n"))
  }

  /** The simple undirected edge set (u, v) of `edges`: u = least and
   * v = greatest endpoint, nulls and self-loops dropped, duplicate and
   * reversed edges collapsed. */
  private def undirected(edges: DataFrame, a: String, b: String): DataFrame =
    edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()

  /**
   * PageRank over a weighted edge list by distributed power iteration —
   * the stationary-importance ranking of the [[transitions]] graph (and
   * of any link/citation/co-click graph a corpus pipeline builds):
   *
   *   pr'(v) = (1−d)/N + d·( Σ_{u→v} pr(u)·w̄(u,v) + dangling/N )
   *
   * with per-source-normalized weights w̄ and dangling mass (nodes with
   * no out-edges) redistributed uniformly, so Σpr stays exactly 1 and
   * the result is oracle-replicable.
   *
   * Scale shape (the [[graft.operators.Dedup.clusterPairs]] loop
   * pattern): the normalized edge table is persisted and repartitioned
   * by src ONCE for the whole loop; each of the fixed `iters` rounds is
   * one src-keyed join + one partial-agg'd groupBy on dst + a one-row
   * broadcast dangling aggregate. Fixed iteration count, not an FP
   * convergence test — deterministic everywhere, and at O(log N) rounds
   * power iteration is within ~d^iters of the fixpoint anyway.
   */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: Option[String] = None,
               damping: Double = 0.85, iters: Int = 10,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1,
      "pagerank needs iters >= 1 and damping in (0,1)")
    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val e0 = graft.Fixpoint.input(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w")),
      checkpointDir)
    // non-positive/null weights would make a source's normalizing sum 0
    // or negative — null/Inf wn then poisons EVERY rank via the join.
    // Such edges carry no mass by definition (weightedSample's w > 0
    // contract) and are dropped BEFORE normalization; their endpoints
    // stay in the node set (a source left with no positive out-edge is
    // simply dangling and gets teleport mass like any sink).
    val eNorm = graft.CacheScope.persist(
      e0.filter(col("w") > 0)
        .withColumn("wn", col("w") / sum("w").over(Window.partitionBy("src")))
        .select("src", "dst", "wn")
        .repartition(col("src")))
    val nodes = graft.CacheScope.persist(
      e0.select(col("src").as("node")).union(e0.select(col("dst"))).distinct())
    val nN = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val dangling = graft.CacheScope.persist(
      nodes.join(eNorm.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti"))
    val ranks0 = nodes.crossJoin(broadcast(nN))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("pr"))
    graft.Fixpoint.iterate("pagerank", ranks0, checkpointDir)(
        graft.Fixpoint.Fixed(iters)) { (ranks, _, cut) =>
      // each round references the previous one THREE times
      // (contribution join, dangling aggregate, output): cut every round.
      // (Cutting every SECOND round with a lazy persist in between was
      // tried: no measurable win at the 5M-edge stress scale — job
      // dispatch isn't the bottleneck there — so the uniform cut stays.)
      val r = cut(ranks)
      val inMass = r.join(eNorm, r("node") === eNorm("src"))
        .groupBy("dst").agg(sum(col("pr") * col("wn")).as("in_mass"))
      val dangMass = r.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum("pr"), lit(0.0)).as("d_mass"))
      nodes
        .join(inMass, nodes("node") === inMass("dst"), "left")
        .crossJoin(broadcast(dangMass)).crossJoin(broadcast(nN))
        .select(nodes("node"),
          (lit(1.0 - damping) / col("n_nodes") + lit(damping) *
            (coalesce(col("in_mass"), lit(0.0)) + col("d_mass") / col("n_nodes")))
            .as("pr"))
    }
  }

  /**
   * PERSONALIZED PageRank (random walk with restart): [[pagerank]] with
   * the uniform teleport replaced by a SEED distribution — restarts land
   * uniformly on the seed set, so ranks measure proximity TO the seeds
   * instead of global centrality (the similarity-search / "more like
   * these" / influence-from-here primitive on graphs). Dangling mass
   * redistributes to the seeds too (the walk restarts wherever it
   * stalls): pr' = (1−d)·t + d·(in_mass + dangling·t), with t = 1/|S∩V|
   * on seeds present in the graph and 0 elsewhere. Seeds outside the
   * graph carry no mass and are ignored; Σpr ≡ 1 every round.
   *
   * Same plan discipline as [[pagerank]]: edges normalized and
   * repartitioned once, each round one src-keyed join + one partial-agg
   * groupBy + a 1-row dangling broadcast, rounds lineage-cut (the
   * 3^iters rule).
   */
  def personalizedPagerank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           weightCol: Option[String] = None,
                           damping: Double = 0.85, iters: Int = 10,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1,
      "personalizedPagerank needs iters >= 1 and damping in (0,1)")
    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val e0 = graft.Fixpoint.input(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w")),
      checkpointDir)
    val eNorm = graft.CacheScope.persist(
      e0.filter(col("w") > 0)
        .withColumn("wn", col("w") / sum("w").over(Window.partitionBy("src")))
        .select("src", "dst", "wn")
        .repartition(col("src")))
    val nodes = graft.CacheScope.persist(
      e0.select(col("src").as("node")).union(e0.select(col("dst"))).distinct())
    val seedSet = graft.Fixpoint.input(
      seeds.select(col(seedCol).as("node")).distinct(), checkpointDir)
    // teleport vector over GRAPH nodes only; 1/|S∩V| mass per live seed.
    // The no-live-seed refusal is IN-PLAN (the gini/modularity
    // raise_error discipline): n_seeds rides the 1-row broadcast the
    // teleport already pays for, and t feeds every round's pr — the
    // gate cannot be pruned and costs zero extra actions (the former
    // submit-time require ran a full teleport scan at plan-build time)
    // the refusal rides the 1-row aggregate ITSELF, not the per-node
    // projection: an agg without groupBy yields exactly one row even
    // over an EMPTY graph (a per-node when() never evaluates on zero
    // rows and would silently return an empty result instead of the
    // refusal). AQE's empty-relation propagation can still drop the
    // broadcast before it builds when the per-node side is empty, so
    // the gate ALSO rides a zero-row union branch on the output (below)
    // whose filter must evaluate n_seeds on the aggregate's single row.
    val inGraph = nodes.join(seedSet, Seq("node"), "left_semi")
    val nS = inGraph.agg(count(lit(1)).cast("double").as("_n"))
      .select(
        when(col("_n") === 0.0, raise_error(lit(
          "personalizedPagerank: no seed appears in the graph")))
          .otherwise(col("_n")).as("n_seeds"))
    val tele = graft.CacheScope.persist {
      nodes.join(inGraph.withColumn("_isSeed", lit(true)), Seq("node"), "left")
        .crossJoin(broadcast(nS))
        .select(col("node"),
          when(col("_isSeed"), lit(1.0) / col("n_seeds"))
            .otherwise(lit(0.0)).as("t"))
    }
    val dangling = graft.CacheScope.persist(
      nodes.join(eNorm.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti"))
    val ranks = graft.Fixpoint.iterate("personalizedPagerank",
        tele.select(col("node"), col("t").as("pr")), checkpointDir)(
        graft.Fixpoint.Fixed(iters)) { (prev, _, cut) =>
      val r = cut(prev)
      val inMass = r.join(eNorm, r("node") === eNorm("src"))
        .groupBy("dst").agg(sum(col("pr") * col("wn")).as("in_mass"))
      val dangMass = r.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum("pr"), lit(0.0)).as("d_mass"))
      tele
        .join(inMass, tele("node") === inMass("dst"), "left")
        .crossJoin(broadcast(dangMass))
        .select(tele("node"),
          (lit(1.0 - damping) * col("t") + lit(damping) *
            (coalesce(col("in_mass"), lit(0.0)) + col("d_mass") * col("t")))
            .as("pr"))
    }
    // zero-row gate branch: an empty GRAPH is the one case the in-plan
    // nS gate can't reach (AQE empty-relation propagation collapses
    // tele's crossJoin before the nS broadcast builds). Whenever nodes
    // is NON-empty the broadcast does build and nS itself raises on 0
    // live seeds — so this branch only needs the empty-graph case, and
    // the cheapest unprunable 1-row probe is a count over the already-
    // persisted node frame (no seed semi-join re-evaluated per action,
    // which is what the first cut of this gate paid +46% cpu for). The
    // filter evaluates the count on the aggregate's single row — an agg
    // without groupBy yields exactly one row even over an empty graph —
    // raises on 0, then keeps nothing: output rows are unchanged.
    val emptyGate = nodes.agg(count(lit(1)).as("_nn"))
      .select(when(col("_nn") === 0L, raise_error(lit(
        "personalizedPagerank: no seed appears in the graph")))
        .otherwise(col("_nn")).as("_nn"))
      .filter(col("_nn") < 0L)
    ranks.unionByName(emptyGate
      .select(lit(null).cast(tele.schema("node").dataType).as("node"),
        lit(0.0).as("pr")))
  }

  /**
   * Label-propagation COMMUNITY detection (LPA, Raghavan et al. 2007) —
   * the cheap community miner for when connected components are too
   * coarse (CC merges everything touching; LPA splits a graph into
   * densely-linked groups): each node repeatedly adopts the most common
   * label among its neighbors. This implementation is SYNCHRONOUS with
   * two determinism rules — every node casts a SELF-vote (dampens the
   * classic bipartite oscillation) and ties break to the SMALLEST label
   * — plus a FIXED iteration count, so the result is a pure function of
   * the graph (rerun- and engine-reproducible), not of visit order.
   * Labels are seed node ids; a community's label is therefore one of
   * its member ids (usually the min of its dense core).
   *
   * Per round: one neighbor-label join against the symmetric edge table
   * (repartitioned by node ONCE for the loop) + two partial-agg'd
   * groupBys (vote counts on (node, label), argmax per node via min_by
   * over (−count, label)); rounds lineage-cut (the 3^iters rule). Edge
   * normalization matches [[triangles]]: self-loops and duplicate /
   * reversed edges collapse first, so each neighbor votes exactly once.
   */
  def lpaCommunities(edges: DataFrame, aCol: String, bCol: String,
                     iters: Int = 10,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"lpaCommunities needs iters >= 1, got $iters")
    val und = undirected(edges, aCol, bCol)
    val sym = graft.Fixpoint.input(
      und.union(und.select(col("v").as("u"), col("u").as("v"))),
      checkpointDir, col("u"))
    val nodes = graft.CacheScope.persist(
      sym.select(col("u").as("node")).distinct())
    val labels = graft.Fixpoint.iterate("lpaCommunities",
        nodes.withColumn("lbl", col("node")), checkpointDir)(
        graft.Fixpoint.Fixed(iters)) { (prev, _, cut) =>
      val l = cut(prev)
      val nbrVotes = sym
        .join(l.withColumnRenamed("node", "v"), "v")
        .select(col("u").as("node"), col("lbl"))
      nbrVotes.union(l.select(col("node"), col("lbl")))
        .groupBy("node", "lbl").agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(min_by(col("lbl"),
          struct((-col("cnt")).as("nc"), col("lbl"))).as("lbl"))
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /**
   * Louvain community OPTIMIZATION (Blondel et al. 2008, deterministic
   * synchronous variant) — where [[modularity]] measures Q for a GIVEN
   * partition and [[lpaCommunities]] mines structure without optimizing
   * anything, this answers the standard graph ask directly: "give me
   * the partition that maximizes Q". Two phases: `moveRounds`
   * synchronous local-move rounds on the unit-weight graph (each node
   * adopts the candidate community — its neighbors' plus its own — with
   * the maximum modularity gain), then ONE coarsening level (communities
   * contract to super-nodes, intra-community mass becomes self-loop
   * weight) and `moveRounds` more rounds on the weighted super-graph.
   *
   * Determinism and cross-engine parity are by construction:
   * synchronous rounds + a FIXED round count make the result a pure
   * function of the graph, and the ΔQ comparison is EXACT-INTEGER —
   * moving node i into community c changes Q by k_{i→c}/m −
   * d_i·d_c^{−i}/(2m²), and multiplying through by the positive
   * constant 2m² ranks candidates by score = 2m·k_{i→c} − d_i·d_c^{−i},
   * all BIGINT (edge weights start at 1 and coarsening only sums them).
   * Ties break to the SMALLEST community label; a node's own community
   * is always a candidate (staying is score-ranked like any move), so
   * an isolated-in-its-community node never moves spuriously. Exact for
   * 2m·max(d) < 2⁶³ — beyond any graph this engine will meet.
   *
   * Fully-synchronous local moves OSCILLATE: two symmetric neighbors
   * each compute max gain in the other's community and swap labels
   * forever (a path graph converges to NEGATIVE Q). The standard
   * distributed cure is parity-alternated moves — each round only the
   * nodes in one parity class adopt their best candidate, the rest hold
   * — which breaks every symmetric swap while staying deterministic.
   * Parity here is the first hex nibble of md5(node) (the engine's
   * cross-engine sampling device, identical in Spark and DuckDB), NOT
   * node-id parity, which can correlate with graph structure (on a
   * bipartite grid id-parity would freeze one whole side per round).
   * A "round" therefore updates half the nodes; size `moveRounds`
   * as 2x the desired full sweeps (default 4 = two sweeps per level).
   *
   * Like every greedy modularity optimizer, the output can contain
   * internally disconnected communities on adversarial graphs — compose
   * with [[refineCommunities]] (the Leiden repair: never lowers Q) when
   * downstream consumers assume connectedness.
   *
   * Scale shape (the lpa/pagerank discipline): per round ONE
   * neighbor-label join against the symmetric edge table + three
   * partial-agg'd groupBys (community degree mass, per-(node,candidate)
   * edge mass, per-node argmax via min_by) — no driver actions, no
   * windows, rounds lineage-cut (the 3^iters rule). Coarsening is two
   * joins + two groupBys; the super-graph is community-cardinality-
   * sized, so phase 2 is strictly cheaper than phase 1.
   */
  def louvainCommunities(edges: DataFrame, aCol: String, bCol: String,
                         moveRounds: Int = 4,
                         checkpointDir: Option[String] = None): DataFrame = {
    require(moveRounds >= 1, s"louvainCommunities needs moveRounds >= 1")
    val und = undirected(edges, aCol, bCol)
    val sym1 = graft.Fixpoint.input(
      und.union(und.select(col("v").as("u"), col("u").as("v")))
        .select(col("u"), col("v"), lit(1L).as("w")),
      checkpointDir, col("u"))
    // phase 2 reads phase 1's answer as a loop input too
    val c1 = graft.Fixpoint.input(
      louvainMoves(sym1, None, moveRounds, checkpointDir), checkpointDir)
    // coarsen: communities become nodes; inter-community weight sums,
    // intra-community weight becomes self-loop weight (sym carries both
    // orientations, so the intra sum is exactly 2x the pair weight)
    val cu = c1.select(col("node").as("u"), col("comm").as("_cu"))
    val cv = c1.select(col("node").as("v"), col("comm").as("_cv"))
    val tagged = sym1.join(cu, "u").join(cv, "v")
    val sym2 = graft.CacheScope.persist(
      tagged.filter(col("_cu") =!= col("_cv"))
        .groupBy(col("_cu").as("u"), col("_cv").as("v"))
        .agg(sum("w").as("w"))
        .repartition(col("u")))
    val self2 = tagged.filter(col("_cu") === col("_cv"))
      .groupBy(col("_cu").as("node"))
      .agg(expr("sum(w) div 2L").as("sw"))
    // phase-2 node ids ARE phase-1 community labels: project back
    val c2 = louvainMoves(sym2, Some(self2), moveRounds, checkpointDir)
      .select(col("node").as("_c1"), col("comm").as("_cfinal"))
    c1.join(c2, c1("comm") === col("_c1"), "left")
      .select(col("node"),
        coalesce(col("_cfinal"), col("comm")).as("community"))
  }

  /**
   * Leiden-style community REFINEMENT (Traag et al. 2019's headline
   * repair, factored as its own operator): any modularity-greedy or
   * label-propagation partition can emit communities that are
   * internally DISCONNECTED — Louvain famously does — and a
   * disconnected "community" is a modeling artifact, not structure.
   * Refinement splits every community into its CONNECTED components,
   * which never lowers Q: the intra-edge mass e_c is preserved exactly
   * (no inter-component edges exist to lose, by definition) while the
   * degree-mass penalty strictly shrinks (Σ d_i² over parts < (Σ d_i)²
   * whole), so Q(refined) ≥ Q(input) with equality iff every community
   * was already connected — which also makes the operator IDEMPOTENT.
   *
   * One composition, no new machinery: the intra-community edge set
   * (two membership joins + an equality filter — components cannot
   * cross communities because only same-community edges survive) feeds
   * [[graft.operators.Dedup.clusterPairs]]' log-round
   * pointer-shortcutting CC; nodes with no intra edge become
   * singletons. Labels are component-min node ids — distinct across
   * communities by construction. Compose after [[louvainCommunities]]
   * or [[lpaCommunities]] for the Leiden well-connectedness guarantee.
   */
  def refineCommunities(edges: DataFrame, aCol: String, bCol: String,
                        membership: DataFrame, nodeCol: String,
                        commCol: String,
                        checkpointDir: Option[String] = None): DataFrame = {
    val e = undirected(edges, aCol, bCol)
    val memb = membership.select(col(nodeCol).as("node"),
      col(commCol).as("comm")).distinct()
    val intra = e
      .join(memb.select(col("node").as("u"), col("comm").as("_cu")), "u")
      .join(memb.select(col("node").as("v"), col("comm").as("_cv")), "v")
      .filter(col("_cu") === col("_cv"))
      .select("u", "v")
    val cc = graft.operators.Dedup.clusterPairs(intra, "u", "v",
      checkpointDir = checkpointDir)
    memb.join(cc.select(col("id").as("node"), col("cluster_id")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("cluster_id"), col("node")).as("community"))
  }

  /**
   * Full Leiden community-detection loop (Traag, Waltman & van Eck 2019,
   * "From Louvain to Leiden") — the move → REFINE → aggregate-on-the-
   * REFINED-partition hierarchy that repairs Louvain's disconnected-
   * community defect at every level instead of once at the end:
   *
   *  1. local moves on the level graph ([[louvainMoves]] — the same
   *     parity-alternated exact-BIGINT ΔQ greedy [[louvainCommunities]]
   *     runs, so single-level results are mutually replayable);
   *  2. refinement: each move community splits into its CONNECTED
   *     components over the level graph (the [[refineCommunities]]
   *     repair, applied mid-hierarchy — Q never decreases, see there);
   *  3. aggregation on the REFINED partition — Leiden's key difference
   *     from Louvain, which aggregates on the move partition: refined
   *     communities become nodes, inter-community weights sum,
   *     intra-community mass and carried self-loops become self-loops;
   *  4. the next level's moves START from the PARENT partition (every
   *     refined community inherits its move community — well-defined
   *     because refinement only splits within communities), so the
   *     hierarchy resumes where the moves left off rather than
   *     re-discovering the partition from singletons.
   *
   * After the last level the membership projects back through the
   * refinement mappings and gets one final [[refineCommunities]] pass on
   * the ORIGINAL graph, so every emitted community is connected — the
   * paper's headline guarantee, which holds inductively: an aggregate
   * node is a connected refined community, and a connected community of
   * connected super-nodes is connected in the base graph.
   *
   * `maxLevels` is FIXED (no data-dependent early stop): a converged
   * level is a no-op for moves, refinement and aggregation alike, and a
   * fixed level count keeps the whole hierarchy replayable as a chained
   * CTE in another engine (the q_louvain oracle precedent, one more
   * level deep). Labels are component-min node ids at every stage —
   * deterministic, engine-portable. Scale shape: every phase is the
   * edge-linear join/partial-agg machinery of its standalone operator;
   * nothing new materializes beyond the per-level aggregate graphs,
   * which only shrink.
   */
  def leidenCommunities(edges: DataFrame, aCol: String, bCol: String,
                        moveRounds: Int = 4, maxLevels: Int = 2,
                        checkpointDir: Option[String] = None): DataFrame = {
    require(moveRounds >= 1 && maxLevels >= 1,
      "leidenCommunities needs moveRounds >= 1 and maxLevels >= 1")
    val und = graft.Fixpoint.input(undirected(edges, aCol, bCol), checkpointDir)
    val sym0 = graft.CacheScope.persist(
      und.union(und.select(col("v").as("u"), col("u").as("v")))
        .select(col("u"), col("v"), lit(1L).as("w"))
        .repartition(col("u")))
    // orig → current-level node; refinement labels compose into it
    val mapping0 = graft.CacheScope.persist(
      und.select(col("u").as("orig")).union(und.select(col("v")))
        .distinct().select(col("orig"), col("orig").as("node")))
    // per level: (partition, level graph, carried self-loops, starting
    // partition, mapping). Every level boundary is cut (the per-round
    // rule one level up): a level references the previous level's
    // partition, graph and refinement maps several times each, and the
    // NESTED composition (moves inside aggregation inside moves)
    // otherwise multiplies the logical tree past what plan
    // stringification can hold. The six per-level frames materialize
    // with the next action (clusterPairs' sum test or the caller's).
    val (part, _, _, _, mapping) = graft.Fixpoint.iterate("leidenCommunities",
        (null: DataFrame, sym0, Option.empty[DataFrame], Option.empty[DataFrame],
          mapping0), checkpointDir)(graft.Fixpoint.Fixed(maxLevels)) {
      case ((_, sym, selfW, init, mapping), level, cut) =>
        val part = cut(louvainMoves(sym, selfW, moveRounds, checkpointDir, init))
        if (level == maxLevels) (part, sym, selfW, init, mapping)
        else {
          // refine THIS level's partition into connected components over
          // the level graph (one orientation of sym = each edge once)
          val pu = part.select(col("node").as("u"), col("comm").as("_cu"))
          val pv = part.select(col("node").as("v"), col("comm").as("_cv"))
          val intra = sym.filter(col("u") < col("v"))
            .join(pu, "u").join(pv, "v")
            .filter(col("_cu") === col("_cv"))
            .select("u", "v")
          val cc = graft.operators.Dedup.clusterPairs(intra, "u", "v",
            checkpointDir = checkpointDir)
          val refined = cut(
            part.join(cc.select(col("id").as("node"), col("cluster_id")),
                Seq("node"), "left")
              .select(col("node"), col("comm"),
                coalesce(col("cluster_id"), col("node")).as("ref")))
          // aggregate on the REFINED partition
          val ru = refined.select(col("node").as("u"), col("ref").as("_ru"))
          val rv = refined.select(col("node").as("v"), col("ref").as("_rv"))
          val tagged = sym.join(ru, "u").join(rv, "v")
          val symNext = cut(
            tagged.filter(col("_ru") =!= col("_rv"))
              .groupBy(col("_ru").as("u"), col("_rv").as("v"))
              .agg(sum("w").as("w"))
              .repartition(col("u")))
          // self-loops: intra-refined edge mass (sym carries both
          // orientations → /2) plus members' carried self-loops
          val selfEdges = tagged.filter(col("_ru") === col("_rv"))
            .groupBy(col("_ru").as("node"))
            .agg(expr("sum(w) div 2L").as("_se"))
          val selfNext = selfW match {
            case None => selfEdges.select(col("node"), col("_se").as("sw"))
            case Some(sw0) =>
              val carried = refined.join(sw0, Seq("node"))
                .groupBy(col("ref").as("node")).agg(sum("sw").as("_sc"))
              selfEdges.join(carried, Seq("node"), "full")
                .select(col("node"),
                  (coalesce(col("_se"), lit(0L)) +
                    coalesce(col("_sc"), lit(0L))).as("sw"))
          }
          // next level resumes from the PARENT partition: every refined
          // community keeps its move community (distinct is exact — all
          // members of a refined community share one comm by construction)
          val initNext = cut(
            refined.select(col("ref").as("node"), col("comm")).distinct())
          val selfWNext = cut(selfNext)
          val mappingNext = cut(
            mapping.join(refined.select(col("node"), col("ref")), Seq("node"))
              .select(col("orig"), col("ref").as("node")))
          (part, symNext, Some(selfWNext), Some(initNext), mappingNext)
        }
    }
    // project the last level's partition back to original nodes, then
    // the final well-connectedness repair on the ORIGINAL graph
    val memb = mapping.join(part, Seq("node"))
      .select(col("orig").as("node"), col("comm"))
    refineCommunities(und, "u", "v", memb, "node", "comm", checkpointDir)
  }

  /** One synchronous local-move phase for [[louvainCommunities]] /
   * [[leidenCommunities]] over a weighted graph: `sym` holds BOTH
   * orientations of every inter-node edge (u, v, w), `selfW` the
   * per-node self-loop weight accumulated by coarsening (None at level
   * 1), `init` an optional starting partition (node, comm) — Leiden's
   * aggregate levels resume from the parent partition; None starts every
   * node in its own community. Returns (node, comm) after `rounds`
   * rounds.
   *
   * Per-round plan is THREE partial-agg groupBys + ONE keyed join + a
   * 1-row broadcast: the loop-invariant degree d rides the label frame
   * and the scoring side of `sym` (joined once, outside the loop), and
   * the own-community candidate carries an _own flag through the
   * candidate agg, so no round joins back to `deg` or re-joins the
   * label frame for the current community — same BIGINT arithmetic and
   * (−score, cand) tie-break as before, bit-for-bit with the oracle
   * replay, at ~2/3 the per-round stage count. */
  private def louvainMoves(sym: DataFrame, selfW: Option[DataFrame],
                           rounds: Int,
                           checkpointDir: Option[String],
                           init: Option[DataFrame] = None): DataFrame = {
    // d_i = Σ incident inter-edge weight (sym has both orientations, so
    // grouping on u counts each neighbor edge once) + 2·self-loop
    val nbrDeg = sym.groupBy(col("u").as("node")).agg(sum("w").as("_dn"))
    val deg = graft.CacheScope.persist(selfW match {
      case None => nbrDeg.select(col("node"), col("_dn").as("d"))
      case Some(sw) =>
        nbrDeg.join(sw, Seq("node"), "full")
          .select(col("node"),
            (coalesce(col("_dn"), lit(0L)) +
              lit(2L) * coalesce(col("sw"), lit(0L))).as("d"))
    })
    // 2m as a 1-row broadcast (never a driver action): Σ d_i. The ΔQ
    // score is BIGINT arithmetic bounded by |score| ≤ 2m·max(d) (both
    // terms non-negative: _w2·_k ≤ 2m·d and d·_dc ≤ d·2m), and Spark's
    // non-ANSI LongType silently WRAPS past 2^63 where the DuckDB
    // oracle widens to HUGEINT — so the documented bound is ENFORCED
    // in-plan on the same 1-row agg (checked in double: 53-bit mantissa
    // is exact to ~9e15 and the threshold comparison needs no more)
    val w2 = deg.agg(sum("d").as("_w2"), max("d").as("_dmax"))
      .select(
        when(col("_w2").cast("double") * col("_dmax").cast("double")
            >= 9.2e18,
          raise_error(lit("louvainMoves: 2m * max(d) >= 2^63 — " +
            "BIGINT dQ scores would wrap; coarsen or reweight first")))
          .otherwise(col("_w2")).as("_w2"))
    // md5-nibble parity: engine-reproducible, structure-independent
    val parity = conv(substring(md5(col("node").cast("string")), 1, 1),
      16, 10).cast("int") % 2
    // the scoring endpoint's degree attached ONCE (loop-invariant): the
    // per-round candidate build then never joins deg
    val symD = graft.CacheScope.persist(
      sym.join(deg.select(col("node").as("u"), col("d")), Seq("u")))
    // the label frame carries d for the same reason
    val labels0 = init match {
      case None => deg.select(col("node"), col("node").as("comm"), col("d"))
      case Some(p0) =>
        deg.join(p0.select(col("node"), col("comm")), Seq("node"), "left")
          .select(col("node"),
            coalesce(col("comm"), col("node")).as("comm"), col("d"))
    }
    val labels = graft.Fixpoint.iterate("louvainMoves", labels0, checkpointDir)(
        graft.Fixpoint.Fixed(rounds)) { (prev, i, cut) =>
      // cut EVERY round: a round references the label frame ~4 times, so
      // skipping even one cut quadruples the replanned tree (measured:
      // every-2nd-round cutting took wall from 14 s to 120 s at sf0.001
      // — the uncut reference fan-out dominates). The lazy cut measured
      // 9.2 s → ~6 s at sf0.1 against one eager job per round.
      val l = cut(prev)
      val commDeg = l.groupBy("comm").agg(sum("d").as("_dc"))
      // k_{i→c}: edge mass from each node to each neighbor community,
      // plus the own-community candidate at k=0 (sum-merged if the node
      // also has neighbors there — _own's max survives the merge)
      val nbrMass = symD
        .join(l.select(col("node").as("v"), col("comm").as("_cand")), "v")
        .select(col("u").as("node"), col("_cand"), col("w"), col("d"),
          lit(0L).as("_own"))
      val cands = nbrMass
        .unionByName(l.select(col("node"), col("comm").as("_cand"),
          lit(0L).as("w"), col("d"), lit(1L).as("_own")))
        .groupBy("node", "_cand").agg(sum("w").as("_k"),
          max("d").as("_d"), max("_own").as("_own"))
      // the current community rides the scored frame (the _own
      // candidate IS it), so the parity-gated adoption needs no second
      // join back against the label frame
      cands
        .join(commDeg.withColumnRenamed("comm", "_cand"), Seq("_cand"))
        .crossJoin(broadcast(w2))
        .select(col("node"),
          col("_cand"),
          col("_own"),
          col("_d"),
          (col("_w2") * col("_k") - col("_d") *
            (col("_dc") - when(col("_own") === 1L, col("_d"))
              .otherwise(lit(0L)))).as("_score"))
        .groupBy("node")
        .agg(min_by(col("_cand"),
          struct((-col("_score")).as("ns"), col("_cand"))).as("_best"),
          max(when(col("_own") === 1L, col("_cand"))).as("_cur"),
          max(col("_d")).as("d"))
        // parity-alternated adoption: only one parity class moves per
        // round (see the oscillation note in the public scaladoc)
        .select(col("node"),
          when(parity === lit(i % 2), col("_best"))
            .otherwise(col("_cur")).as("comm"),
          col("d"))
    }
    labels.select(col("node"), col("comm"))
  }

  /**
   * Triangle count of an undirected graph — the clustering/cohesion
   * scalar behind community screens (vessel rendezvous cliques, near-dup
   * link graphs). Degree-ordered wedge counting (the MapReduce-classic
   * Suri–Vassilvitskii shape): every edge is oriented from the lower
   * (degree, id) endpoint to the higher, each node pairs its
   * out-neighbors into wedges, and a semi-join against the oriented
   * edges closes them. Orientation bounds out-degree by O(√m), so wedge
   * candidates are O(m^1.5) TOTAL and the hottest node in a power-law
   * graph stops mattering — a hub of degree 10⁶ has out-degree ~√m, not
   * 10⁶. Each triangle is counted exactly once (at its lowest-rank
   * vertex). Three shuffles: degree groupBy, wedge self-join on the
   * center, closing semi-join.
   */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = undirected(edges, aCol, bCol)
    val deg = und.select(col("u").as("n")).union(und.select(col("v")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    // the wedge join reads the oriented edges twice; persist (scoped)
    val oriented = graft.CacheScope.persist(withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddeg")))
    val e1 = oriented.select(col("src"), col("dst").as("x"), col("ddeg").as("dx"))
    val e2 = oriented.select(col("src"), col("dst").as("y"), col("ddeg").as("dy"))
    val wedges = e1.join(e2.hint("shuffle_hash"), Seq("src"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("x").as("src"), col("y").as("dst"))
    // shuffle_hash: the build side is the EDGE list (m rows); sort-merge
    // would instead sort the wedge side, which is O(m^1.5) rows
    wedges.join(oriented.select("src", "dst").hint("shuffle_hash"),
        Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /**
   * Chi-square independence screen between two categorical columns —
   * "does event mix drift by weekday?" asked as one number. Builds the
   * full contingency table INCLUDING zero-observed cells (the margins
   * cross-join is |A|×|B| rows — tiny — and zero cells still contribute
   * their expected mass; dropping them understates χ²), then
   * χ² = Σ (obs−exp)²/exp with exp = n_a·n_b/N. One partial-agg'd
   * groupBy over the data; everything downstream is margin-sized and
   * broadcast. Emits (chi2, dof, n_total) — compare to the χ²
   * critical value offline.
   */
  def chiSquare(df: DataFrame, colA: String, colB: String): DataFrame = {
    val obs = df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val margA = obs.groupBy("a").agg(sum("n_ab").as("n_a"))
    val margB = obs.groupBy("b").agg(sum("n_ab").as("n_b"))
    val total = obs.agg(sum("n_ab").cast("double").as("n"))
    val cells = margA.crossJoin(broadcast(margB))
      .join(obs, Seq("a", "b"), "left")
      .crossJoin(broadcast(total))
      .withColumn("exp", col("n_a").cast("double") * col("n_b") / col("n"))
      .withColumn("o", coalesce(col("n_ab").cast("double"), lit(0.0)))
    cells.agg(
      sum((col("o") - col("exp")) * (col("o") - col("exp")) / col("exp")).as("chi2"),
      ((countDistinct("a") - 1) * (countDistinct("b") - 1)).as("dof"),
      max(col("n")).cast("long").as("n_total"))
  }

  /**
   * All-pairs Pearson correlation matrix over numeric columns, emitted
   * as (col_x, col_y, r) rows for x < y — the feature-redundancy screen
   * run before a training export (|r| ≈ 1 means one of the two columns
   * is dead weight). ALL |cols|·(|cols|−1)/2 `corr` measures run in ONE
   * aggregation — a single scan with map-side partial moments, one
   * single-row result unpivoted to rows. Never one scan per pair.
   */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    // NOT the corr() aggregate: under ANSI mode its final division
    // throws DIVIDE_BY_ZERO on a constant column. covar/(σa·σb) with an
    // explicit zero-σ guard returns null there instead (matching DuckDB
    // corr's NULL), and the when() short-circuits the division.
    // Pearson is defined over PAIRWISE-COMPLETE rows: each pair's σs are
    // restricted to rows where the OTHER column is non-null too (exactly
    // like covar_samp), else r drifts from corr — and can leave [-1,1] —
    // whenever nulls are asymmetric. σ of a 1-row pair set is NaN
    // (stddev_samp), guarded to null like the zero case.
    val aggs = pairs.flatMap { case (a, b) =>
      val (ca, cb) = (col(a).cast("double"), col(b).cast("double"))
      Seq(covar_samp(ca, cb).as(s"__c__${a}__$b"),
        stddev_samp(when(cb.isNotNull, ca)).as(s"__sx__${a}__$b"),
        stddev_samp(when(ca.isNotNull, cb)).as(s"__sy__${a}__$b"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(pairs.map { case (a, b) =>
        val (sa, sb) = (col(s"__sx__${a}__$b"), col(s"__sy__${a}__$b"))
        when(sa.isNull || sb.isNull || isnan(sa) || isnan(sb) ||
            sa === 0.0 || sb === 0.0, lit(null))
          .otherwise(col(s"__c__${a}__$b") / (sa * sb)).as(s"__${a}__$b")
      }: _*)
      .select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_x"), lit(b).as("col_y"),
          col(s"__${a}__$b").as("r"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /**
   * Per-group z-score normalization (feature standardization before
   * export). Mean and stddev are derived from per-group sum / sum-of-
   * squares / count — explicit arithmetic instead of engine-native
   * variance so any SQL engine reproduces the identical doubles:
   * std = sqrt((sum_sq - sum²/n) / (n-1)).
   *
   * A group of identical values has std = 0; the z is explicitly null
   * there (Spark's 0/0 is null but IEEE engines give NaN/inf — an
   * oracle divergence and a NaN source if left implicit). The explicit-
   * sums formula cancels catastrophically when |mean| >> spread; callers
   * standardizing large-offset data should center first.
   */
  def zscore(df: DataFrame, groupKeys: Seq[String], valueCol: String,
             outCol: String = "z"): DataFrame = {
    val w = Window.partitionBy(groupKeys.map(col): _*)
    val v = col(valueCol)
    val s = sum(v).over(w)
    val sq = sum(v * v).over(w)
    val n = count(v).over(w).cast("double")
    val mean = s / n
    val std = sqrt((sq - s * s / n) / (n - 1))
    // n < 2 makes the sample variance 0/0 = NaN, which the std = 0 guard
    // does NOT catch — and NaN compares GREATER than any threshold under
    // Spark's NaN ordering, so an unguarded singleton group would z-score
    // to NaN and pass every |z| > cut filter. Singletons are null like
    // zero-variance groups.
    df.withColumn(outCol,
      when(n < 2 || std === 0, lit(null)).otherwise((v - mean) / std))
  }

  /**
   * Per-group percentile rank (cume_dist): each row's value mapped to
   * its within-group cumulative fraction — the continuous cousin of
   * [[ntileBucket]] and the standard rank-normalization before
   * cross-group comparisons (a 900-char doc means different things in
   * `en` and `zh`; its length PERCENTILE does not). One window shuffle
   * on the (high-cardinality) group key.
   */
  def percentileRank(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     outCol: String = "pct_rank"): DataFrame =
    df.withColumn(outCol, cume_dist().over(
      Window.partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))))

  /**
   * Fixed-width histogram of a numeric column: bucket lower bound →
   * count. A single partial-agg groupBy on the bucketed key — the
   * one-pass distribution profile for numeric DQ.
   */
  def histogram(df: DataFrame, valueCol: String, width: Double): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy((floor(col(valueCol) / width) * width).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /**
   * Pivoted count matrix: one row per `rowKey`, one count column per
   * pivot value. The pivot values are EXPLICIT (no discovery pass over
   * the data, no extra job; columns are stable across runs/engines),
   * and the pivot is direct conditional aggregation — ONE partial-agg'd
   * shuffle, unlike `Dataset.pivot` which plans a pre-aggregation plus a
   * second pivotfirst shuffle.
   */
  def pivotCounts(df: DataFrame, rowKey: String, pivotCol: String,
                  pivotValues: Seq[String]): DataFrame = {
    val aggs = pivotValues.map(v =>
      count(when(col(pivotCol) === v, 1)).as(v))
    df.groupBy(col(rowKey)).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Inter-arrival gap statistics per entity: min/max/avg gap seconds and
   * event count — the cadence profile behind the reference's 3-hour
   * session gap rule. One (key, ts) window for the lag + one groupBy.
   */
  def interArrival(df: DataFrame, keyCols: Seq[String], tsSecCol: String,
                   tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsSecCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    df.withColumn("gap_s", col(tsSecCol) - lag(col(tsSecCol), 1).over(w))
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        min(col("gap_s")).as("min_gap_s"),
        max(col("gap_s")).as("max_gap_s"),
        avg(col("gap_s")).as("avg_gap_s"))
  }

  /**
   * Equal-frequency bucket assignment per group (`ntile`): e.g. per-user
   * value quartiles for stratification. Deterministic via explicit
   * tie-break ordering; SQL-standard ntile semantics in every engine.
   */
  def ntileBucket(df: DataFrame, groupKeys: Seq[String], n: Int,
                  orderBy: Seq[Column], outCol: String = "bucket"): DataFrame = {
    val w = Window.partitionBy(groupKeys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(outCol, ntile(n).over(w))
  }

  /**
   * Rolling mean over the previous `window` rows (inclusive) per entity
   * in time order — trend smoothing on an ordered timeline. Sequential
   * accumulation within the frame means the doubles are reproducible
   * across engines.
   */
  def rollingMean(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  valueCol: String, window: Int,
                  tieBreak: Seq[String] = Nil,
                  outCol: String = "rolling_avg"): DataFrame = {
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    df.withColumn(outCol, avg(col(valueCol)).over(w))
  }

  /**
   * Leave-one-out TARGET ENCODING with prior smoothing — the standard
   * high-cardinality categorical feature for tabular models: each row's
   * category is encoded as the mean label of its OTHER members, shrunk
   * toward the global mean by `smoothing` pseudo-counts
   * (enc = (Σ_cat − own + s·gm) / (n_cat − 1 + s)). Leaving the row's
   * own label out is the leakage guard (with it, the feature memorizes
   * the label and validation lies); the shrinkage handles rare
   * categories (n = 1 → exactly the global mean).
   *
   * Scale shape: per-category sums via ONE partial-agg'd groupBy (never
   * a category-partitioned window — a hot category would funnel its
   * whole partition through one task), joined back broadcast (category
   * tables are small next to the fact side; pass
   * `broadcastStats = false` when cardinality is fact-sized and let the
   * join shuffle), the global mean a 1-row broadcast; the encode itself
   * is map-side arithmetic. NULL categories form their own group
   * (null-safe join); rows with a NULL label get the full-category
   * posterior (nothing to leave out).
   */
  def targetEncode(df: DataFrame, catCol: String, labelCol: String,
                   smoothing: Double, outCol: String = "enc",
                   broadcastStats: Boolean = true): DataFrame = {
    require(smoothing > 0, s"smoothing must be > 0, got $smoothing")
    val gm = df.agg(avg(col(labelCol)).as("__gm"))
    val stats = df.groupBy(col(catCol).as("__cat"))
      .agg(sum(col(labelCol)).as("__s"), count(col(labelCol)).as("__n"))
    val statsSide = if (broadcastStats) broadcast(stats) else stats
    val lbl = col(labelCol).cast("double")
    df.join(statsSide, col(catCol) <=> col("__cat"), "left")
      .crossJoin(broadcast(gm))
      .withColumn(outCol,
        when(lbl.isNotNull,
          (col("__s") - lbl + lit(smoothing) * col("__gm"))
            / (col("__n") - 1 + smoothing))
          .otherwise((coalesce(col("__s"), lit(0.0))
            + lit(smoothing) * col("__gm"))
            / (col("__n") + smoothing)))
      .drop("__cat", "__s", "__n", "__gm")
  }

  /**
   * Two-window mean-shift changepoint screen: at each row, compare the
   * mean of the trailing `window` rows (inclusive) against the mean of
   * the leading `window` rows; flag where |lead − trail| ≥ `threshold`.
   * The windowed form of CUSUM-style level-shift detection that stays
   * expressible as plain frame aggregates — no recursion, so it runs as
   * one per-entity window sort in Spark and replays exactly in an
   * external SQL engine ([[ewma]] covers the recency-weighted variant;
   * this one answers "WHERE did the level jump").
   *
   * Only FULL windows report (count == `window` on both sides): edge
   * rows see truncated frames whose means are noise, and a production
   * changepoint feed must not fire on every series' first and last
   * `window` rows. One (key, ts) window sort — the same shuffle the
   * session/rolling family already pays; both frames and both counts
   * ride one WindowExec.
   */
  def meanShift(df: DataFrame, keyCols: Seq[String], tsCol: String,
                valueCol: String, window: Int, threshold: Double,
                tieBreak: Seq[String] = Nil): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val base = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val trail = base.rowsBetween(-(window - 1), Window.currentRow)
    val lead = base.rowsBetween(1, window)
    df.withColumn("trail_mean", avg(col(valueCol)).over(trail))
      .withColumn("lead_mean", avg(col(valueCol)).over(lead))
      .withColumn("_nt", count(col(valueCol)).over(trail))
      .withColumn("_nl", count(col(valueCol)).over(lead))
      .filter(col("_nt") === window && col("_nl") === window)
      .withColumn("shift", col("lead_mean") - col("trail_mean"))
      .filter(abs(col("shift")) >= threshold)
      .drop("_nt", "_nl")
  }

  /**
   * Exponentially weighted moving average over the last `window` rows
   * per entity — the recency-biased smoother behind drift/anomaly
   * screens (a rolling mean lags level shifts; EWMA tracks them at the
   * same cost). ewma_t = Σ_{j=0..K-1} α·(1−α)^j·x_{t−j} / Σ weights,
   * i.e. the bounded-window form of the classic recursion, so one late
   * level shift decays in ~1/α rows instead of polluting a whole mean.
   *
   * Plan shape: ONE (key, ts) window (shared with the session family's
   * sort) collecting the last K values, folded with `aggregate` — a
   * codegen'd per-row loop over ≤ K elements with a STRICT left fold,
   * the same order an external engine's list_reduce replays, so the
   * doubles are bit-reproducible cross-engine (the DotProduct
   * convention). No self-join, no per-row UDF; K is a constant.
   */
  def ewma(df: DataFrame, keyCols: Seq[String], tsCol: String,
           valueCol: String, alpha: Double, window: Int,
           tieBreak: Seq[String] = Nil,
           outCol: String = "ewma"): DataFrame = {
    require(alpha > 0 && alpha <= 1, "ewma needs alpha in (0,1]")
    require(window >= 1, "ewma needs window >= 1")
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    // collect_list over a rows window preserves frame order: element 0
    // is the OLDEST row in the frame, so the classic recursion
    // acc·(1−α)+α·x weights the current row highest. Numerator and
    // normalizer are the SAME strict left fold in pure iterated
    // multiply-add — no pow(), whose last-ulp rounding may differ
    // between engines — so an external list_reduce replays the doubles
    // bit-for-bit (the DotProduct convention).
    val vs = collect_list(col(valueCol).cast("double")).over(w)
    val decay = lit(1.0 - alpha)
    df.withColumn("_vs", vs)
      .withColumn(outCol,
        when(size(col("_vs")) > 0,
          aggregate(col("_vs"), lit(0.0), (acc, x) => acc * decay + lit(alpha) * x) /
          aggregate(col("_vs"), lit(0.0), (acc, _) => acc * decay + lit(alpha))))
      .drop("_vs")
  }

  /**
   * Per-entity streaming-style anomaly flag: compare each value to the
   * EWMA PREDICTION from the prior `window` rows, normalized by the
   * prior rows' sample std — |value − ewma_prior| > k·std flags the
   * point (level shifts, stuck sensors, fat-finger values). The
   * prediction window EXCLUDES the current row, so an outlier can't
   * vote itself normal. One (key, ts) window collecting the prior
   * frame; the EWMA / sum / sum-of-squares are strict left folds over
   * that list — the cross-engine-exact recipe [[ewma]] uses — and the
   * flag is null while history is thinner than `minHistory` rows or
   * the prior window is constant (std 0: no scale to judge against).
   */
  def anomalyFlags(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   valueCol: String, alpha: Double = 0.3, window: Int = 10,
                   k: Double = 3.0, minHistory: Int = 3,
                   tieBreak: Seq[String] = Nil): DataFrame = {
    require(alpha > 0 && alpha <= 1 && window >= 1 && k > 0 && minHistory >= 2,
      "anomalyFlags needs alpha in (0,1], window/k positive, minHistory >= 2")
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(-window, -1)
    val decay = lit(1.0 - alpha)
    df.withColumn("_vs", collect_list(col(valueCol).cast("double")).over(w))
      .withColumn("_n", size(col("_vs")))
      // ANSI-safe: a key's FIRST row has an empty prior window and a 0.0
      // weight normalizer — no prediction exists there (null residual)
      .withColumn("_ew", when(col("_n") > 0,
        aggregate(col("_vs"), lit(0.0), (acc, x) => acc * decay + lit(alpha) * x) /
        aggregate(col("_vs"), lit(0.0), (acc, _) => acc * decay + lit(alpha))))
      .withColumn("_sum", aggregate(col("_vs"), lit(0.0), (acc, x) => acc + x))
      .withColumn("_sq", aggregate(col("_vs"), lit(0.0), (acc, x) => acc + x * x))
      // guard on the VARIANCE, not the sqrt: fp error can push the
      // variance of a near-constant window slightly negative, and
      // sqrt(<0) is NaN — which Spark orders GREATER than any number,
      // so a `_std > 0` test would pass and emit a spurious `false`
      // where the contract (and the oracle's explicit variance guard,
      // and AnomalyStream's scalar NaN > 0 = false) says null
      .withColumn("_var", when(col("_n") >= 2,
        (col("_sq") - col("_sum") * col("_sum") / col("_n")) / (col("_n") - 1)))
      .withColumn("_std", when(col("_var") > 0, sqrt(col("_var"))))
      .withColumn("residual", col(valueCol) - col("_ew"))
      .withColumn("anomaly",
        when(col("_n") >= minHistory && col("_std") > 0,
          abs(col("residual")) > lit(k) * col("_std")))
      .drop("_vs", "_n", "_ew", "_sum", "_sq", "_var", "_std")
  }

  /**
   * Lag-k autocorrelation of a value series per entity: Pearson
   * correlation between the series and its k-step lag in time order —
   * the standard periodicity/persistence signal on sensor streams. One
   * (key, ts) window for the lag (shared with the sessionization
   * family's sort) + one partial-agg'd `corr` groupBy.
   */
  def autocorr(df: DataFrame, keyCols: Seq[String], tsCol: String,
               valueCol: String, lagK: Int = 1,
               tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    // the same ANSI trap as corrMatrix: corr() throws DIVIDE_BY_ZERO on a
    // constant series; covar/(σ·σ_lag) with a zero-σ guard yields null.
    // The σ aggregates are restricted to COMPLETE pairs via when() (the
    // pair-skipping corr() does internally), and groups with zero pairs
    // still emit their (null, 0) row — same surface as before.
    df.withColumn("_lagv", lag(col(valueCol), lagK).over(w))
      .groupBy(keyCols.map(col): _*)
      .agg(covar_samp(col(valueCol), col("_lagv")).as("_cv"),
        stddev_samp(when(col("_lagv").isNotNull, col(valueCol))).as("_sa"),
        stddev_samp(when(col(valueCol).isNotNull, col("_lagv"))).as("_sb"),
        count(when(col(valueCol).isNotNull, col("_lagv"))).as("n_pairs"))
      .withColumn("autocorr",
        when(col("_sa").isNull || col("_sb").isNull ||
          col("_sa") === 0.0 || col("_sb") === 0.0, lit(null))
          .otherwise(col("_cv") / (col("_sa") * col("_sb"))))
      // keep the pre-refactor column order: (keys..., autocorr, n_pairs)
      .select((keyCols.map(col) :+ col("autocorr") :+ col("n_pairs")): _*)
  }

  /**
   * Cohort retention: assign every entity to the cohort of its first
   * active period, then count distinct entities per (cohort, period
   * offset) — the standard retention matrix. Two partial-agg groupBys
   * plus one entity-keyed join; at scale the per-entity cohort frame is
   * the same cardinality as the entity set (shuffle by the high-card
   * entity key, never by cohort).
   */
  def cohortRetention(df: DataFrame, keyCol: String, periodCol: String): DataFrame = {
    val cohorts = df.groupBy(col(keyCol)).agg(min(col(periodCol)).as("cohort"))
    df.select(col(keyCol), col(periodCol))
      .join(cohorts, keyCol)
      .groupBy(col("cohort"), (col(periodCol) - col("cohort")).as("offset"))
      .agg(countDistinct(col(keyCol)).as("n_active"))
  }

  /**
   * Ordered funnel: how many entities reach each stage IN ORDER —
   * stage k counts when the entity has an event of stage k strictly
   * after its stage-(k−1) arrival, within `windowSec` of its stage-0
   * arrival. Exact sequential semantics ("the first B after the first
   * A"), built as one per-stage aggregation + entity-keyed join per
   * stage — the loop is over the FIXED stage list (bounded, driver-side
   * plan construction only), never over data. Returns (stage 1-based,
   * n_entities reached).
   */
  def funnel(df: DataFrame, keyCol: String, tsSecCol: String, catCol: String,
             stages: Seq[String], windowSec: Long): DataFrame = {
    val base = df.select(col(keyCol).as("k"), col(tsSecCol).as("ts"), col(catCol).as("cat"))
    val first = base.filter(col("cat") === stages.head)
      .groupBy("k").agg(min("ts").as("t"))
      .withColumn("t0", col("t"))
    val reaches = stages.tail.scanLeft(first) { (prev, stage) =>
      base.filter(col("cat") === stage)
        .join(prev.select(col("k"), col("t").as("t_prev"), col("t0")), "k")
        .filter(col("ts") > col("t_prev") && col("ts") <= col("t0") + windowSec)
        .groupBy("k").agg(min("ts").as("t"), min("t0").as("t0"))
    }
    reaches.zipWithIndex.map { case (r, i) =>
      r.agg(count(lit(1)).as("n_entities"))
        .select(lit(i + 1).as("stage"), col("n_entities"))
    }.reduce(_.unionByName(_))
  }

  /**
   * Full cube over the given dimensions: counts and a value sum at every
   * combination of dimension subsets, in ONE pass (partial-agg'd grouping
   * sets) — the companion of [[Rollup.partitionProfile]] for
   * non-hierarchical dimensions.
   */
  def cubeProfile(df: DataFrame, dims: Seq[String], valueCol: String): DataFrame =
    df.cube(dims.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(col(valueCol)).as("sum_value"))

  /**
   * Per-group linear-fit profile of `yCol` against `xCol`: Pearson r,
   * sample covariance, OLS slope/intercept, n — the drift/trend screen a
   * feature-QA pass runs per segment before export (is the signal flat
   * across hours? does quality decay with length?).
   *
   * One hash aggregation: all five statistics derive from single-pass
   * mergeable moments (Welford-style numerically-stable updates inside
   * Spark's CentralMomentAgg family), so the whole profile costs one
   * shuffle of one row per group at any scale. Callers should keep
   * `xCol` small in magnitude (center/derive it first — e.g.
   * hour-of-day, not epoch seconds): stable accumulation or not,
   * r ≈ cov/(σxσy) loses digits when |mean| >> spread.
   *
   * r/slope/intercept are built from the moments explicitly rather than
   * via `corr`/`regr_slope`: under Spark 4 ANSI semantics those builtins
   * THROW divide-by-zero on a zero-variance group, where this profile
   * must report null (constant segments are normal in real data).
   */
  def linearFit(df: DataFrame, groupKeys: Seq[String], yCol: String,
                xCol: String): DataFrame =
    df.groupBy(groupKeys.map(col): _*).agg(
        covar_samp(col(yCol), col(xCol)).as("covar"),
        stddev_samp(col(yCol)).as("_sy"), stddev_samp(col(xCol)).as("_sx"),
        var_samp(col(xCol)).as("_vx"),
        avg(col(yCol)).as("_my"), avg(col(xCol)).as("_mx"),
        count(lit(1)).as("n"))
      .withColumn("pearson_r", when(col("_sy") > 0 && col("_sx") > 0,
        col("covar") / (col("_sy") * col("_sx"))))
      .withColumn("slope", when(col("_vx") > 0, col("covar") / col("_vx")))
      .withColumn("intercept",
        when(col("_vx") > 0, col("_my") - col("slope") * col("_mx")))
      .select((groupKeys.map(col) ++
        Seq("pearson_r", "covar", "slope", "intercept", "n").map(col)): _*)

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): merge
   * per-query rankings from heterogeneous retrievers (BM25, dense ANN,
   * …) into one list by score(q, d) = Σ_r 1/(kConst + rank_r(q, d)),
   * summed over the rankings that retrieved d. Rank-based, so the
   * retrievers' raw scores never need calibrating against each other —
   * the standard hybrid-retrieval combiner.
   *
   * Each input is `(query_id, doc_id, rank)`. Scale shape: a union of
   * result lists (each already top-k-bounded, so |input| ≤ Σ k_r per
   * query — retrieval output, not corpus), one partial-agg'd
   * (query, doc) sum, one top-k rank shuffle on query_id. The integer
   * reciprocal sum is order-exact at double precision for any
   * realistic kConst/rank, so results are engine-reproducible.
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kConst: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val unioned = rankings.map(_.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("rank"))).reduce(_ unionByName _)
    unioned
      .withColumn("w", lit(1.0) / (lit(kConst) + col("rank")))
      .groupBy("query_id", "doc_id")
      .agg(sum("w").as("rrf"), count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf"),
        col("n_lists"), col("rank"))
  }

  /**
   * SEASONAL-BASELINE anomaly screen — the time-series twin of the
   * plain per-group [[zscore]]: a metric with a daily/weekly rhythm
   * makes every rush hour look anomalous against a FLAT per-entity
   * baseline, so the group key here is (entity keys, time-of-period
   * bucket) — each observation is z-scored against its OWN season
   * (e.g. "Tuesdays 9-10am for this feed"). One window shuffle on the
   * composite key (the zscore machinery verbatim — same explicit-sums
   * standardization, same singleton/zero-variance null guard); the
   * flag is null-safe (null z → not anomalous, never a NaN pass).
   * `periodSec`/`bucketSec` pick the season grid: (86400, 3600) =
   * hour-of-day, (604800, 86400) = day-of-week.
   */
  def seasonalAnomaly(df: DataFrame, keys: Seq[String], tsSecCol: String,
                      valueCol: String, periodSec: Long, bucketSec: Long,
                      zCut: Double = 3.0): DataFrame = {
    require(periodSec > 0 && bucketSec > 0 && periodSec % bucketSec == 0,
      "seasonalAnomaly needs bucketSec dividing periodSec")
    val bucketed = df.withColumn("season_bucket",
      floor(pmod(col(tsSecCol), lit(periodSec)) / lit(bucketSec)).cast("long"))
    zscore(bucketed, keys :+ "season_bucket", valueCol, outCol = "season_z")
      .withColumn("anomaly",
        coalesce(abs(col("season_z")) > zCut, lit(false)))
  }

  /**
   * K-CORE of an undirected graph — iterative peeling: repeatedly drop
   * every node of degree < k (with its edges) until the survivor set is
   * stable; what remains is the maximal subgraph where every node keeps
   * ≥ k neighbors. The standard "dense interaction core" extraction
   * (community mining, spam/bot rings, co-occurrence backbones) and the
   * missing sibling of [[pagerank]]/[[triangles]]/Dedup.clusterPairs.
   *
   * Scale shape per round: one degree groupBy + two semi-joins of the
   * edge set against the surviving nodes — everything edge-linear, no
   * node ever meets a non-neighbor. Peeling CASCADES (removing one node
   * can push a neighbor below k), so rounds repeat until the edge count
   * is stable; each round lineage-cuts (the pagerank 3^iters rule). A
   * graph peels in ≤ n rounds; real graphs take a handful — `maxIters`
   * is a runaway bound (an error if hit, never silent).
   *
   * Self-loops and duplicate/reversed edges are normalized away (the
   * [[triangles]] rule), so degree = distinct-neighbor count. Returns
   * the surviving `(node, degree)` rows — degrees IN the core, all ≥ k.
   */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxIters: Int = 50,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    val und0 = graft.Fixpoint.input(undirected(edges, aCol, bCol), checkpointDir)
    val n0 = und0.count()
    // state: (live edges, their count, stable)
    val (und, _, _) = graft.Fixpoint.iterate("kCore", (und0, n0, n0 == 0L),
        checkpointDir)(graft.Fixpoint.Converge(maxIters, _._3)) {
      case ((cur, nEdges, _), _, cut) =>
        val deg = cur.select(col("u").as("n")).union(cur.select(col("v")))
          .groupBy("n").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select("n")
        val next = cut(
          cur.join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
            .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
            .select("u", "v"))
        val nNext = next.count()
        (next, nNext, nNext == nEdges)
    }
    und.select(col("u").as("n")).union(und.select(col("v")))
      .groupBy("n").agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
  }

  /**
   * FIRST-touch sibling of [[lastTouch]]: each conversion credits the
   * EARLIEST touch inside the lookback window (campaign-origin
   * attribution). Implemented as a TIME-RANGE window frame —
   * `rangeBetween(-lookbackSec, -1)` on the epoch-seconds ordering —
   * with a min-struct aggregate over the frame, so the window bound IS
   * the lookback (no post-filter): the other standard attribution
   * recipe, and the range-frame counterpart to lastTouch's row frame.
   * Second granularity: a touch in the conversion's own second is
   * excluded (range bounds are on the ORDER value). Same single
   * user-keyed shuffle, join-free. Returns `(channel, n_conv)`.
   */
  def firstTouch(events: DataFrame, userCol: String, tsCol: String,
                 idCol: String, typeCol: String, touchTypes: Seq[String],
                 convType: String, lookbackSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      "firstTouch: touchTypes must be non-empty and exclude convType")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol).cast("long"))
      .rangeBetween(-lookbackSec, -1)
    events
      .withColumn("_ft", min(
        when(col(typeCol).isin(touchTypes: _*),
          struct(col(tsCol).cast("long").as("t"), col(idCol).as("i"),
            col(typeCol).as("y")))).over(w))
      .filter(col(typeCol) === convType)
      .withColumn("channel", coalesce(col("_ft.y"), lit("direct")))
      .groupBy("channel").agg(count(lit(1)).as("n_conv"))
  }

  /**
   * LAST-TOUCH conversion attribution — the marketing-analytics staple:
   * each conversion event credits the user's most recent prior touch
   * event within `lookbackSec`, else the `direct` channel. One
   * entity-keyed window over the unioned timeline (no self-join, no
   * state duplication — the as-of-join formulation would shuffle both
   * event classes separately and join them back; here conversions and
   * touches ride the SAME single shuffle by user), with `last(...,
   * ignoreNulls)` over the strictly-preceding frame so a touch at the
   * conversion's own instant does not credit itself. (event_id breaks
   * ts ties, so the order — and the attribution — is total and
   * engine-reproducible.)
   *
   * Returns `(channel, n_conv)`.
   */
  def lastTouch(events: DataFrame, userCol: String, tsCol: String,
                idCol: String, typeCol: String, touchTypes: Seq[String],
                convType: String, lookbackSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      "lastTouch: touchTypes must be non-empty and exclude convType")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .withColumn("_lt", last(
        when(col(typeCol).isin(touchTypes: _*),
          struct(col(tsCol).as("t"), col(typeCol).as("y"))),
        ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .withColumn("channel",
        when(col("_lt").isNotNull &&
          col(tsCol) - col("_lt.t") <= lookbackSec, col("_lt.y"))
          .otherwise(lit("direct")))
      .groupBy("channel").agg(count(lit(1)).as("n_conv"))
  }

  /**
   * Grouped ROC-AUC via the rank-sum (Mann–Whitney) identity: AUC =
   * (R₊ − n₊(n₊+1)/2) / (n₊·n₋) where R₊ is the sum of the positives'
   * AVERAGE ranks under the ascending score order — no threshold sweep,
   * no curve materialization, and ties are exact (average rank), not
   * order-dependent. The model-eval number the quality-classifier
   * family reports per slice ("does the filter actually rank spam below
   * prose IN THIS source/language?").
   *
   * Scale shape: one partial-agg'd groupBy onto (group, DISTINCT score)
   * — the window that assigns cumulative ranks runs over distinct-score
   * rows, partitioned by the group keys, so its state is bounded by
   * score cardinality per group, never corpus size; a final rollup
   * yields one row per group. Rank sums stay in exact floating
   * arithmetic (integers and halves), so the result is
   * order-independent and engine-reproducible. Pass a SCORE COLUMN
   * ROUNDED to the reported precision (e.g. 1e-3): tie groups are then
   * well-defined across engines instead of hanging on last-ulp sums.
   * Groups with no positives or no negatives return NULL auc (undefined
   * — surfaced, not defaulted). `groupCols` must be non-empty: a global
   * AUC would plan an unpartitioned window; group the slice axis you
   * report on (or lit-tag a single slice).
   */
  def groupedAuc(df: DataFrame, scoreCol: String, labelCol: String,
                 groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "groupedAuc needs group keys — an ungrouped AUC funnels the rank " +
        "window through one task; tag a constant group to get one row")
    val g = groupCols.map(col)
    val counts = df
      .groupBy((g :+ col(scoreCol).as("_s")): _*)
      .agg(count(lit(1)).as("_n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("_np"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("_s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    counts
      .withColumn("_avg_rank",
        coalesce(sum(col("_n")).over(w), lit(0L)) +
          (col("_n") + 1).cast("double") / 2.0)
      .groupBy(g: _*)
      .agg(sum(col("_np")).as("n_pos"),
        sum(col("_n") - col("_np")).as("n_neg"),
        sum(col("_np").cast("double") * col("_avg_rank")).as("_rpos"))
      .withColumn("auc",
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise((col("_rpos") -
            col("n_pos").cast("double") * (col("n_pos") + 1) / 2.0) /
            (col("n_pos").cast("double") * col("n_neg"))))
      .drop("_rpos")
  }

  /**
   * Calibration table for a probabilistic-ish score: equal-width bins
   * over the observed [min, max], per-bin count, positive rate and mean
   * score — the reliability diagram behind "is the quality classifier's
   * 0.9 actually 90%?". All internal arithmetic rides the MILLI-SCALED
   * integer score `floor(score·1000 + 0.5)` (exact in doubles, so sums
   * are order-independent and a DuckDB replay is bit-identical); the
   * bin edges come from one 1-row min/max aggregate that
   * crossJoin-broadcasts. One corpus pass + one nBins-row rollup.
   * Degenerate all-one-score input lands in bin 0 by convention.
   */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "calibrationBins needs nBins >= 1")
    val si = floor(col(scoreCol) * 1000 + 0.5)
    val mm = df.agg(min(si).as("_lo"), max(si).as("_hi"))
    df.crossJoin(broadcast(mm))
      .withColumn("bin",
        when(col("_hi") === col("_lo"), lit(0))
          .otherwise(least(lit(nBins - 1),
            floor((si - col("_lo")) * nBins / (col("_hi") - col("_lo") + 1))))
          .cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        sum(si).cast("long").as("_si_sum"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("mean_score",
        col("_si_sum").cast("double") / 1000.0 / col("n").cast("double"))
      .drop("_si_sum")
  }

  /**
   * Retrieval-quality eval: per-query recall@k and reciprocal rank of a
   * ranked result list against a relevance ground truth — the numbers a
   * retrieval stack (BM25 / hybrid / ANN) reports before anyone trusts
   * it. `results` carries (query, doc, rank) for the top-k already cut;
   * `truth` carries (query, relevant doc) pairs. Queries with NO
   * retrieved relevant doc emit (0 hits, recall 0, rr 0) — visible,
   * not dropped.
   *
   * Scale shape: one equi-join on (query, doc) — the results side is
   * already k-bounded per query so the join is eval-set-sized — and two
   * partial-agg'd rollups; nothing scales with the corpus.
   */
  def retrievalEval(results: DataFrame, truth: DataFrame,
                    queryCol: String = "query_id", docCol: String = "doc_id",
                    rankCol: String = "rank",
                    relCol: String = "rel_id"): DataFrame = {
    val hits = results.alias("r")
      .join(truth.alias("t"),
        col(s"r.$queryCol") === col(s"t.$queryCol") &&
          col(s"r.$docCol") === col(s"t.$relCol"))
      .groupBy(col(s"r.$queryCol").as(queryCol))
      .agg(count(lit(1)).as("n_hits"), min(col(rankCol)).as("_first"))
    truth.groupBy(queryCol).agg(count(lit(1)).as("n_rel"))
      .join(hits, Seq(queryCol), "left")
      .select(col(queryCol), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_rel").cast("double")).as("recall"),
        coalesce(lit(1.0) / col("_first"), lit(0.0)).as("rr"))
  }

  /**
   * DISTRIBUTED global row_number over a total order — the scale path
   * for FULL ranked artifacts (e.g. a whole ranked vocabulary), where
   * `row_number().over(Window.orderBy(...))` would funnel every row
   * through one task and a rank-filter's TakeOrderedAndProject pushdown
   * does not apply because ALL ranks are wanted. Classic two-phase
   * scan: range-partition + sort on the order (a distributed total
   * sort), then per-partition local indexes shift by per-partition
   * offsets. Ranks are identical to the window form whenever `order` is
   * a total order — range boundaries can't matter, only the global sort
   * does; make the last key a tiebreaker if the leading keys can tie.
   *
   * Index assignment stays INSIDE Tungsten: `monotonically_increasing_id`
   * is exactly (partitionId << 33) + localRowIndex in partition
   * iteration order — the sorted order here — so local index and
   * partition id are codegen'd column reads, where the previous
   * `.rdd.zipWithIndex` hop deserialized every row to an external Row
   * (allocation-bound: measured 30–70 s GC-unstable executor cpu on a
   * 3M-row sort at the 50× tier, gone after this rewrite). The sorted
   * frame persists ONCE so the offset aggregation and the output read
   * the SAME materialized partitioning (two separate actions would
   * re-execute the range exchange with a fresh boundary sample — the
   * id assignment must be read off one snapshot); offsets are a
   * cumulative sum over one row PER PARTITION — the single-task window
   * is bounded by the cluster's partition count, never data (the
   * partition-profile exception), and broadcasts back.
   */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
                      outCol: String = "rank"): DataFrame = {
    require(order.nonEmpty, "globalRowNumber needs an ordering")
    val outCols = df.columns.map(col)
    val sorted = graft.CacheScope.persist(
      df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
        .select(outCols :+ spark_partition_id().as("_grn_pid") :+
          monotonically_increasing_id().as("_grn_mid"): _*))
    val offs = sorted.groupBy("_grn_pid").agg(count(lit(1)).as("_grn_n"))
      .withColumn("_grn_off", coalesce(
        sum("_grn_n").over(org.apache.spark.sql.expressions.Window
          .orderBy("_grn_pid")
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select("_grn_pid", "_grn_off")
    sorted.join(broadcast(offs), "_grn_pid")
      .select(outCols :+
        (col("_grn_off") + col("_grn_mid") -
          shiftleft(col("_grn_pid").cast("long"), 33) + 1L).as(outCol): _*)
  }

  /**
   * Kaplan–Meier survival estimator per cohort — "how long do users
   * stay / sessions last / voyages run", answered honestly under RIGHT
   * CENSORING (an entity still active when the observation window
   * closes tells you its lifetime EXCEEDS the observed duration; a naive
   * mean-of-durations silently treats it as dead and biases every
   * retention number low). At each distinct observed duration t:
   * at-risk n_t = entities with duration ≥ t, events d_t = observed
   * (uncensored) endings at t, and S(t) = Π_{u ≤ t} (1 − d_u/n_u) — the
   * product-limit estimator.
   *
   * Scale shape: one partial-agg'd groupBy onto (cohort, DISTINCT
   * duration) — the windows that accumulate at-risk counts and the
   * product run over distinct-duration rows PARTITIONED BY the cohort,
   * so window state is bounded by duration cardinality per cohort,
   * never entity count. The product is exp(Σ ln factor) with an
   * explicit zero-factor flag (the final duration where d = n sends
   * S to exactly 0; ln(0) is null in Spark but −inf in IEEE engines —
   * the flag makes both emit exact 0.0). `eventCol` is boolean: true =
   * the ending was OBSERVED, false = censored. Censor-only durations
   * still emit a row (factor 1 — the at-risk set shrinks, S holds).
   * `cohortCols` must be non-empty (lit-tag a single cohort) — a global
   * KM would plan an unpartitioned window.
   */
  def kaplanMeier(df: DataFrame, cohortCols: Seq[String],
                  durationCol: String, eventCol: String): DataFrame = {
    require(cohortCols.nonEmpty, "kaplanMeier needs cohort keys (lit-tag one)")
    val cks = cohortCols.map(col)
    val byT = df
      .filter(col(durationCol).isNotNull)
      .groupBy(cks :+ col(durationCol).as("t"): _*)
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("m"))
    val wAll = Window.partitionBy(cks: _*)
    val wAsc = wAll.orderBy(col("t"))
    // at-risk at t = everyone whose duration is >= t: reverse cum sum
    val nAt = sum(col("m")).over(
      wAsc.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val cum = wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", nAt)
      .withColumn("_f",
        (col("n_risk") - col("d")).cast("double") / col("n_risk"))
      .withColumn("_hit0", max(when(col("_f") === 0.0, 1).otherwise(0)).over(cum))
      .withColumn("survival",
        when(col("_hit0") === 1, lit(0.0))
          .otherwise(exp(sum(log(col("_f"))).over(cum))))
      .select(cks ++ Seq(col("t"), col("n_risk"), col("d").as("n_event"),
        (col("m") - col("d")).as("n_censor"), col("survival")): _*)
  }

  /**
   * Tie-averaged (fractional) ranks of one numeric column — the rank
   * transform behind Spearman correlation and rank-based tests, built
   * for scale: NEVER a global `rank().over(Window.orderBy(v))` (a
   * single-task funnel over the corpus). Instead one partial-agg'd
   * groupBy onto DISTINCT values, a cumulative window over the
   * distinct-value rows (state bounded by value cardinality — the
   * groupedAuc discipline), and an equi-join back on the value. The
   * average rank of a tie group of size n starting after c earlier rows
   * is c + (n+1)/2 — exact half-integer floating arithmetic, order-
   * independent, engine-reproducible. Null values get null ranks.
   *
   * Contract (the groupedAuc / ksTest discipline): pass DISCRETE or
   * parity-ROUNDED values — the cumulative window runs unpartitioned
   * over the distinct-value frame, so its size must be value
   * cardinality, not corpus size, and the rank table is BROADCAST back.
   * The contract is ENFORCED: an EXACT count of the (persisted anyway)
   * distinct-value frame refuses past `maxDistinct` instead of silently
   * broadcasting a corpus-sized rank table into a driver OOM (a raw
   * continuous double column makes every value distinct); round it
   * first. The gate rides the dv build — no extra corpus scan — and is
   * anchored to the JOIN KEY so no downstream projection can prune it.
   * The in-plan form does let a VIOLATING corpus pay the distinct-frame
   * sort before erroring (the error fires at row maxDistinct+1 of the
   * window, after the sort); when the input is adversarial rather than
   * merely mistaken, set `strictGate=true` to pay one cheap parallel
   * count() up front and refuse before any single-task work begins.
   */
  def fractionalRank(df: DataFrame, valueCol: String,
                     outCol: String, maxDistinct: Long = 2000000L,
                     strictGate: Boolean = false): DataFrame = {
    require(maxDistinct > 0, "fractionalRank needs a positive maxDistinct")
    val dv = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("_n"))
    if (strictGate) {
      // opt-in pre-gate: an extra corpus scan (measured ~2x query cpu in
      // the r12 bench), bought deliberately to refuse BEFORE the
      // violating distinct frame's single-task window sort
      val n = dv.count()
      require(n <= maxDistinct,
        s"fractionalRank: $n distinct values of '$valueCol' > " +
          s"maxDistinct=$maxDistinct — round/quantize the column first, " +
          "or raise the ceiling deliberately")
    }
    val wc = Window.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the window runs over DISTINCT-value rows only — bounded state; the
    // "no partition" plan here is |distinct values| rows, not the corpus.
    // The maxDistinct ceiling is enforced IN-PLAN (the gini raise_error
    // discipline): row_number rides the SAME single window the
    // cumulative sum already pays for, and a violating corpus fails on
    // the executors BEFORE the rank table could reach the driver as a
    // corpus-sized broadcast. Earlier gate designs cost real cpu — an
    // approx-distinct pre-pass read 3x query cpu, an exact count() over
    // a persisted dv ~2x (both measured by the r12 bench gate); this
    // form adds zero actions, zero persists, zero extra scans.
    // The gate ANCHORS to the JOIN KEY, not the rank column: Catalyst
    // column pruning may legally drop the outCol projection when a
    // caller joins the result but never consumes the rank, and a gate
    // riding only outCol would silently vanish while the oversized
    // broadcast it guards against still executes. The join key cannot
    // be pruned — the join needs it — so the refusal survives every
    // downstream projection.
    val gateMsg = lit(
      s"fractionalRank: more than maxDistinct=$maxDistinct distinct " +
        s"values of '$valueCol' — the distinct-value window would run " +
        "in one task and the rank table would broadcast at corpus " +
        "size. Round/quantize the column first, or raise the ceiling " +
        "deliberately.")
    val ranked = dv
      .withColumn("_c", coalesce(sum(col("_n")).over(wc), lit(0L)))
      .withColumn("_rn", row_number().over(Window.orderBy(col(valueCol))))
      .select(
        when(col("_rn") > maxDistinct, raise_error(gateMsg))
          .otherwise(col(valueCol)).as(valueCol),
        (col("_c") + (col("_n") + 1) / lit(2.0)).as(outCol))
    // explicit broadcast: the rank table is distinct-value-sized by the
    // operator's contract, but the planner can't see that through the
    // window + aggregate (no stats) — at the sf1 tier it fell back to a
    // sort-merge join that re-shuffled the whole corpus BY VALUE per
    // ranked column (measured: 4 kB → 50 MB, the only real superlinear
    // slope in the r11d wave)
    df.join(broadcast(ranked), Seq(valueCol), "left")
  }

  /**
   * Spearman rank-correlation matrix over numeric columns — the
   * monotonic-association screen that survives outliers and nonlinear
   * scales where Pearson lies (a single 10⁹ outlier pins Pearson to ~1;
   * ranks cap its leverage at n). Defined over COMPLETE rows (listwise:
   * a row with any null drops — the pairwise-complete variant would
   * rank each pair against a different subset and the matrix stops
   * being a correlation matrix), then Spearman ρ = Pearson over
   * tie-averaged ranks, all pairs in ONE aggregation pass via the
   * corrMatrix machinery. Rank assignment per column is the
   * [[fractionalRank]] distinct-value join — |cols| bounded-state
   * windows + equi-joins, never a global row funnel (and it inherits
   * fractionalRank's enforced `maxDistinct` cardinality gate).
   */
  def spearmanMatrix(df: DataFrame, cols: Seq[String],
                     maxDistinct: Long = 2000000L): DataFrame = {
    require(cols.size >= 2, "spearmanMatrix needs at least two columns")
    val complete = df.select(cols.map(col): _*)
      .na.drop("any", cols)
    val ranked = cols.foldLeft(complete) { (acc, c) =>
      fractionalRank(acc, c, s"__rk_$c", maxDistinct)
    }
    corrMatrix(ranked, cols.map(c => s"__rk_$c"))
      .select(
        expr(s"substring(col_x, ${"__rk_".length + 1})").as("col_x"),
        expr(s"substring(col_y, ${"__rk_".length + 1})").as("col_y"),
        col("r").as("rho"))
  }

  /**
   * Categorical-association screen between two columns: mutual
   * information, chi-square, and Cramér's V in one pass — the "is this
   * metadata column informative about that one" question asked before a
   * stratification or leakage decision (MI in nats answers "how much";
   * V ∈ [0,1] answers "how strongly, normalized for table size" —
   * comparable ACROSS column pairs where raw χ² is not). Contingency
   * counts via one partial-agg'd groupBy; marginals and N are
   * margin-sized rollups broadcast back; zero-observed cells contribute
   * their expected mass to χ² (margins cross-join) but nothing to MI
   * (0·ln 0 = 0 by continuity). V's denominator min(r,c)−1 guards to
   * null when either column is constant (association undefined, not 0).
   */
  def association(df: DataFrame, colA: String, colB: String): DataFrame = {
    val obs = df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val margA = obs.groupBy("a").agg(sum("n_ab").as("n_a"))
    val margB = obs.groupBy("b").agg(sum("n_ab").as("n_b"))
    val total = obs.agg(sum("n_ab").cast("double").as("n"))
    val cells = margA.crossJoin(broadcast(margB))
      .join(obs, Seq("a", "b"), "left")
      .crossJoin(broadcast(total))
      .withColumn("exp_", col("n_a").cast("double") * col("n_b") / col("n"))
      .withColumn("o", coalesce(col("n_ab").cast("double"), lit(0.0)))
    cells.agg(
      max(col("n")).cast("long").as("n_total"),
      sum(when(col("o") > 0,
        (col("o") / col("n")) *
          log(col("o") * col("n") / (col("n_a") * col("n_b"))))
        .otherwise(0.0)).as("mi"),
      sum((col("o") - col("exp_")) * (col("o") - col("exp_")) / col("exp_"))
        .as("chi2"),
      countDistinct("a").as("_ra"), countDistinct("b").as("_rb"))
      .withColumn("cramers_v",
        when(least(col("_ra"), col("_rb")) <= 1, lit(null))
          .otherwise(sqrt(col("chi2") /
            (col("n_total") * (least(col("_ra"), col("_rb")) - 1)))))
      .drop("_ra", "_rb")
  }

  /**
   * Per-group Gini coefficient — the inequality number for "is this
   * corpus/traffic dominated by a few heavy entities" (0 = perfectly
   * even, →1 = one entity holds everything); the concentration screen a
   * mixture design runs on per-source token mass before trusting a
   * uniform-ish sampling assumption. Rank-based identity over the
   * ASCENDING sort: G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) — one window
   * rank per group (partitioned: the shuffle is balanced by the group
   * key) + one partial-agg'd rollup. Permuting equal values cannot
   * change Σ i·xᵢ (the x's are equal), so ties need no special
   * handling and the number is engine-exact given a deterministic
   * tie-break on the rank. Values must be non-negative (G is undefined
   * below 0): nulls drop, and a negative value fails loudly — enforced
   * IN-PLAN via a raise_error branch on the group min (rides the
   * existing rollup, no extra scan or driver action); zero-sum groups
   * emit null.
   */
  def gini(df: DataFrame, groupCols: Seq[String], valueCol: String,
           tieBreak: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "gini needs group keys (lit-tag one)")
    val gks = groupCols.map(col)
    val w = Window.partitionBy(gks: _*)
      .orderBy(col(valueCol) +: tieBreak.map(col): _*)
    df.filter(col(valueCol).isNotNull)
      .withColumn("_i", row_number().over(w))
      .groupBy(gks: _*)
      .agg(count(lit(1)).as("n"),
        min(col(valueCol).cast("double")).as("_minx"),
        sum(col(valueCol).cast("double")).as("_sx"),
        sum(col("_i") * col(valueCol).cast("double")).as("_six"))
      .withColumn("gini",
        when(col("_minx") < 0.0, raise_error(concat(
          lit(s"gini: negative '$valueCol' value (group min "),
          col("_minx"), lit(") — G is undefined below 0; filter or shift first"))))
          .when(col("_sx") <= 0.0, lit(null))
          .otherwise((lit(2.0) * col("_six") - (col("n") + 1) * col("_sx")) /
            (col("n") * col("_sx"))))
      .drop("_minx", "_sx", "_six")
  }

  /**
   * Discrete power-law exponent by maximum likelihood (Clauset–Shalizi–
   * Newman '09, eq. 3.7 approximation): α̂ = 1 + n / Σ ln(xᵢ/(xmin−½))
   * over the tail x ≥ xmin — the one-number answer to "how heavy-tailed
   * is this degree/frequency distribution", which decides skew strategy
   * (salting, caps) before a join is written. One filtered scan with a
   * partial-agg'd 1-row rollup; the standard error α̂−1/√n rides along.
   * Fails loudly when the tail is empty or xmin < 1 (the discrete
   * approximation needs xmin ≥ 1).
   */
  def powerlawAlpha(df: DataFrame, valueCol: String, xmin: Long): DataFrame = {
    require(xmin >= 1, s"powerlawAlpha needs xmin >= 1, got $xmin")
    val tail = df.filter(col(valueCol) >= xmin)
    tail.agg(count(lit(1)).as("n"),
        sum(log(col(valueCol).cast("double") / (xmin - 0.5))).as("_sl"))
      .select(col("n"), lit(xmin).as("xmin"),
        when(col("n") === 0 || col("_sl") <= 0.0, lit(null))
          .otherwise(lit(1.0) + col("n") / col("_sl")).as("alpha"),
        when(col("n") === 0 || col("_sl") <= 0.0, lit(null))
          .otherwise((col("n") / col("_sl")) / sqrt(col("n")))
          .as("alpha_se"))
  }

  /**
   * LOCAL clustering coefficient per node — row 149's triangle count
   * resolved to each vertex: c(v) = triangles through v / C(deg v, 2),
   * the "how clique-like is this node's neighborhood" number (near-dup
   * link graphs: high c(v) = a coherent duplicate cluster, low c(v) at
   * high degree = a hub/template false-positive magnet worth auditing).
   * Same degree-ordered wedge plan as [[triangles]] — orientation
   * bounds wedge candidates at O(m^1.5) total regardless of hubs — but
   * the closing join keeps the triangle rows and EXPLODES each into its
   * three member nodes for one partial-agg'd per-node count (3 rows per
   * triangle, never a neighborhood materialization). Nodes with degree
   * < 2 emit null coefficient (undefined, not 0 — a degree-1 node has
   * no possible wedge).
   */
  def clusteringCoefficient(edges: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val und = undirected(edges, aCol, bCol)
    val deg = und.select(col("u").as("n")).union(und.select(col("v")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = graft.CacheScope.persist(withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddeg")))
    val e1 = oriented.select(col("src").as("c"), col("dst").as("x"),
      col("ddeg").as("dx"))
    val e2 = oriented.select(col("src").as("c"), col("dst").as("y"),
      col("ddeg").as("dy"))
    val wedges = e1.join(e2.hint("shuffle_hash"), Seq("c"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("c"), col("x").as("src"), col("y").as("dst"))
    val tris = wedges.join(oriented.select("src", "dst").hint("shuffle_hash"),
      Seq("src", "dst"), "left_semi")
    val perNode = tris
      .select(explode(array(col("c"), col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.select(col("n").as("node"), col("d").as("degree"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") < 2, lit(null))
          .otherwise(coalesce(col("n_tri"), lit(0L)).cast("double") * 2.0 /
            (col("degree") * (col("degree") - 1))).as("coef"))
  }

  /**
   * Minimum spanning FOREST by distributed Borůvka — the graph-sparsifier
   * behind single-link clustering and network-cost backbones (e.g. the
   * similarity graph a dedup family emits: the MST is exactly the
   * single-linkage dendrogram's edge set, so cutting it at a threshold
   * IS hierarchical clustering at scale). Borůvka and not Kruskal/Prim
   * because it is the one MST algorithm with no sequential spine: every
   * round EACH component picks its cheapest incident cross edge in one
   * partial-agg'd groupBy, the picked edges merge components via the
   * shared min-label machinery ([[graft.operators.Dedup.clusterPairs]]
   * — one CC implementation, three families), and the component count
   * at least HALVES, so the loop is O(log V) rounds of edge-linear work.
   *
   * Ties: edges order lexicographically by (w, u, v) — the classic
   * perturbation argument, equivalent to distinct weights, which keeps
   * the greedy cycle-free and the output deterministic in any engine.
   * Parallel edges collapse to their minimum weight up front; self-loops
   * and nulls drop. Disconnected input yields the spanning forest (one
   * tree per component). `maxIter` is a loud runaway bound — components
   * halve per round, so 30 covers a billion components; hitting it
   * throws instead of silently returning a partial forest.
   */
  def minimumSpanningForest(edges: DataFrame, aCol: String, bCol: String,
                            wCol: String, maxIter: Int = 30,
                            checkpointDir: Option[String] = None): DataFrame = {
    // normalize: undirected, self-loop-free, parallel edges → min weight
    // (deterministic under the same (w,u,v) order the rounds use)
    val und = graft.Fixpoint.input(edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"),
        col(wCol).cast("double").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("w").isNotNull && col("u") =!= col("v"))
      .groupBy("u", "v").agg(min("w").as("w")), checkpointDir)
    val labels0 = graft.CacheScope.persist(
      und.select(col("u").as("node")).union(und.select(col("v")))
        .distinct().withColumn("comp", col("node")))
    // the edges whose endpoints sit in different components; the loop is
    // done when none is left
    def crossing(labels: DataFrame): DataFrame = graft.CacheScope.persist(
      und.join(labels.select(col("node").as("u"), col("comp").as("cu")), "u")
        .join(labels.select(col("node").as("v"), col("comp").as("cv")), "v")
        .filter(col("cu") =!= col("cv")))
    // state: (labels, picked edges, crossing edges); the accumulator
    // starts as a schema-inheriting empty frame (node ids keep their type)
    val (_, picked, _) = graft.Fixpoint.iterate("minimumSpanningForest",
        (labels0, und.filter(lit(false)), crossing(labels0)), checkpointDir)(
        graft.Fixpoint.Converge(maxIter, _._3.isEmpty)) {
      case ((labels, picked, cross), _, cut) =>
        val cu = labels.select(col("node").as("u"), col("comp").as("cu"))
        val cv = labels.select(col("node").as("v"), col("comp").as("cv"))
        // each component's lexicographic-min incident cross edge; min of
        // a struct orders by (w, u, v) — the tie perturbation
        val e = struct(col("w"), col("u"), col("v"))
        val minE = cross
          .select(col("cu").as("comp"), e.as("e"))
          .union(cross.select(col("cv").as("comp"), e.as("e")))
          .groupBy("comp").agg(min("e").as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
          .distinct() // both endpoints' components may pick the same edge
        val pickedRound = graft.CacheScope.persist(minE)
        val pickedNext = cut(picked.union(pickedRound))
        // merge: CC over the picked edges' component pairs (a forest on
        // the component graph — tiny), then relabel every node
        val compPairs = pickedRound
          .join(cu, "u").join(cv, "v").select("cu", "cv")
        val merged = graft.operators.Dedup.clusterPairs(
          compPairs, "cu", "cv", checkpointDir = checkpointDir)
          .select(col("id").as("comp"), col("cluster_id"))
        val labelsNext = cut(
          labels.join(merged, Seq("comp"), "left")
            .select(col("node"),
              coalesce(col("cluster_id"), col("comp")).as("comp")))
        (labelsNext, pickedNext, crossing(labelsNext))
    }
    picked
  }

  /**
   * Single-linkage clustering CUT of a minimum spanning forest — the
   * operator [[minimumSpanningForest]]'s scaladoc promises: the MST is
   * the single-linkage dendrogram's edge set (classic equivalence:
   * single-link clusters at distance t are exactly the connected
   * components of the t-thresholded graph, and thresholding the MST
   * yields the same components — every dropped non-MST edge ≤ t closes
   * a cycle whose MST path is already ≤ t edge-wise), so cutting the
   * forest at `threshold` IS hierarchical clustering at scale: O(V)
   * forest edges instead of the O(V²) similarity matrix a driver-side
   * dendrogram would need.
   *
   * Emits one row per FOREST node: (node, cluster, merge_dist) where
   * cluster is the component-min node id over kept (w ≤ threshold)
   * edges — the shared [[graft.operators.Dedup.clusterPairs]] CC, one
   * implementation, four families — and merge_dist is the largest kept
   * edge in the node's cluster (the dendrogram height at which the
   * cluster finished forming; NULL for singletons, which never merged).
   * Pass the SAME forest with a ladder of thresholds to read the full
   * dendrogram: the forest is computed once, each cut is one CC pass.
   */
  def singleLinkCut(msf: DataFrame, uCol: String, vCol: String,
                    wCol: String, threshold: Double,
                    checkpointDir: Option[String] = None): DataFrame = {
    val e = graft.CacheScope.persist(msf
      .select(col(uCol).as("u"), col(vCol).as("v"),
        col(wCol).cast("double").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("w").isNotNull))
    val nodes = e.select(col("u").as("node")).union(e.select(col("v")))
      .distinct()
    val kept = graft.CacheScope.persist(e.filter(col("w") <= threshold))
    val cc = graft.operators.Dedup.clusterPairs(kept, "u", "v",
      checkpointDir = checkpointDir)
    // merge height per cluster: a kept edge's endpoints share its
    // cluster by construction, so tagging by u suffices
    val height = kept
      .join(cc.select(col("id").as("u"), col("cluster_id")), "u")
      .groupBy("cluster_id").agg(max("w").as("merge_dist"))
    nodes
      .join(cc.select(col("id").as("node"), col("cluster_id")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("cluster_id"), col("node")).as("cluster"))
      .join(height.withColumnRenamed("cluster_id", "cluster"),
        Seq("cluster"), "left")
      .select(col("node"), col("cluster"), col("merge_dist"))
  }

  /**
   * Whole-LADDER single-link cut — every threshold in ONE connected-
   * components pass. Calling [[singleLinkCut]] per rung is correct but
   * pays rungs × O(CC rounds) of per-round JOB LATENCY (the "nested
   * iterative operators pay rounds × rounds × latency" rule from
   * SCALE.md — 7.9 s wall on a 97-node fixture, all scheduling): the
   * cut's data volume is forest-sized, so the fix is to BATCH, not to
   * trim rounds. Each rung r gets its own composite node space
   * `r·nodeSpan + node`; a forest edge is replicated into every rung
   * whose threshold admits it (edges × rungs rows — still forest-sized,
   * rungs is a ladder constant); one [[graft.operators.Dedup
   * .clusterPairs]] labels ALL rungs together, and per-rung results
   * decode as `composite − r·nodeSpan`. Component-min over composites
   * within a rung = rung offset + component-min node, so decoded labels
   * are IDENTICAL to the per-rung cut's. Node ids must be integral,
   * non-negative and < nodeSpan — gated in-plan (raise_error on the
   * replicated edge/node frames, which are forest-sized, so the check
   * is free relative to the CC it protects).
   *
   * Emits one row per (threshold, FOREST node): (threshold, node,
   * cluster, merge_dist) — [[singleLinkCut]]'s contract with the rung
   * tag prepended; clusters merge monotonically as the ladder rises.
   */
  def singleLinkCutLadder(msf: DataFrame, uCol: String, vCol: String,
                          wCol: String, thresholds: Seq[Double],
                          nodeSpan: Long = 1L << 40,
                          checkpointDir: Option[String] = None): DataFrame = {
    require(thresholds.nonEmpty, "singleLinkCutLadder needs thresholds")
    require(thresholds.size.toLong <= Long.MaxValue / nodeSpan,
      "rung count * nodeSpan must fit in BIGINT")
    val spark = msf.sparkSession
    import spark.implicits._
    val e = graft.CacheScope.persist(msf
      .select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"),
        col(wCol).cast("double").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("w").isNotNull))
    val rungs = broadcast(thresholds.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("_rung", "threshold"))
    def guard(c: Column): Column =
      when(c < 0L || c >= nodeSpan, raise_error(concat(
        lit(s"singleLinkCutLadder: node id "), c.cast("string"),
        lit(s" outside [0, $nodeSpan) — raise nodeSpan"))))
        .otherwise(c)
    def composite(c: Column): Column = col("_rung") * nodeSpan + guard(c)
    val keptAll = graft.CacheScope.persist(
      e.crossJoin(rungs).filter(col("w") <= col("threshold"))
        .select(composite(col("u")).as("cu"), composite(col("v")).as("cv"),
          col("w")))
    val cc = graft.operators.Dedup.clusterPairs(keptAll, "cu", "cv",
      checkpointDir = checkpointDir)
    val height = keptAll
      .join(cc.select(col("id").as("cu"), col("cluster_id")), "cu")
      .groupBy("cluster_id").agg(max("w").as("merge_dist"))
    val nodes = e.select(col("u").as("node")).union(e.select(col("v")))
      .distinct()
    nodes.crossJoin(rungs)
      .select(col("_rung"), col("threshold"), col("node"),
        composite(col("node")).as("cn"))
      .join(cc.select(col("id").as("cn"), col("cluster_id")),
        Seq("cn"), "left")
      .select(col("threshold"), col("node"),
        (coalesce(col("cluster_id"), col("cn")) - col("_rung") * nodeSpan)
          .as("cluster"),
        coalesce(col("cluster_id"), col("cn")).as("_ck"))
      .join(height.withColumnRenamed("cluster_id", "_ck"), Seq("_ck"), "left")
      .select(col("threshold"), col("node"), col("cluster"),
        col("merge_dist"))
  }

  /**
   * Theil–Sen robust slope per group — the median of all pairwise
   * slopes (y_j−y_i)/(x_j−x_i), the trend estimator with a 29.3%
   * breakdown point where [[linearFit]]'s OLS slope is dragged
   * arbitrarily far by ONE bad row (exactly the rows a drift screen
   * exists to survive). Pairs come from a group-keyed self-join —
   * deliberately QUADRATIC in the group size, which is why the group
   * contract is ENFORCED IN-PLAN (the fractionalRank raise_error
   * discipline): a count-over-group window rides the self-join's own
   * shuffle-by-group (same exchange, same sort order — zero extra
   * passes) and refuses past `maxGroup` on the executors BEFORE the
   * Σn² pair product is enumerated (this estimator is for per-entity /
   * per-day series of bounded length; for corpus-scale trends use
   * linearFit). Equal-x pairs contribute no slope (vertical); the
   * median is the average of the two middle order statistics on even
   * counts — engine-exact. Groups with no valid pair surface null.
   */
  /**
   * In-plan group-size ceiling shared by the pairwise-quadratic
   * estimators ([[theilSen]], [[mannKendall]]) — the fractionalRank
   * raise_error discipline applied to group cardinality: a
   * count-over-group window wraps `wrapCol` with a refusal past
   * `maxGroup`. The window shuffles and sorts by the SAME keys the
   * downstream group-keyed self-join needs, so the exchange is reused
   * (zero extra actions, scans, or persists — the count()-based gate
   * this replaces paid a full extra aggregation action per call); the
   * wrapped column feeds the join, so no projection can prune the gate;
   * and the error fires on the executors before the quadratic pair
   * product of the violating group is enumerated.
   */
  private def gateGroupSize(pts: DataFrame, gks: Seq[Column], maxGroup: Int,
                            opName: String, wrapCol: String): DataFrame = {
    val wg = Window.partitionBy(gks: _*)
    pts.withColumn("_gn", count(lit(1)).over(wg))
      .withColumn(wrapCol,
        when(col("_gn") > maxGroup, raise_error(concat(
          lit(s"$opName: a group holds "), col("_gn").cast("string"),
          lit(s" rows > maxGroup=$maxGroup — the pairwise self-join " +
            "would be quadratic in it; pre-aggregate the series or " +
            "raise the ceiling deliberately"))))
          .otherwise(col(wrapCol)))
      .drop("_gn")
  }

  def theilSen(df: DataFrame, groupCols: Seq[String], xCol: String,
               yCol: String, maxGroup: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "theilSen needs group keys (lit-tag one)")
    require(maxGroup > 1, s"maxGroup must be > 1, got $maxGroup")
    val gks = groupCols.map(col)
    val pts = df.select(gks ++ Seq(col(xCol).cast("double").as("_x"),
      col(yCol).cast("double").as("_y")): _*)
      .filter(col("_x").isNotNull && col("_y").isNotNull)
    // in-plan maxGroup gate: the count window shuffles/sorts by the same
    // group keys the self-join needs, so the exchange is REUSED — a
    // violating group errors on the executors before its quadratic pair
    // product exists; the healthy path pays no extra action or scan
    val a = gateGroupSize(pts, gks, maxGroup, "theilSen", "_x").alias("a")
    val b = pts.select(gks ++ Seq(col("_x").as("_x2"),
      col("_y").as("_y2")): _*).alias("b")
    val slopes = a.join(b, groupCols).filter(col("_x") < col("_x2"))
      .select(gks :+ ((col("_y2") - col("_y")) /
        (col("_x2") - col("_x"))).as("_s"): _*)
    val w = Window.partitionBy(gks: _*).orderBy(col("_s"))
    val wAll = Window.partitionBy(gks: _*)
    slopes
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .groupBy(gks: _*)
      .agg(max(col("_n")).as("n_pairs"),
        // Spark `/` is floating division — floor to the two middle order
        // statistics (odd n selects the same row twice, avg is exact)
        avg(when(col("_rn") === floor((col("_n") + 1) / 2.0) ||
          col("_rn") === floor(col("_n") / 2.0) + 1, col("_s"))).as("slope"))
  }

  /**
   * Single-source shortest paths by synchronous Bellman–Ford — the
   * reachability-with-cost primitive (hop-weighted influence radius,
   * cheapest multi-leg route, "how far is every record from the seed
   * set" on an ER/similarity graph). Per round ONE relax join (current
   * distances against the once-repartitioned symmetric edge table) +
   * one partial-agg'd min groupBy; distances only decrease and the
   * frontier only grows, so convergence = "no node appeared or
   * improved this round" — checked EXACTLY with one changed-row
   * anti-test per round (a float Σdist signal is unsound here: a relax
   * smaller than the sum's ulp would be absorbed and exit with
   * non-optimal distances, and ulp jitter could block convergence —
   * the same reason clusterPairs refuses float sums); rounds needed =
   * the shortest-path DIAMETER in hops, with `maxIter` the loud
   * runaway bound. Multiple sources are one run
   * (distance to the NEAREST source — the multi-seed form a
   * decontamination or influence screen wants). Negative weights are
   * refused (Bellman–Ford tolerates them but a distributed run cannot
   * detect negative cycles cheaply; every use case here is a metric).
   * Unreachable nodes are absent from the output — visible by omission
   * against the node set, never a fake infinity.
   */
  def shortestPaths(edges: DataFrame, aCol: String, bCol: String,
                    wCol: String, sources: Seq[Long],
                    maxIter: Int = 50,
                    checkpointDir: Option[String] = None): DataFrame = {
    require(sources.nonEmpty, "shortestPaths needs at least one source")
    val und = graft.Fixpoint.input(edges
      .select(col(aCol).as("src"), col(bCol).as("dst"),
        col(wCol).cast("double").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("src") =!= col("dst")), checkpointDir)
    val negatives = und.filter(col("w") < 0).isEmpty
    require(negatives, "shortestPaths: negative edge weights refused")
    val sym = graft.CacheScope.persist(
      und.union(und.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .groupBy("src", "dst").agg(min("w").as("w"))
        .repartition(col("src")))
    val spark = edges.sparkSession
    import spark.implicits._
    // state: (distances, converged)
    graft.Fixpoint.iterate("shortestPaths",
        (sources.distinct.map(s => (s, 0.0)).toDF("node", "dist"), false),
        checkpointDir)(graft.Fixpoint.Converge(maxIter, _._2)) {
      case ((dist, _), _, cut) =>
        val relaxed = dist
          .join(sym, dist("node") === sym("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        val next = cut(
          dist.union(relaxed).groupBy("node").agg(min("dist").as("dist")))
        // exact fixpoint test: a changed row is a NEW node (left-anti on
        // the previous frontier) or a strictly smaller distance —
        // distances are compared as the doubles they are, never summed,
        // so a sub-ulp improvement can neither be absorbed nor invented
        val converged = next.alias("n")
          .join(dist.select(col("node"), col("dist").as("_pd")), Seq("node"), "left")
          .filter(col("_pd").isNull || col("dist") < col("_pd"))
          .isEmpty
        (next, converged)
    }._1
  }

  /**
   * Additive seasonal decomposition (STL-lite): y = trend + seasonal +
   * residual per group — the screen that separates "the metric is
   * drifting" from "it's Tuesday" before an anomaly rule fires (row
   * 246 z-scores against a season; this DECOMPOSES, so the residual
   * feeds ANY downstream rule and the trend is directly reportable).
   * Trend = centered moving average over one full period (the classic
   * MA-p; even periods use the half-weight endpoint convention),
   * seasonal = per-(group, phase) mean of the detrended series re-
   * centered to sum 0 per group, residual = the rest. Emits only rows
   * with a FULL trend window (edges are not estimable — a decomposition
   * that fabricates them lies to the anomaly rule downstream).
   *
   * One per-group window sort (both MA frames ride it) + one
   * partial-agg'd (group, phase) groupBy joined back + a group-mean
   * broadcast — the zscore/seasonal plan discipline; `tCol` must be a
   * gap-free integer bucket index per group (resample first — row 90 —
   * if the series has holes; with gaps the phase arithmetic silently
   * misaligns, so the contract is documented, not guessed around).
   */
  def seasonalDecompose(df: DataFrame, groupCols: Seq[String], tCol: String,
                        yCol: String, period: Int): DataFrame = {
    require(groupCols.nonEmpty, "seasonalDecompose needs group keys")
    require(period >= 2, s"period must be >= 2, got $period")
    val gks = groupCols.map(col)
    val w = Window.partitionBy(gks: _*).orderBy(col(tCol))
    val half = period / 2
    val y = col(yCol).cast("double")
    val f = w.rowsBetween(-half, half)
    // odd period: plain centered MA over p rows. Even period: the
    // classic 2×p MA — p+1 rows with the two endpoints half-weighted.
    val frameSize = if (period % 2 == 1) period else period + 1
    val trend =
      if (period % 2 == 1) avg(y).over(f)
      else (sum(y).over(f) -
        (first(y).over(f) + last(y).over(f)) / 2) / period
    val trended = df
      .withColumn("_trend", trend)
      .withColumn("_nw", count(y).over(f))
      .filter(col("_nw") === frameSize)
      .withColumn("_phase", pmod(col(tCol), lit(period)))
      .withColumn("_detr", y - col("_trend"))
    val sea = trended.groupBy(gks :+ col("_phase"): _*)
      .agg(avg(col("_detr")).as("_smean"))
    val seaCentered = sea
      .withColumn("_gmean",
        avg(col("_smean")).over(Window.partitionBy(gks: _*)))
      .select(gks ++ Seq(col("_phase"),
        (col("_smean") - col("_gmean")).as("_seasonal")): _*)
    trended.join(seaCentered, groupCols :+ "_phase")
      .select(gks ++ Seq(col(tCol), y.as("y"), col("_trend").as("trend"),
        col("_seasonal").as("seasonal"),
        (y - col("_trend") - col("_seasonal")).as("residual")): _*)
  }

  /**
   * CUPED variance reduction (Deng et al. WSDM'13) — the experimentation
   * -platform adjustment that makes A/B metrics converge weeks sooner:
   * each unit's metric is debiased by its OWN pre-period behavior,
   * y′ = y − θ(x − x̄), θ = cov(x, y)/var(x) POOLED across variants
   * (computing θ per variant would re-introduce the treatment effect
   * into the adjustment and bias the lift). Unbiased because E[x] is
   * independent of assignment; variance drops by the squared x–y
   * correlation. One pass of explicit pooled sums (the zscore
   * discipline — engine-identical doubles) broadcast back, adjustment
   * map-side, then a per-variant rollup with raw and adjusted means and
   * the measured per-variant variance of both (the reduction is the
   * point — report it, don't assert it). Zero pooled var(x) (constant
   * covariate) surfaces θ = 0: the adjustment degrades to a no-op,
   * never a blowup.
   */
  def cuped(df: DataFrame, variantCol: String, metricCol: String,
            covariateCol: String): DataFrame = {
    val y = col(metricCol).cast("double")
    val x = col(covariateCol).cast("double")
    val base = df.filter(y.isNotNull && x.isNotNull)
    val pooled = base.agg(
      count(lit(1)).cast("double").as("_n"),
      sum(x).as("_sx"), sum(x * x).as("_sxx"),
      sum(y).as("_sy"), sum(x * y).as("_sxy"))
    val varX = col("_sxx") - col("_sx") * col("_sx") / col("_n")
    val covXY = col("_sxy") - col("_sx") * col("_sy") / col("_n")
    val theta = pooled.select(
      when(col("_n") < 2 || varX <= 0, lit(0.0))
        .otherwise(covXY / varX).as("_theta"),
      (col("_sx") / col("_n")).as("_xbar"))
    base.crossJoin(broadcast(theta))
      .withColumn("_adj", y - col("_theta") * (x - col("_xbar")))
      .groupBy(col(variantCol))
      .agg(count(lit(1)).as("n"),
        max(col("_theta")).as("theta"),
        (sum(y) / count(lit(1))).as("mean_raw"),
        (sum(col("_adj")) / count(lit(1))).as("mean_cuped"),
        // singleton variants have no sample variance — null, not 0/0
        when(count(lit(1)) < 2, lit(null))
          .otherwise((sum(y * y) - sum(y) * sum(y) / count(lit(1))) /
            (count(lit(1)) - 1)).as("var_raw"),
        when(count(lit(1)) < 2, lit(null))
          .otherwise((sum(col("_adj") * col("_adj")) -
            sum(col("_adj")) * sum(col("_adj")) / count(lit(1))) /
            (count(lit(1)) - 1)).as("var_cuped"))
  }

  /**
   * Difference-in-differences — the quasi-experimental lift estimate
   * when assignment wasn't randomized (a rollout hit one segment/region
   * first): Δ = (treated.post − treated.pre) − (control.post −
   * control.pre), which cancels both the group's standing offset and
   * the period's common shock, leaving the treatment effect under the
   * parallel-trends assumption (state it in the report; the math can't
   * check it). One partial-agg'd pass over the 2×2 cells; any empty
   * cell nulls the estimate loudly rather than defaulting a mean to 0.
   */
  def diffInDiff(df: DataFrame, variantCol: String, treatedValue: String,
                 periodCol: String, postValue: String,
                 metricCol: String): DataFrame = {
    val y = col(metricCol).cast("double")
    val isT = col(variantCol) === treatedValue
    val isPost = col(periodCol) === postValue
    def cell(c: Column) = sum(when(c, y)) / count(when(c, y))
    def nOf(c: Column) = count(when(c, y))
    val m = df.filter(y.isNotNull).agg(
      cell(isT && isPost).as("t_post"), nOf(isT && isPost).as("n_t_post"),
      cell(isT && !isPost).as("t_pre"), nOf(isT && !isPost).as("n_t_pre"),
      cell(!isT && isPost).as("c_post"), nOf(!isT && isPost).as("n_c_post"),
      cell(!isT && !isPost).as("c_pre"), nOf(!isT && !isPost).as("n_c_pre"))
    m.withColumn("did",
      when(col("n_t_post") === 0 || col("n_t_pre") === 0 ||
        col("n_c_post") === 0 || col("n_c_pre") === 0, lit(null))
        .otherwise((col("t_post") - col("t_pre")) -
          (col("c_post") - col("c_pre"))))
  }

  /**
   * DETERMINISTIC random-walk corpus (DeepWalk / node2vec p=q=1 shape,
   * Perozzi '14) — the graph-to-sequence exporter feeding skip-gram
   * embedding training: `walksPerNode` walks of `walkLen` steps from
   * every node, each step moving to the neighbor that MINIMIZES
   * md5(seed:walk:step:neighbor) — the repo's engine-portable sampling
   * contract, so a rerun (or an external engine) regenerates the exact
   * corpus; "random" here means hash-uniform over the neighbor set,
   * which is what reproducible distributed sampling IS. Per step: one
   * join of the frontier against the once-repartitioned symmetric edge
   * table + one partial-agg'd min_by per walk — walkLen rounds, each
   * edge-linear, frontier rows lineage-cut. Emits (walk_id, step, node);
   * isolated nodes never start a walk (no edges), dead ends cannot
   * occur on symmetric edges.
   */
  def randomWalks(edges: DataFrame, aCol: String, bCol: String,
                  walksPerNode: Int = 2, walkLen: Int = 4,
                  seed: String = "w0",
                  checkpointDir: Option[String] = None): DataFrame = {
    require(walksPerNode >= 1 && walkLen >= 1,
      "randomWalks needs walksPerNode >= 1 and walkLen >= 1")
    val und = graft.Fixpoint.input(edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst")), checkpointDir)
    val sym = graft.CacheScope.persist(
      und.union(und.select(col("dst"), col("src"))).distinct()
        .repartition(col("src")))
    val starts = sym.select(col("src").as("cur")).distinct()
      .crossJoin(broadcast(
        edges.sparkSession.range(0, walksPerNode).select(col("id").as("_w"))))
      .select(concat_ws(":", col("cur"), col("_w")).as("walk_id"),
        col("cur"))
    // state: (frontier, walk rows so far)
    graft.Fixpoint.iterate("randomWalks",
        (graft.CacheScope.persist(starts),
          starts.select(col("walk_id"), lit(0).as("step"), col("cur").as("node"))),
        checkpointDir)(graft.Fixpoint.Fixed(walkLen)) {
      case ((frontier, out), s, cut) =>
        val next = cut(frontier
          .join(sym, col("cur") === col("src"))
          .groupBy("walk_id")
          .agg(min_by(col("dst"),
            md5(concat_ws(":", lit(seed), col("walk_id"), lit(s), col("dst"))))
            .as("cur")))
        (next, out.union(
          next.select(col("walk_id"), lit(s).as("step"), col("cur").as("node"))))
    }._2
  }

  /**
   * Multi-source breadth-first hop distance — the unweighted
   * reachability primitive ("how many hops from the seed set":
   * influence rings, contamination blast radius on an ER/similarity
   * graph, sampling-neighborhood cutoffs) and the first traversal whose
   * certification is a true cross-engine graph FIXPOINT: the external
   * oracle replays it as a depth-capped recursive CTE over (node,
   * depth) pairs with MIN(depth) at the end, not an unrolled analytic
   * formula. Frontier-style: per ring ONE equi-join of the NEW frontier
   * (never the full visited set) against the once-repartitioned edge
   * table plus one anti-join against visited — O(E) work per ring,
   * min(diameter, maxHops) rings, lineage-cut per ring (the 2^rounds
   * plan-string lesson from clusterPairs). BFS first-discovery depth IS
   * the min-hop distance, so no re-relaxation is ever needed — the
   * weighted variant that does need it is [[shortestPaths]]. Edges are
   * directed as given (pass a symmetrized table for undirected
   * semantics); nodes unreachable within `maxHops` are absent from the
   * output, visible by omission against the node set, never a fake
   * infinity.
   */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int,
              checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, "bfsHops needs maxHops >= 0")
    val e = graft.Fixpoint.input(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct(), checkpointDir, col("src"))
    // state: (visited, frontier); the per-ring emptiness probe is a
    // driver action over the (node-sized) frontier — bounded by maxHops,
    // never the corpus — and is each ring's one action
    val visited0 = graft.Fixpoint.input(
      seeds.select(col(seedCol).as("node")).distinct().withColumn("hops", lit(0)),
      checkpointDir)
    graft.Fixpoint.iterate("bfsHops", (visited0, visited0.select("node")),
        checkpointDir)(graft.Fixpoint.Cap(maxHops, _._2.isEmpty)) {
      case ((visited, frontier), h, cut) =>
        val next = cut(frontier.join(e, frontier("node") === e("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti"))
        (cut(visited.unionByName(next.withColumn("hops", lit(h)))), next)
    }._1
  }

  /**
   * Modularity of a GIVEN partition (Newman–Girvan Q, per-community
   * contributions) — the quality number for any community/cluster
   * assignment over a graph (LPA communities, near-dup components, a
   * blocking scheme): Q = Σ_c (e_c/m − (d_c/2m)²), where e_c counts
   * intra-community edges and d_c sums community degrees. Measures a
   * partition, does not compute one — the evaluation half the
   * LPA/clusterPairs family needs to say "this community structure is
   * real". The graph is canonicalized to simple undirected form
   * (self-loops dropped, both orientations collapsed); e_c, d_c, m are
   * EXACT integers — the only floats are the two final divisions, so
   * cross-engine parity survives any graph. Per-community rows (nodes,
   * intra-edges, degree mass, contribution); unassigned nodes are
   * refused loudly — a silent null community would quietly deflate Q.
   */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 membership: DataFrame, nodeCol: String,
                 commCol: String): DataFrame = {
    val e = undirected(edges, aCol, bCol)
    val memb = membership.select(col(nodeCol).as("node"),
      col(commCol).as("comm")).distinct()
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // the every-node-assigned contract is enforced IN-PLAN (the gini /
    // fractionalRank raise_error discipline): the refusal rides the
    // grouping key of the degree-mass aggregate the plan already pays
    // for — an unassigned node errors on the executors with zero extra
    // scans (the former submit-time require() ran a full graph
    // aggregation at plan-BUILD time and then recomputed deg from
    // scratch, scanning the graph twice)
    val tagged = deg.join(memb, Seq("node"), "left")
    val dTab = tagged.groupBy(
        when(col("comm").isNull, raise_error(concat(
          lit("modularity: graph node "), col("node").cast("string"),
          lit(" is missing from the membership frame — assign every " +
            "node (a silent null community would deflate Q)"))))
          .otherwise(col("comm")).as("comm"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_total"))
    val intra = e
      .join(memb.select(col("node").as("u"), col("comm").as("_cu")), Seq("u"))
      .join(memb.select(col("node").as("v"), col("comm").as("_cv")), Seq("v"))
      .filter(col("_cu") === col("_cv"))
      .groupBy(col("_cu").as("comm")).agg(count(lit(1)).as("e_intra"))
    val m = e.agg(count(lit(1)).as("_m"))
    dTab.join(intra, Seq("comm"), "left")
      .withColumn("e_intra", coalesce(col("e_intra"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("q_contrib",
        col("e_intra").cast("double") / col("_m")
          - (col("d_total").cast("double") / (col("_m") * 2))
            * (col("d_total").cast("double") / (col("_m") * 2)))
      .select(col("comm"), col("n_nodes"), col("e_intra"), col("d_total"),
        col("q_contrib"))
  }

  /**
   * Mann–Kendall trend test per group — the SIGNIFICANCE companion to
   * [[theilSen]]: the robust slope says how steep, S = Σ_{i<j}
   * sign(y_j − y_i) over time-ordered pairs says whether the monotone
   * trend is real (z against the tie-corrected null variance
   * [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, ±1 continuity correction).
   * Same pairwise frame and the same ENFORCED `maxGroup` ceiling as
   * theilSen — the self-join is quadratic in the largest group, so the
   * gate refuses loudly instead of planning it; S, n, and the tie sum
   * are exact integers end to end (sign sums, never float folds), the
   * variance is one integer-over-18 division, so cross-engine parity
   * holds to the z-score's last rounding. Pairs with equal x are
   * skipped and the variance uses the no-x-ties form — the
   * distinct-time-points convention of the standard test; aggregate
   * per time point first (the q_theilsen daily frame) to satisfy it.
   * A constant series (every y tied) has Var = 0 and yields a null z.
   */
  def mannKendall(df: DataFrame, groupCols: Seq[String], xCol: String,
                  yCol: String, maxGroup: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "mannKendall needs group keys (lit-tag one)")
    require(maxGroup > 1, s"maxGroup must be > 1, got $maxGroup")
    val gks = groupCols.map(col)
    val pts = df.select(gks ++ Seq(col(xCol).cast("double").as("_x"),
      col(yCol).cast("double").as("_y")): _*)
      .filter(col("_x").isNotNull && col("_y").isNotNull)
    // in-plan maxGroup gate riding the self-join's own shuffle-by-group
    // (see gateGroupSize) — same contract as theilSen, zero extra passes
    val a = gateGroupSize(pts, gks, maxGroup, "mannKendall", "_x").alias("a")
    val b = pts.select(gks ++ Seq(col("_x").as("_x2"),
      col("_y").as("_y2")): _*).alias("b")
    val sTab = a.join(b, groupCols).filter(col("_x") < col("_x2"))
      .groupBy(gks: _*)
      .agg(sum(when(col("_y2") > col("_y"), 1L)
        .when(col("_y2") < col("_y"), -1L).otherwise(0L)).as("s"))
    val nTab = pts.groupBy(gks: _*).agg(count(lit(1)).as("n"))
    val tieTab = pts.groupBy(gks :+ col("_y"): _*)
      .agg(count(lit(1)).as("_t"))
      .groupBy(gks: _*)
      .agg(sum(col("_t") * (col("_t") - 1) * (col("_t") * 2 + 5)).as("_ties"))
    val varS = (col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("_ties"))
      .cast("double") / 18.0
    nTab.join(sTab, groupCols).join(tieTab, groupCols)
      .withColumn("var_s", varS)
      .withColumn("z",
        when(col("var_s") <= 0.0, lit(null).cast("double"))
          .when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(0.0))
      .select(gks ++ Seq(col("n"), col("s"), col("var_s"), col("z")): _*)
  }

  /**
   * Expected calibration error (Naeini '15 binning form) — the single
   * number that says whether a classifier's probabilities MEAN
   * anything: bin predictions into fixed [0,1] probability bands,
   * ECE = Σ_b (n_b/N)·|accuracy_b − confidence_b|. The quality-gate
   * companion to [[calibrationBins]] (which reports the reliability
   * curve itself): a curation pipeline thresholding on p ≥ 0.8 is
   * implicitly trusting ECE ≈ 0 — this measures that trust. Fixed
   * probability bins (not score-range bins): ECE's contract is about
   * stated probabilities, so the binning must not adapt to the
   * observed score range. One groupBy over nBins rows, then a
   * broadcast total — profile cost at any corpus size.
   */
  def expectedCalibrationError(df: DataFrame, probCol: String,
                               labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "expectedCalibrationError needs nBins >= 1")
    val g = df
      .withColumn("_bin",
        least(floor(col(probCol) * nBins), lit(nBins - 1)).cast("int"))
      .groupBy("_bin")
      .agg(count(lit(1)).as("_n"), avg(col(probCol)).as("_conf"),
        avg(when(col(labelCol), 1.0).otherwise(0.0)).as("_acc"))
    val t = g.agg(sum("_n").as("_total"))
    g.crossJoin(broadcast(t))
      .agg(
        sum(col("_n").cast("double") / col("_total")
          * abs(col("_acc") - col("_conf"))).as("ece"),
        count(lit(1)).as("n_bins_used"),
        max(col("_total")).as("n"))
  }

  /**
   * Rank-biased overlap (Webber, Moffat & Zobel '10), truncated-prefix
   * form — rank-list AGREEMENT between two top-k retrievals, the eval
   * recall@k cannot give: recall treats a list as a set, so a
   * quantized index that returns the right 5 items in scrambled order
   * scores perfect recall while every position-sensitive consumer
   * (rerankers, MMR, position-weighted click models) sees a different
   * ranking. RBO@k = (1−p)·Σ_{d≤k} p^{d−1}·|A₁..d ∩ B₁..d|/d weights
   * shallow prefixes geometrically — the top-1 disagreement costs most.
   * Computed without materializing prefixes: a common item first enters
   * the intersection at depth m = max(rank_A, rank_B), so it
   * contributes w(m) = (1−p)·Σ_{d=m..k} p^{d−1}/d — a k-entry constant
   * lookup folded into the (query, item) equi-join; one partial-agg'd
   * groupBy per query. Queries with disjoint prefixes emit rbo = 0
   * explicitly (absence would read as "not evaluated").
   */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, queryCol: String,
                        itemCol: String, rankCol: String, k: Int,
                        p: Double = 0.9): DataFrame = {
    require(k >= 1 && p > 0.0 && p < 1.0,
      s"rankBiasedOverlap needs k >= 1 and 0 < p < 1, got k=$k p=$p")
    // left-to-right partial sums: the oracle writes the same chain, so
    // the doubles agree to the ulp before any rounding
    val w: Map[Int, Double] = (1 to k).map(m =>
      m -> (1 - p) * (m to k).map(d => math.pow(p, d - 1) / d).sum).toMap
    val ra = a.select(col(queryCol).as("_q"), col(itemCol).as("_i"),
      col(rankCol).as("_ra"))
    val rb = b.select(col(queryCol).as("_q"), col(itemCol).as("_i"),
      col(rankCol).as("_rb"))
    val depth = greatest(col("_ra"), col("_rb"))
    val wCol = (1 to k).foldLeft(lit(0.0)) { (acc, m) =>
      when(depth === m, lit(w(m))).otherwise(acc)
    }
    val perQuery = ra.join(rb, Seq("_q", "_i"))
      .select(col("_q"), wCol.as("_w"))
      .groupBy("_q")
      .agg(sum(col("_w")).as("_rbo"), count(lit(1)).as("_n"))
    ra.select(col("_q")).distinct()
      .join(perQuery, Seq("_q"), "left")
      .select(col("_q").as(queryCol),
        coalesce(col("_rbo"), lit(0.0)).as("rbo"),
        coalesce(col("_n"), lit(0L)).as("n_common"))
  }

  /**
   * Origin-tagged multi-landmark BFS — [[bfsHops]] generalized to keep
   * each seed's ring structure separate: state is (origin, node, hops),
   * so one run answers "how far is every node from EACH landmark", the
   * input to landmark-based centrality estimates (harmonic/closeness à
   * la Eppstein–Wang: k sampled landmarks stand in for all-pairs BFS,
   * which no 100 TB graph ever gets). Same frontier discipline — per
   * ring one equi-join of the new frontier against the
   * once-repartitioned edge table + one anti-join on (origin, node),
   * lineage-cut per ring; cost is O(k·E) per ring worst case, the
   * deliberate price of k independent ring systems in one plan.
   */
  def landmarkHops(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, originCol: String, nodeCol: String,
                   maxHops: Int,
                   checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, "landmarkHops needs maxHops >= 0")
    val e = graft.Fixpoint.input(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct(), checkpointDir, col("src"))
    // state: (visited, frontier) — the bfsHops loop
    val visited0 = graft.Fixpoint.input(
      seeds.select(col(originCol).as("origin"), col(nodeCol).as("node"))
        .distinct().withColumn("hops", lit(0)), checkpointDir)
    graft.Fixpoint.iterate("landmarkHops", (visited0, visited0.select("origin", "node")),
        checkpointDir)(graft.Fixpoint.Cap(maxHops, _._2.isEmpty)) {
      case ((visited, frontier), h, cut) =>
        val next = cut(frontier.join(e, frontier("node") === e("src"))
          .select(col("origin"), col("dst").as("node")).distinct()
          .join(visited.select("origin", "node"), Seq("origin", "node"), "left_anti"))
        (cut(visited.unionByName(next.withColumn("hops", lit(h)))), next)
    }._1
  }

  /**
   * Half-life-decayed aggregates per key — the feature-store summary
   * ("engagement at half-life H, as of T") whose point at lake scale is
   * MERGEABILITY: exponential decay composes, so a state computed as of
   * T1 folds into an as-of-T2 refresh with ONE multiply
   * (sum·2^(−(T2−T1)/H)) plus the delta events' own decayed sum — the
   * incremental refresh touches the delta partition only, never the
   * history (spec-locked: merge ≡ full recompute). Execution is one
   * partial-agg'd groupBy with the weight computed MAP-SIDE from the
   * event time — the shuffle carries (key, weighted partials), nothing
   * row-sized survives the exchange. `asOfSec` is an explicit instant,
   * never now(): deterministic and replayable by construction. Events
   * after `asOfSec` are excluded (a decayed feature must not see the
   * future it will be joined against — the same leakage rule as the
   * as-of join family).
   */
  def decayedAgg(df: DataFrame, keyCols: Seq[String], tsSecCol: String,
                 valueCol: String, asOfSec: Long,
                 halfLifeSec: Long): DataFrame = {
    require(halfLifeSec > 0, "decayedAgg needs a positive half-life")
    val w = pow(lit(0.5),
      (lit(asOfSec) - col(tsSecCol)).cast("double") / lit(halfLifeSec.toDouble))
    df.filter(col(tsSecCol).isNotNull && col(tsSecCol) <= asOfSec)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(w * col(valueCol)).as("decayed_sum"),
        sum(w).as("decayed_weight"),
        count(lit(1)).as("n"))
  }
}
