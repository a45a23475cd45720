package graft.pipelines

import graft.operators.{Dedup, Sampling, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Document-corpus curation: the end-to-end training-data pipeline the
 * LLM-extension operators exist for — blocklist scrub → within-doc
 * repeated-span scrub → exact dedup → quality/language/entropy
 * annotation → near-dup cluster collapse keeping the BEST-quality
 * member → quality floor → PII scrub → leakage-safe split keyed on the
 * near-dup cluster.
 *
 * Stage order is cost order: the map-only scrubs and annotations run
 * before anything that shuffles; connected components runs on the
 * already-shrunk corpus's near-dup pairs, in one union-find task while
 * they fit under the broadcast threshold (the min-label loop only above
 * it, see [[Dedup.clusterPairs]]). The split
 * keys on the CLUSTER id, which both prevents near-copy train/eval
 * leakage and makes the assignment invariant to WHICH cluster member
 * survived (retuning the keep-score never reshuffles the split).
 */
object CurateDocuments {

  case class Config(
      idCol: String, textCol: String,
      shingleSize: Int = 3, jaccardThreshold: Double = 0.8,
      // 0 disables the within-doc repeated-span scrub
      spanWords: Int = 0,
      minQuality: Double = 0.3,
      minEntropy: Double = 0.0,
      valFraction: Double = 0.05, testFraction: Double = 0.05)

  /** Curated corpus: one best-quality doc per near-dup cluster,
   * quality-floored, PII-redacted, with leak-free split labels. Adds
   * `quality_score`, `lang_id`, `entropy`, `cluster_id`, `n_members`,
   * `redacted`, `split`. Pass `blocklist` (a frame of known-bad text)
   * to scrub opt-outs/eval sets first. */
  def run(docs: DataFrame, cfg: Config,
          blocklist: Option[DataFrame] = None): DataFrame = {
    // 0. known-bad removal (opt-outs, eval contamination)
    val cleared = blocklist.fold(docs)(b =>
      Dedup.blocklistAnti(docs, b, cfg.textCol, b.columns.head))
    // 0.5 within-doc repetition scrub (map-only) BEFORE any corpus-level
    //     pass: repeated boilerplate inside a doc otherwise inflates its
    //     shingle sets and its quality length terms
    val scrubbed = if (cfg.spanWords > 0)
      Text.scrubRepeatedSpans(cleared, cfg.textCol, cfg.spanWords)
    else cleared
    // 1. exact dedup on content
    val exact = Dedup.exact(scrubbed, Seq(cfg.textCol))
    // 2. map-only annotation FIRST: the near-dup collapse keeps the
    //    best-QUALITY member, so quality must exist before it.
    // entropy is LEFT-joined with a 0.0 default: a doc that tokenizes to
    // zero tokens has no entropy row, and an inner join would silently
    // drop it regardless of the configured floor — whether it survives
    // must be governed by minEntropy, not by the join shape
    val entropy = Text.tokenEntropy(exact, cfg.idCol, cfg.textCol)
      .withColumnRenamed("id", cfg.idCol)
    val annotated = Text.languageId(
      Text.qualityScore(exact, cfg.textCol), cfg.textCol)
      .join(entropy, Seq(cfg.idCol), "left")
      .withColumn("entropy", coalesce(col("entropy"), lit(0.0)))
    // 3. near-dup clusters → keep the highest-quality member (ties to
    //    the smallest id), carrying cluster_id + n_members through.
    //    clusterPairs materialises the pairs' cut now; on the one-task
    //    path each of the two readers below runs the union-find as one
    //    task over that cut's blocks, inside the caller's action
    val pairs = Dedup.minhashLsh(annotated, cfg.idCol, cfg.textCol,
      n = cfg.shingleSize, threshold = cfg.jaccardThreshold)
    val clusters = Dedup.clusterPairs(pairs, "id_a", "id_b")
    val kept = Dedup.canonicalDedup(annotated, cfg.idCol, pairs,
      "id_a", "id_b", scoreCol = "quality_score",
      precomputedClusters = Some(clusters))
    // 4. floors (composite score AND token entropy — near-constant
    //    boilerplate dies here even when long enough to pass the length
    //    terms), scrub, leak-free split on the cluster key
    val floored = kept.filter(col("quality_score") >= cfg.minQuality &&
      col("entropy") >= cfg.minEntropy)
    // leakFreeSplit re-attaches (and then drops) the cluster map itself;
    // stash the survivor's own cluster_id so the output keeps it
    Sampling.leakFreeSplit(
        Text.redactPii(floored, cfg.textCol)
          .withColumnRenamed("cluster_id", "_clid"),
        cfg.idCol, clusters, cfg.valFraction, cfg.testFraction)
      .withColumnRenamed("_clid", "cluster_id")
  }
}
