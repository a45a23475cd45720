package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-tier dataset builder: derives an sf×`factor` dataset from the
 * driver-generated sf0.1 tables by stacking `factor` SELF-CONSISTENT
 * replica shards. The point is the MEASURED SCALING SLOPE — run Verify
 * + Bench against the output and compare per-query cost to the sf0.1
 * artifact — so the construction is careful to scale the right axes:
 *
 * - Every identity key shifts by a replica stride (1e9, far above any
 *   source key), so key cardinality ×factor while per-key history
 *   (sessions, trajectories, order line counts) stays constant —
 *   the realistic growth mode for an event/corpus lake.
 * - Document text passes through a per-replica affine bijection of
 *   [a-z] (a Caesar shift for replicas < 26; whitespace untouched):
 *   a LENGTH-PRESERVING character bijection,
 *   so every intra-replica tf/df/shingle/Jaccard/edit-distance
 *   relation is preserved EXACTLY (n_chars included), while
 *   cross-replica token, shingle and substring overlap is
 *   structurally zero — duplicate GROUPS scale ×factor instead of
 *   group SIZES scaling ×factor (which would blow candidate- and
 *   true-pair counts up quadratically and measure a denser workload,
 *   not a bigger one).
 * - Embeddings transform by a per-replica signed rotation (cyclic
 *   dimension shift + deterministic sign flips — an ORTHOGONAL map):
 *   intra-replica cosines/norms are preserved to the bit, while
 *   cross-replica vectors decorrelate, for the same reason as text.
 *   Replica 0 is the identity on every axis.
 * - events.value shifts by +2·i: the derived lat/lon grids (value-based
 *   in the analytics queries) separate replicas by ≥2° (>200 km), so
 *   proximity joins (encounters) scale linearly instead of
 *   every-replica-meets-every-replica.
 * - region/nation are fixed dimension domains — copied, not replicated.
 *
 * Usage: runMain graft.ScaleData [srcDir] [outDir] [factor]
 */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("bench_data/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, "factor must be >= 1")
    val spark = Harness.driverSession()

    val S = 1000000000L // key stride per replica

    def stacked(name: String, nFiles: Int)(f: (DataFrame, Int) => DataFrame): Unit = {
      val t = Tables.table(spark, src, name)
      (0 until factor).map(i => f(t, i)).reduce(_ unionByName _)
        .repartition(nFiles)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name x$factor written")
    }
    def shift(c: String, i: Int) = col(c) + lit(i.toLong * S)
    // Shared text-decoration family (documents.text, customer.c_name):
    // per-replica AFFINE bijection of [a-z], x -> a*x + b (mod 26) with
    // `a` a unit mod 26. Replica i uses a = Units(i/26), b = i%26 — for
    // i < 26 this degenerates to the historical Caesar shift (a = 1),
    // so every tier with factor <= 26 is BIT-IDENTICAL to the r11
    // artifacts; beyond 26 the twelve units extend the family to 312
    // distinct bijections. Two distinct affine maps agree on at most
    // gcd(a1-a2, 26) = 2 characters (exactly 0 when a1 == a2, since
    // b1 != b2 shifts every letter): >= 24/26 alphabet positions differ
    // between ANY two replicas, which preserves the axis the Caesar
    // scheme established — cross-replica heads stay edit-distance-far,
    // shingles/tokens stay replica-disjoint, duplicate GROUPS scale with
    // the factor while group SIZES do not.
    val Units = Vector(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    require(factor <= 26 * Units.size, s"affine decoration supports <= " +
      s"${26 * Units.size} replicas, got $factor")
    val Alpha = "abcdefghijklmnopqrstuvwxyz"
    def permuted(i: Int): String = {
      val a = Units(i / 26); val b = i % 26
      (0 until 26).map(x => Alpha((a * x + b) % 26)).mkString
    }

    // fixed dimension domains: copy
    for (n <- Seq("region", "nation"))
      Tables.table(spark, src, n).write.mode("overwrite")
        .parquet(s"$out/$n.parquet")

    // c_name gets the same per-replica Caesar decoration as document
    // text: intra-replica name similarity — the entity-
    // resolution family's levenshtein structure and its name-prefix
    // blocking keys — is preserved exactly (digits/# untouched, [a-z]
    // bijected), while cross-replica names never share a block. Without
    // it, replicas carry IDENTICAL name sets and any fixed-cardinality
    // block key would densify quadratically instead of scaling out.
    stacked("customer", 4)((t, i) => t
      .withColumn("c_custkey", shift("c_custkey", i))
      .withColumn("c_name",
        if (i == 0) col("c_name")
        else translate(col("c_name"), Alpha, permuted(i))))
    stacked("supplier", 2)((t, i) => t.withColumn("s_suppkey", shift("s_suppkey", i)))
    stacked("part", 4)((t, i) => t.withColumn("p_partkey", shift("p_partkey", i)))
    stacked("orders", 8)((t, i) => t
      .withColumn("o_orderkey", shift("o_orderkey", i))
      .withColumn("o_custkey", shift("o_custkey", i)))
    stacked("lineitem", 16)((t, i) => t
      .withColumn("l_orderkey", shift("l_orderkey", i))
      .withColumn("l_partkey", shift("l_partkey", i))
      .withColumn("l_suppkey", shift("l_suppkey", i)))
    stacked("events", 16)((t, i) => t
      .withColumn("event_id", shift("event_id", i))
      .withColumn("user_id", shift("user_id", i))
      .withColumn("value", col("value") + lit(2.0 * i)))
    // Replica text decoration: per-replica AFFINE BIJECTION of [a-z]
    // (a Caesar shift for i < 26; whitespace untouched). A
    // LENGTH-PRESERVING character bijection,
    // so every intra-replica relation — token counts, lengths, tf/df,
    // shingles, Jaccard, n_chars, and crucially which 30-char heads
    // collide — is preserved BIT-IDENTICALLY per replica, while any
    // two replicas sit a nonzero relative shift apart: cross-replica
    // heads differ in every alphabetic character (edit distance ~
    // head length >> any near-dup bound). Two earlier schemes failed
    // the edit-distance family: "r<i>" suffixes left cross-replica
    // heads 1 edit apart PER TOKEN (q_editdist true pairs 260 at
    // sf0.1 -> 59,516 at sf1 — quadratic in the factor), and longer
    // suffixes inflated token lengths so 30-char heads held fewer
    // tokens and intra-replica pairs densified instead. Chance
    // cross-replica SINGLE-token coincidences (shift_i(vocab) meeting
    // shift_j(vocab)) merge a little df mass but cannot manufacture
    // near-dup pairs: every pair family needs many shared tokens /
    // consecutive n-grams / low Hamming, all of which stay
    // replica-disjoint by construction.
    stacked("documents", 16)((t, i) =>
      (if (i == 0) t
       else t.withColumn("text",
         translate(col("text"), Alpha, permuted(i))))
        .withColumn("doc_id", shift("doc_id", i)))
    stacked("embeddings", 8)((t, i) =>
      (if (i == 0) t
       else t.withColumn("embedding",
         transform(sequence(lit(0), size(col("embedding")) - 1), j => {
           val d = size(col("embedding"))
           val rot = element_at(col("embedding"), pmod(j + lit(i * 13), d) + 1)
           val sgn = when(pmod(lit(i) * (j * 2 + 7) + lit(i) * j * j, lit(3)) === 1,
             lit(-1.0f)).otherwise(lit(1.0f))
           (rot * sgn).cast("float")
         }).cast("array<float>")))
        .withColumn("vec_id", shift("vec_id", i)))

    println(s"[scale] done: $out (factor $factor from $src)")
    spark.stop()
  }
}
