package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/**
 * Bridge into Spark 4's `private[sql]` internals — the Column↔Expression
 * conversions and the session's cached-plan machinery — the standard
 * pattern for third-party Catalyst extensions (same trick as
 * spark-sedona / frameless): a single object inside the
 * `org.apache.spark.sql` namespace, everything else stays in `graft.*`.
 */
object GraftBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /**
   * `df` behind an [[InMemoryRelation]] that the CacheManager never sees:
   * the same lazy `CachedRDDBuilder` a `Dataset.persist` installs (rows
   * are built into `level` blocks by the first action that reads them,
   * lineage kept for lost-block recompute), minus the plan-keyed
   * registration that would let an unrelated query with an equal plan
   * read these rows. The plan is prepared the way `CacheManager` prepares
   * a cached plan — bucketed-scan choice and, unless the session allows
   * it, AQE's final-stage shuffle rewrites off — so the relation's
   * declared output partitioning is the one its blocks really have.
   * Returns the frame and the action that drops its blocks.
   */
  def computeOnce(df: DataFrame, level: StorageLevel): (DataFrame, () => Unit) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val off = SQLConf.AUTO_BUCKETED_SCAN_ENABLED +: (
      if (session.sessionState.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
      else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    val planner = classic.SparkSession.getOrCloneSessionWithConfigsOff(session, off)
    val relation = InMemoryRelation(level,
      planner.sessionState.executePlan(ds.queryExecution.analyzed), None)
    (classic.Dataset.ofRows(session, relation),
      () => relation.cacheBuilder.clearCache(blocking = false))
  }

  /** `spark.sql.autoBroadcastJoinThreshold` of `df`'s session in bytes;
   * -1 turns broadcasting off. */
  def broadcastThreshold(df: DataFrame): Long =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
}
