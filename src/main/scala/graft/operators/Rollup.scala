package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Session/day rollups (reference: transformations/facts/fact_voyage_daily.py,
 * fact_monthly_summary.py, fact_voyage_summary.py).
 *
 * Plain groupBy aggregations: Spark plans partial (map-side) aggregation
 * before the shuffle, so at 100 TB each executor pre-combines its partition
 * and only (key, partial) pairs move.
 */
object Rollup {

  /** Per (keys..., day): first/last timestamp of the day
   * (reference: fact_voyage_daily.py:108 voyage_segments). A caller that
   * also needs [[dailyMetrics]] wants [[dailyFact]]: both in one aggregate. */
  def dailySegments(df: DataFrame, keys: Seq[String], tsSecCol: String,
                    dayCol: String): DataFrame =
    df.groupBy((keys :+ dayCol).map(col): _*)
      .agg(
        min(col(tsSecCol)).as("day_first_sec"),
        max(col(tsSecCol)).as("day_last_sec"))

  /** Per (keys..., day): additive metrics — point count plus sums of the
   * given value columns (reference: fact_voyage_daily.py:127
   * voyage_summary_staging). A caller that also needs [[dailySegments]]
   * wants [[dailyFact]]: both in one aggregate. */
  def dailyMetrics(df: DataFrame, keys: Seq[String], dayCol: String,
                   valueCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("day_pointcount") +:
      valueCols.map(c => sum(col(c)).as(s"day_sum_$c"))
    df.groupBy((keys :+ dayCol).map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per session (keys...): full-span summary — start/end, duration hours,
   * point count, total of `distanceCol`, average of `speedCol`
   * (reference: fact_monthly_summary.py:111-136, fact_voyage_summary.py). */
  def sessionSummary(df: DataFrame, keys: Seq[String], tsSecCol: String,
                     speedCol: String, distanceCol: Option[String] = None): DataFrame = {
    val base = Seq(
      min(col(tsSecCol)).as("start_sec"),
      max(col(tsSecCol)).as("end_sec"),
      count(lit(1)).as("n_points"),
      sum(col(speedCol)).as("sum_speed"))
    val aggs = base ++ distanceCol.map(c => sum(col(c)).as("total_distance_km"))
    df.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("duration_hours", (col("end_sec") - col("start_sec")) / 3600.0)
      .withColumn("avg_speed", col("sum_speed") / col("n_points"))
  }

  /**
   * Monthly rebuild: restrict the full daily-segment/metric tables to
   * sessions active in the given month, then aggregate the full span of
   * those sessions (reference: fact_monthly_summary.py:65-120 — month
   * partitions identify active voyages; the join pulls their entire
   * history). The `active` probe is small, so Spark broadcast-semi-joins it
   * against the big table — no shuffle of the fact side.
   */
  def monthlyRebuild(dailySeg: DataFrame, dailyMet: DataFrame,
                     keys: Seq[String], monthCol: String, month: String): DataFrame = {
    val active = dailySeg.filter(col(monthCol) === month)
      .select(keys.map(col): _*).distinct()
    val seg = dailySeg.join(active, keys)
      .groupBy(keys.map(col): _*)
      .agg(min("day_first_sec").as("start_sec"), max("day_last_sec").as("end_sec"))
    val met = dailyMet.join(active, keys)
      .groupBy(keys.map(col): _*)
      .agg(
        sum("day_pointcount").as("n_points"),
        sum("day_sum_value").as("sum_value"))
    seg.join(met, keys)
      .withColumn("duration_hours", (col("end_sec") - col("start_sec")) / 3600.0)
  }

  /**
   * Fused daily fact: segments (first/last ts) AND metrics (count/sums)
   * from ONE aggregation — [[dailySegments]] and [[dailyMetrics]] group
   * by the same keys, so computing them separately (as the reference's
   * two fact builders do) costs two shuffles plus a join for nothing.
   * Columns: keys..., day, day_first_sec, day_last_sec, day_pointcount,
   * day_sum_<v>... — the order of `dailySegments ⋈ dailyMetrics` on
   * (keys..., day). Unlike that inner join, a group whose key is null is
   * kept, so Σ day_pointcount is the input's row count.
   */
  def dailyFact(df: DataFrame, keys: Seq[String], tsSecCol: String,
                dayCol: String, valueCols: Seq[String]): DataFrame = {
    val aggs = Seq(
      min(col(tsSecCol)).as("day_first_sec"),
      max(col(tsSecCol)).as("day_last_sec"),
      count(lit(1)).as("day_pointcount")) ++
      valueCols.map(c => sum(col(c)).as(s"day_sum_$c"))
    df.groupBy((keys :+ dayCol).map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Monthly rebuild from the fused daily fact: same semantics as
   * [[monthlyRebuild]] (active-session scoping via a broadcast semi-join,
   * then full-history aggregation) with half the upstream shuffles.
   */
  def monthlyFromDaily(daily: DataFrame, keys: Seq[String], dayCol: String,
                       month: String, valueCol: String): DataFrame = {
    val active = daily.filter(col(dayCol) === month)
      .select(keys.map(col): _*).distinct()
    daily.join(broadcast(active), keys)
      .groupBy(keys.map(col): _*)
      .agg(
        min("day_first_sec").as("start_sec"),
        max("day_last_sec").as("end_sec"),
        sum("day_pointcount").as("n_points"),
        sum(s"day_sum_$valueCol").as("sum_value"))
      .withColumn("duration_hours", (col("end_sec") - col("start_sec")) / 3600.0)
  }

  /**
   * Hierarchical partition profile: row counts and time spans at every
   * prefix level of the partition hierarchy (day → month → year → total)
   * in ONE pass via `rollup` — the reference runs a separate Athena
   * GROUP BY per level (athena_analysis_staging.sql); a rollup computes
   * all levels from a single shuffle with partial aggregation.
   */
  def partitionProfile(df: DataFrame, levels: Seq[String],
                       tsSecCol: String): DataFrame =
    df.rollup(levels.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        min(col(tsSecCol)).as("min_sec"),
        max(col(tsSecCol)).as("max_sec"))
}
