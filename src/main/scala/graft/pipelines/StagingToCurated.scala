package graft.pipelines

import graft.functions.Geo
import graft.operators.{Movement, Rollup, Sessionize, Trajectory}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Staging → curated pipeline: the reference's
 * pipelines/staging_to_curated.py + the transformations/facts modules,
 * composed as one operator chain producing the three curated outputs (trajectory,
 * daily fact, session summary).
 *
 * All per-entity features (session id, segment distance) share a single
 * `Window.partitionBy(id).orderBy(ts)` family, so the enrichment costs
 * ONE shuffle, and the enriched frame is a [[graft.CacheScope.once]]
 * point: that shuffle runs once per call, not once per output, however
 * many of the three outputs are landed. The rollups then aggregate with
 * map-side combine. No job runs in [[run]]; the first output's action
 * computes the enrichment.
 */
object StagingToCurated {

  case class Config(
      idCol: String, tsSecCol: String, dayCol: String,
      latCol: String, lonCol: String, speedCol: String,
      gapSeconds: Long, speedThreshold: Double,
      fastSpeedThreshold: Double, fastIntervalSec: Long, slowIntervalSec: Long,
      rowKeyCol: String, geohashPrecision: Int = 6)

  case class Curated(trajectory: DataFrame, daily: DataFrame, summary: DataFrame)

  def run(staged: DataFrame, cfg: Config): Curated = {
    val sessioned = Sessionize(staged, cfg.idCol, cfg.tsSecCol, cfg.gapSeconds,
      tieBreak = Seq(cfg.rowKeyCol))
    val enriched = graft.CacheScope.once(Movement.state(
      Trajectory.segmentDistance(sessioned, Seq(cfg.idCol), cfg.tsSecCol,
        cfg.latCol, cfg.lonCol, tieBreak = Seq(cfg.rowKeyCol)),
      cfg.speedCol, cfg.speedThreshold)
      .withColumn("geohash",
        Geo.geohash(col(cfg.latCol), col(cfg.lonCol), cfg.geohashPrecision)))

    val keys = Seq(cfg.idCol, "session_id")
    val trajectory = Trajectory.sample(enriched, cfg.idCol, "session_id",
      cfg.tsSecCol, cfg.speedCol, "movement_state", cfg.dayCol,
      cfg.fastSpeedThreshold, cfg.fastIntervalSec, cfg.slowIntervalSec,
      cfg.rowKeyCol)
    val daily = Rollup.dailySegments(enriched, keys, cfg.tsSecCol, cfg.dayCol)
      .join(Rollup.dailyMetrics(enriched, keys, cfg.dayCol, Seq(cfg.speedCol)),
        keys :+ cfg.dayCol)
    val summary = Rollup.sessionSummary(enriched, keys, cfg.tsSecCol, cfg.speedCol)
    Curated(trajectory, daily, summary)
  }
}
