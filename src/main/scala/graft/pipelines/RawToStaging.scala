package graft.pipelines

import graft.operators.{Cleanse, Dedup, Movement}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

/**
 * Raw → staging pipeline: the composed operator chain of the reference's
 * pipelines/raw_to_staging.py, re-expressed as lazy frames.
 *
 * Steps: column normalization → schema enforcement → empty→null →
 * coordinate validity split (invalid rows quarantined, not dropped) →
 * timestamp parse on each side → value clamps → content-hash dedup →
 * y/m/d derivation → movement flag. Catalyst fuses the projections and
 * pushes the validity filter into the scan. [[run]] returns one plan per
 * output; [[runWithDq]] computes the staged frame once and splits every
 * output from it, as the reference writes staging and its quarantine
 * from one cleaned DataFrame.
 *
 * The reference parses before the split and derives y/m/d right after
 * the parse; here the staged side derives them after the dedup. They are
 * `date_format` strings, and a string column in the dedup's payload gives
 * its aggregation buffer a variable-width field, which makes Spark plan
 * an interpreted SortAggregate (a sort and a row-at-a-time loop outside
 * whole-stage codegen) on both sides of the shuffle. Since y/m/d are
 * functions of the timestamp, deriving them from the kept row gives the
 * same rows and leaves a fixed-width payload, which plans a codegen
 * HashAggregate. The staged columns keep the reference's order: …, year,
 * month, day, movement_flag.
 */
object RawToStaging {

  /** Pipeline configuration (reference defaults map to the AIS schema). */
  case class Config(
      columnMapping: Map[String, String],
      schema: Seq[(String, DataType)],
      tsCol: String,
      validCondition: DataFrame => Column,
      clampCaps: Map[String, Double],
      dedupCols: Seq[String],
      speedCol: String,
      speedThreshold: Double)

  /** (staged, quarantine): quarantine carries rows failing the validity
   * predicate; staged is deduped, clamped, flagged, y/m/d-partitionable.
   * Both carry year/month/day, and rows whose timestamp does not parse
   * are in neither.
   *
   * The split comes before the timestamp parse, so each side parses only
   * its own rows: the quarantine, a sliver of the feed, does not pay the
   * parse for every line. `validCondition` therefore sees the normalized
   * frame, where `tsCol` is still the source string and there is no
   * y/m/d; a predicate over the parsed timestamp does not belong here. */
  def run(raw: DataFrame, cfg: Config): (DataFrame, DataFrame) = {
    val normalized = Cleanse.emptyToNull(
      Cleanse.enforceSchema(
        Cleanse.normalizeColumns(raw, cfg.columnMapping), cfg.schema))
    val (valid, invalid) = Cleanse.validSplit(normalized, cfg.validCondition(normalized))
    val deduped = Dedup.exact(
      Cleanse.clampUpper(Cleanse.parseTimestampColumn(valid, cfg.tsCol), cfg.clampCaps),
      cfg.dedupCols)
    val staged = Movement.flag(
      Cleanse.dateParts(deduped, cfg.tsCol), cfg.speedCol, cfg.speedThreshold)
    (staged, Cleanse.parseTimestamps(invalid, cfg.tsCol))
  }

  /** Declarative data-quality screens appended to the staging pipeline:
   * named CHECK-constraint expectations route rows (DLT-style), the
   * optional Benford and k-anonymity screens report on the CLEAN side.
   * `benfordOn` names a positive value column; `kAnonymityOn` gives the
   * quasi-identifier columns and k. */
  case class DqConfig(
      expectations: Seq[(String, Column)],
      benfordOn: Option[String] = None,
      kAnonymityOn: Option[(Seq[String], Int)] = None)

  /** [[run]] with the quality family composed in — the reference's
   * clean/quarantine split (pipelines/raw_to_staging.py:60-133)
   * EXTENDED with declarative expectations and audit screens:
   * (clean, validityQuarantine, dqQuarantine, reports). Rows failing
   * the validity predicate land in validityQuarantine exactly as in
   * [[run]]; rows passing validity but violating an expectation land in
   * dqQuarantine with a `_violations` name array. Reports are LAZY
   * frames (the caller actions them): "expectations" — per-check
   * violation counts over the staged frame; "benford" — first-digit
   * chi-square screen; "k_anonymity" — re-identification risk profile.
   * Everything stays declarative: no driver action happens here.
   *
   * The staged frame is a [[graft.CacheScope.once]] point: the first
   * action over any output computes it (one dedup shuffle) and the rest
   * read those rows. So a key `Dedup.exact` keeps lands in exactly one of
   * clean and dqQuarantine, and the reports count the rows those two
   * hold, even though `dropDuplicates` keeps an arbitrary row per key. */
  def runWithDq(raw: DataFrame, cfg: Config, dq: DqConfig)
      : (DataFrame, DataFrame, DataFrame, Map[String, DataFrame]) = {
    require(dq.expectations.nonEmpty, "runWithDq needs at least one expectation")
    val (prefix, quarantine) = run(raw, cfg)
    val staged = graft.CacheScope.once(prefix)
    val (clean, dqQuarantine) =
      graft.operators.Quality.expectationsSplit(staged, dq.expectations)
    val reports = Map(
      "expectations" ->
        graft.operators.Quality.expectationsReportPlan(staged, dq.expectations)) ++
      dq.benfordOn.map(vc => "benford" ->
        graft.operators.Quality.benford(
          staged.withColumn("_corpus", org.apache.spark.sql.functions.lit("staged")),
          Seq("_corpus"), vc)) ++
      dq.kAnonymityOn.map { case (qi, k) => "k_anonymity" ->
        graft.operators.Quality.kAnonymity(staged, qi, k) }
    (clean, quarantine, dqQuarantine, reports)
  }
}
