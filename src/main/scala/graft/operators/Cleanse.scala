package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/**
 * Raw-layer cleansing operators (reference: utils/common_functions_raw.py).
 * All pure Column expressions — codegen-friendly, fully pushdown-compatible.
 */
object Cleanse {

  /**
   * Parse a string timestamp that may arrive in several formats
   * ('yyyy-MM-dd HH:mm:ss', ISO with 'T', optional millis / trailing zone),
   * drop unparseable rows, derive year/month/day partition columns
   * (reference: utils/common_functions_raw.py:20 parse_base_datetime).
   * [[parseTimestampColumn]] followed by [[dateParts]].
   */
  def parseTimestamps(df: DataFrame, inputCol: String = "ts",
                      dominantFormat: String = "yyyy-MM-dd'T'HH:mm:ss"): DataFrame =
    dateParts(parseTimestampColumn(df, inputCol, dominantFormat), inputCol)

  /** The parse half of [[parseTimestamps]]: `inputCol` becomes a
   * timestamp and rows it cannot parse are dropped; no partition columns. */
  def parseTimestampColumn(df: DataFrame, inputCol: String,
                           dominantFormat: String = "yyyy-MM-dd'T'HH:mm:ss"): DataFrame = {
    val stripped = regexp_extract(
      regexp_replace(col(inputCol), "Z$", ""),
      "^(.+?)([+-]\\d{2}:\\d{2})?$", 1)
    // try_to_timestamp: null on mismatch (ANSI-safe), mirroring the
    // reference's permissive multi-format coalesce. The dominant format
    // is tried FIRST on the raw string — coalesce short-circuits in
    // codegen, so well-formed rows (the overwhelming majority of a real
    // feed) never pay the two regex normalizations; only rows the fast
    // path nulls out fall through to the zone-stripping chain.
    val parsed = coalesce(
      try_to_timestamp(col(inputCol), lit(dominantFormat)),
      try_to_timestamp(stripped, lit("yyyy-MM-dd'T'HH:mm:ss.SSS")),
      try_to_timestamp(stripped, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(col(inputCol), lit("yyyy-MM-dd HH:mm:ss")))
    df.withColumn(inputCol, parsed).filter(col(inputCol).isNotNull)
  }

  /** Append the year/month/day partition strings ("yyyy", "MM", "dd") of
   * the timestamp column `tsCol`. */
  def dateParts(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("year", date_format(col(tsCol), "yyyy"))
      .withColumn("month", date_format(col(tsCol), "MM"))
      .withColumn("day", date_format(col(tsCol), "dd"))

  /**
   * Rename drifting source columns to canonical names; absent sources are
   * skipped (reference: utils/common_functions_raw.py:134 normalize_columns,
   * utils/column_mapping.py).
   */
  def normalizeColumns(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    val present = mapping.filter { case (src, _) => df.columns.contains(src) }
    df.withColumnsRenamed(present)
  }

  /**
   * Align to an expected column set: add missing columns as nulls of the
   * given type, drop unexpected ones, cast the rest (reference:
   * pipelines/raw_to_staging.py:91-106).
   *
   * Casts are `try_cast`: under Spark 4 ANSI semantics a plain cast
   * THROWS on the first malformed value — one bad CSV cell must yield a
   * null (caught downstream by the validity split), not kill a 100 TB
   * backfill.
   */
  def enforceSchema(df: DataFrame, expected: Seq[(String, DataType)]): DataFrame = {
    val cols = expected.map { case (name, dt) =>
      if (df.columns.contains(name)) col(name).try_cast(dt).as(name)
      else lit(null).cast(dt).as(name)
    }
    df.select(cols: _*)
  }

  /** Empty strings → null across all (or the given) string columns
   * (reference: utils/common_functions_raw.py:117 replace_empty_with_null). */
  def emptyToNull(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets =
      if (cols.nonEmpty) cols
      else df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    val replaced = targets.map(c => c -> when(col(c) === "", null).otherwise(col(c)))
    df.withColumns(replaced.toMap)
  }

  /** Cap columns at an upper bound, keeping values below it. NULL inputs
   * stay NULL — `least` would swallow them into the cap, inventing data
   * (reference: utils/common_functions_raw.py:103 clean_sog_cog_heading,
   * which is when/otherwise for exactly this reason). */
  def clampUpper(df: DataFrame, caps: Map[String, Double]): DataFrame =
    df.withColumns(caps.map { case (c, cap) =>
      c -> when(col(c) > cap, lit(cap)).otherwise(col(c))
    })

  /**
   * Split into (valid, quarantine) by a predicate — e.g. coordinate range
   * checks (reference: utils/common_functions_raw.py:58 clean_coordinates).
   * Null predicate rows are quarantined, matching the reference's
   * `filter(cond)` / `filter(~cond)` pair.
   */
  def validSplit(df: DataFrame, condition: Column): (DataFrame, DataFrame) =
    (df.filter(condition), df.filter(!coalesce(condition, lit(false))))

  /** Coordinate-range predicate used by [[validSplit]]. */
  def validCoords(lat: Column, lon: Column): Column =
    lat.between(-90, 90) && lon.between(-180, 180)

  /** Cast listed columns when present, leave others untouched; malformed
   * values become null rather than throwing under ANSI (reference:
   * utils/common_functions_curated.py:144 safe_cast_columns). */
  def safeCast(df: DataFrame, types: Map[String, DataType]): DataFrame = {
    val present = types.filter { case (c, _) => df.columns.contains(c) }
    df.withColumns(present.map { case (c, dt) => c -> col(c).try_cast(dt) })
  }
}
