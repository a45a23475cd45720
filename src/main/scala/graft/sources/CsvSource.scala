package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Schema-enforced CSV ingestion with a quarantine split
 * (reference: pipelines/raw_to_staging.py:60-86 — CSV read with enforced
 * schema; malformed rows must not kill a 100 TB backfill, they must land
 * in a quarantine table for inspection).
 *
 * Implemented as `text` scan + `from_csv` rather than the csv datasource:
 * the csv source refuses plans whose required schema is only the
 * internal corrupt-record column (so `quarantine.count()` would throw,
 * and the documented workaround is `.cache()` — a non-starter at 100 TB).
 * With `from_csv` the corrupt marker is an ordinary struct field, so the
 * split is two filters over one parsed frame. That frame is a
 * [[graft.CacheScope.once]] point: the text scan and the `from_csv` parse
 * run once per call however many outputs are landed from it (good rows
 * feed staging and its validity/expectation quarantines, bad lines the
 * CSV quarantine), instead of once per landing write.
 */
object CsvSource {

  val CorruptCol = "_corrupt_record"

  /**
   * Read CSV at `path` against `schema`, returning (good, quarantine).
   * `good` has exactly the declared schema; `quarantine` carries the raw
   * line for replay/inspection. Both are lazy: no job runs here.
   */
  def readWithQuarantine(spark: SparkSession, path: String,
                         schema: StructType,
                         header: Boolean = true): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+ StructField(CorruptCol, StringType))
    val options = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> CorruptCol)
    val raw = spark.read.text(path)
    val headerLine = schema.fieldNames.mkString(",")
    val body = if (header) raw.filter(col("value") =!= headerLine) else raw
    // the raw line is kept only where the parse failed, so the shared
    // rows hold each good line once, as parsed fields
    val parsed = graft.CacheScope.once(
      body.withColumn("_p", from_csv(col("value"), withCorrupt, options))
        .select((schema.fieldNames.toSeq.map(f => col(s"_p.$f").as(f)) :+
          when(col(s"_p.$CorruptCol").isNotNull, col("value")).as("raw_line")): _*))
    val good = parsed.filter(col("raw_line").isNull).drop("raw_line")
    val quarantine = parsed.filter(col("raw_line").isNotNull).select("raw_line")
    (good, quarantine)
  }
}
