package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Schema-enforced JSON-lines ingestion with a quarantine split — the
 * JSON twin of [[CsvSource]] (same text-scan + `from_json` shape, same
 * rationale: the json datasource refuses corrupt-column-only plans and
 * the documented cache workaround is a non-starter at scale). As there,
 * the parsed lines are a [[graft.CacheScope.once]] point: one text scan
 * and one parse per call feed both outputs.
 */
object JsonSource {

  val CorruptCol = "_corrupt_record"

  /** Read JSON-lines at `path` against `schema` → (good, quarantine),
   * both lazy. */
  def readWithQuarantine(spark: SparkSession, path: String,
                         schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+ StructField(CorruptCol, StringType))
    val options = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> CorruptCol)
    val parsed = graft.CacheScope.once(spark.read.text(path)
      .withColumn("_p", from_json(col("value"), withCorrupt, options))
      .select((schema.fieldNames.toSeq.map(f => col(s"_p.$f").as(f)) :+
        when(col(s"_p.$CorruptCol").isNotNull || col("_p").isNull, col("value"))
          .as("raw_line")): _*))
    val good = parsed.filter(col("raw_line").isNull).drop("raw_line")
    val quarantine = parsed.filter(col("raw_line").isNotNull).select("raw_line")
    (good, quarantine)
  }
}
