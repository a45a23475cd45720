package perfbench

import graft.{CacheScope, SharedStage, SparkEntry, Tables}
import graft.operators.Cleanse
import graft.pipelines.{CurateDocuments, RawToStaging, StagingToCurated}
import graft.sources.{CsvSource, LakeWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * The lakehouse chain shared by `lake_backfill` and `lake_daily`:
 * CSV read with quarantine → raw→staging with DQ expectations → y/m/d
 * staging plus quarantines → staging→curated → validation queries.
 */
abstract class Lake(ctx: Ctx) extends Workload {
  import ctx.spark

  protected val feed: Map[String, Any] = ctx.section("feed")
  protected val feedDir: String = feed("feed_dir").toString
  protected val days: Seq[String] = feed("days").asInstanceOf[Seq[Any]].map(_.toString)
  protected val lake = s"${ctx.data}/lake"
  protected def table(t: String) = s"$lake/$t"

  /** The feed as it arrives: the AIS source's own column names. */
  protected val feedSchema: StructType = StructType(Seq(
    StructField("MMSI", LongType), StructField("BaseDateTime", StringType),
    StructField("LAT", StringType), StructField("LON", StringType),
    StructField("SOG", StringType), StructField("COG", StringType),
    StructField("VesselName", StringType)))

  protected val rawCfg: RawToStaging.Config = RawToStaging.Config(
    columnMapping = Map("MMSI" -> "user_id", "BaseDateTime" -> "ts",
      "LAT" -> "lat", "LON" -> "lon", "SOG" -> "speed", "COG" -> "course"),
    schema = Seq("user_id" -> LongType, "ts" -> StringType,
      "lat" -> DoubleType, "lon" -> DoubleType, "speed" -> DoubleType,
      "course" -> DoubleType, "heading" -> DoubleType),
    tsCol = "ts",
    validCondition = _ => Cleanse.validCoords(col("lat"), col("lon")),
    clampCaps = Map("speed" -> 102.2),
    dedupCols = Seq("user_id", "ts", "lat", "lon"),
    speedCol = "speed", speedThreshold = 0.5)

  protected val dqCfg: RawToStaging.DqConfig = RawToStaging.DqConfig(
    expectations = Seq(
      "speed_non_negative" -> (col("speed") >= 0.0),
      "course_in_range" -> col("course").between(0.0, 360.0)))

  protected val curCfg: StagingToCurated.Config = StagingToCurated.Config(
    idCol = "user_id", tsSecCol = "ts_sec", dayCol = "day",
    latCol = "lat", lonCol = "lon", speedCol = "speed",
    gapSeconds = 10800L, speedThreshold = 0.5,
    fastSpeedThreshold = 10.0, fastIntervalSec = 300L, slowIntervalSec = 1800L,
    rowKeyCol = "row_key")

  /** Raw → staging over `path` (the feed directory or one day's file):
   * lands staging and the validity and expectation quarantines with
   * dynamic partition overwrite, and (whole-feed loads only) the CSV
   * quarantine of unparseable lines. */
  protected def rawToStaging(path: String, csvQuarantine: Boolean): Unit = {
    val (good, corrupt) = CsvSource.readWithQuarantine(spark, path, feedSchema)
    val (clean, validityQ, dqQ, _) = RawToStaging.runWithDq(good, rawCfg, dqCfg)
    ctx.tracer.span("sources.csv.raw_to_lake") {
      ctx.tracer.annotateCurrent("csv_file_bytes", csvBytes(path).toDouble)
      ctx.land("staging", table("staging"))(LakeWriter.writePartitioned(
        clean, table("staging"), keyCol = Some("user_id"), filesPerPartition = 2))
      ctx.land("quarantine_validity", table("quarantine_validity"))(
        LakeWriter.writePartitioned(validityQ, table("quarantine_validity"),
          filesPerPartition = 1))
      ctx.land("quarantine_dq", table("quarantine_dq"))(
        LakeWriter.writePartitioned(dqQ, table("quarantine_dq"), filesPerPartition = 1))
      if (csvQuarantine)
        ctx.land("quarantine_csv", table("quarantine_csv"))(
          corrupt.coalesce(1).write.mode("overwrite").parquet(table("quarantine_csv")))
    }
  }

  private def csvBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().filter(_.getName.endsWith(".csv")).map(_.length).sum
    else f.length
  }

  protected def staged(): DataFrame =
    LakeWriter.read(spark, table("staging"))
      .withColumn("ts_sec", unix_timestamp(col("ts")))
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("row_key", sha2(concat_ws("|", col("user_id"), col("ts_sec"),
        col("lat"), col("lon")), 256))

  protected def stagingToCurated(): Unit = {
    val cur = StagingToCurated.run(staged(), curCfg)
    ctx.land("trajectory", table("trajectory"))(LakeWriter.writePartitioned(
      cur.trajectory.drop("year", "month"), table("trajectory"),
      partitionCols = Seq("day"), filesPerPartition = 1))
    ctx.land("daily", table("daily"))(LakeWriter.writePartitioned(
      cur.daily, table("daily"), partitionCols = Seq("day"), filesPerPartition = 1))
    ctx.land("summary", table("summary"))(
      cur.summary.write.mode("overwrite").parquet(table("summary")))
  }

  /** Register landed tables for the validation SQL, as a catalog would
   * after a load; a view lists its files once, so a table is registered
   * again after each rewrite. */
  protected def registerViews(tables: Seq[String]): Unit =
    tables.foreach(t => LakeWriter.read(spark, table(t)).createOrReplaceTempView(t))

  protected val CuratedTables: Seq[String] = Seq("staging", "trajectory", "daily", "summary")

  /** Answers recorded for the checker: (op key) -> rows. The same key must
   * always give the same rows; a mismatch is a failed operation. Rows of
   * an answer without an order (`ordered` false) are compared as a
   * multiset, as the checker compares them: their order follows the file
   * layout and shuffle partitioning, which a rewrite of the lake changes. */
  protected val answers = mutable.LinkedHashMap[String, Seq[Seq[Any]]]()

  protected def record(key: String, rows: Seq[Seq[Any]], ordered: Boolean): Unit = {
    def canon(rs: Seq[Seq[Any]]) =
      if (ordered) rs else rs.sortBy(_.map(v => String.valueOf(v)).mkString("\u0001"))
    answers.get(key) match {
      case Some(prev) if canon(prev) != canon(rows) =>
        throw new IllegalStateException(s"$key answered differently than before")
      case Some(_) => ()
      case None => answers(key) = rows
    }
  }

  protected def validation(name: String): Unit = {
    val sql = Lake.Validation(name)
    record(s"validation:$name", ctx.answer(spark.sql(sql)), sql.contains("ORDER BY"))
  }

  protected def lakeReport(): Map[String, Any] = {
    val (files, bytes) = ctx.parquetFiles(lake)
    Map("lake" -> lake, "lake_files" -> files, "lake_bytes" -> bytes,
      "answers" -> answers,
      "validation_sql" -> Lake.Validation)
  }
}

object Lake {
  /** The reference's Athena validation queries, in SQL both Spark and
   * DuckDB accept unchanged (the checker runs the same text in DuckDB). */
  val Validation: Map[String, String] = Map(
    "rows_per_day" ->
      "SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM staging GROUP BY CAST(ts AS DATE)",
    "vessels_per_day" ->
      ("SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS n FROM staging " +
        "GROUP BY CAST(ts AS DATE)"),
    "ts_range_per_day" ->
      ("SELECT CAST(ts AS DATE) AS d, MIN(ts) AS lo, MAX(ts) AS hi FROM staging " +
        "GROUP BY CAST(ts AS DATE)"),
    "movement_flag_dist" ->
      "SELECT movement_flag, COUNT(*) AS n FROM staging GROUP BY movement_flag",
    "movement_state_dist" ->
      "SELECT movement_state, COUNT(*) AS n FROM trajectory GROUP BY movement_state",
    "voyages_per_day" ->
      ("SELECT day, COUNT(*) AS n FROM (SELECT DISTINCT day, user_id, session_id " +
        "FROM daily) t GROUP BY day"),
    "top_vessels" ->
      ("SELECT user_id, SUM(n_points) AS n FROM summary GROUP BY user_id " +
        "ORDER BY n DESC, user_id LIMIT 10"))

  val ValidationNames: Seq[String] = Validation.keys.toSeq.sorted
}

/** Bulk load: every pass lands the whole feed into an empty lake. */
final class LakeBackfill(ctx: Ctx) extends Lake(ctx) {
  def setup(): Unit = ()

  def pass(p: Pass): Unit = {
    ctx.deleteTree(lake)
    p.op("pipelines.raw_to_staging")(rawToStaging(feedDir, csvQuarantine = true))
    p.op("pipelines.staging_to_curated") {
      stagingToCurated()
      registerViews(CuratedTables)
    }
    Lake.ValidationNames.foreach(v =>
      p.op(s"pipelines.validation:$v", s"validation:$v")(validation(v)))
  }

  def report(): Map[String, Any] = lakeReport()
}

/**
 * Daily operation on a landed lake: a seeded sequence of small operations
 * — re-land one day through dynamic partition overwrite, run a validation
 * query, or look up one vessel's timeline through `LakeWriter.read` or
 * `LakeWriter.readPruned`. Re-landing a day from the same feed file writes
 * the same rows, so every answer is fixed for the run and checkable.
 */
final class LakeDaily(ctx: Ctx) extends Lake(ctx) {
  import ctx.spark

  private val vessels = feed("vessels").asInstanceOf[Seq[Any]].map(_.toString.toLong)
  private val params = ctx.section("params")
  private var stats: DataFrame = _
  private var sequence: Seq[(String, String)] = Nil

  private def refreshStats(prior: Option[DataFrame]): Unit = {
    val fresh = prior match {
      case Some(p) => LakeWriter.refreshStatsIndex(spark, table("staging"), p, Seq("user_id"))
      case None => LakeWriter.statsIndex(spark, table("staging"), Seq("user_id"))
    }
    // the index is manifest-sized: keep it as a local frame, so lookups do
    // not re-scan the lake to plan
    stats = spark.createDataFrame(
      java.util.Arrays.asList(fresh.collect(): _*), fresh.schema)
  }

  def setup(): Unit = {
    ctx.deleteTree(lake)
    rawToStaging(feedDir, csvQuarantine = true)
    stagingToCurated()
    registerViews(CuratedTables)
    refreshStats(None)
    val rng = new scala.util.Random(ctx.manifest("seed").toString.toLong)
    val mix = params("op_mix").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.toString.toInt }
    sequence = rng.shuffle(mix.toSeq.sortBy(_._1).flatMap { case (kind, n) =>
      Seq.fill(n)(kind match {
        case "reland" => kind -> days(rng.nextInt(days.size))
        case "validation" =>
          kind -> Lake.ValidationNames(rng.nextInt(Lake.ValidationNames.size))
        case _ => kind -> vessels(rng.nextInt(vessels.size)).toString
      })
    })
  }

  private def timeline(df: DataFrame, v: Long): DataFrame =
    df.filter(col("user_id") === v)
      .select(col("ts"), col("lat"), col("lon"), col("speed"))
      .orderBy(col("ts"))

  def pass(p: Pass): Unit = sequence.foreach {
    case ("reland", day) => p.op("pipelines.raw_to_staging:reland", day) {
      rawToStaging(s"$feedDir/$day.csv", csvQuarantine = false)
      registerViews(Seq("staging"))
      refreshStats(Some(stats))
    }
    case ("validation", v) => p.op(s"pipelines.validation:$v", s"validation:$v")(validation(v))
    case ("lookup_read", v) => p.op("sources.lookup_read", s"lookup:$v") {
      record(s"lookup:$v",
        ctx.answer(timeline(LakeWriter.read(spark, table("staging")), v.toLong)), ordered = true)
    }
    case (_, v) => p.op("sources.lookup_pruned", s"lookup:$v") {
      val (df, _, _) = LakeWriter.readPruned(spark, table("staging"), stats,
        "user_id", v.toLong, v.toLong)
      record(s"lookup:$v", ctx.answer(timeline(df, v.toLong)), ordered = true)
    }
  }

  def report(): Map[String, Any] = lakeReport()
}

/** SparkEntry queries landed as parquet, one operation each. */
abstract class Queries(ctx: Ctx, names: Seq[String]) extends Workload {
  import ctx.spark
  protected val sf: String = ctx.section("sf")("sf_dir").toString
  protected val out = s"${ctx.data}/out"

  override def queryNames: Seq[String] = names

  protected def runQuery(p: Pass, q: String): Unit = p.op(s"query.$q") {
    CacheScope.scoped {
      SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(s"$out/$q")
    }
  }

  def report(): Map[String, Any] = {
    val (files, bytes) = ctx.parquetFiles(out)
    Map("out" -> out, "out_files" -> files, "out_bytes" -> bytes,
      "oracle_sql" -> names.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }
}

/** The iterative graph/clustering family. Each pass starts from an empty
 * shared-stage cache, so the spanning-forest build is paid every pass. */
final class GraphIter(ctx: Ctx) extends Queries(ctx, GraphIter.Names) {
  def setup(): Unit = ()
  def pass(p: Pass): Unit = {
    SharedStage.clear()
    GraphIter.Names.foreach(runQuery(p, _))
  }
}

object GraphIter {
  val Names: Seq[String] = Seq("q_louvain", "q_leiden", "q_dendrogram",
    "q_single_link", "q_pagerank", "q_ppr", "q_bfs_hops", "q_closeness",
    "q_dbscan", "q_refine")
  /** First consumer of the spanning-forest shared stage after the clear. */
  val Builders: Set[String] = Set("q_dendrogram")
}

/** Corpus curation, then the SharedStage consumer family: the first
 * consumer of each shared stage builds it, the rest hit the cache. */
final class CorpusCurate(ctx: Ctx) extends Queries(ctx, CorpusCurate.Names) {
  import ctx.spark
  def setup(): Unit = ()
  def pass(p: Pass): Unit = {
    SharedStage.clear()
    p.op("pipelines.curate_documents") {
      CacheScope.scoped {
        val docs = Tables.documents(spark, sf).select("doc_id", "text")
        val curated = CurateDocuments.run(docs,
          CurateDocuments.Config(idCol = "doc_id", textCol = "text"))
        ctx.land("curated", s"$out/curated")(
          curated.write.mode("overwrite").parquet(s"$out/curated"))
      }
    }
    CorpusCurate.Names.foreach(runQuery(p, _))
  }
}

object CorpusCurate {
  /** The SharedStage consumer family, without the IVF-PQ pair
   * (q_ann_ivfpq, q_knn_label_ann): with it a run took well over a minute
   * at local[4]. */
  val Names: Seq[String] = Seq("q_dedup_cluster", "q_dedup_canonical",
    "q_dedup_profile", "q_bm25", "q_rrf_hybrid")
  /** First consumers: each builds one shared stage after the clear. */
  val Builders: Set[String] = Set("q_dedup_cluster", "q_bm25")
}
