package graft

import graft.operators.Cleanse
import graft.pipelines._
import graft.sources.{CsvSource, JsonSource, LakeWriter}
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{CacheManagerProbe, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end pipeline compositions (reference: the pipelines package). */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  test("RawToStaging: normalize, parse, quarantine, clamp, dedup, flag") {
    val raw = Seq(
      // drifting column names, one bad coord, one dup, one bad timestamp
      ("2024-01-01 10:00:00", "7", "10.0", "20.0", "120.0"),
      ("2024-01-01 10:00:00", "7", "10.0", "20.0", "120.0"), // exact dup
      ("2024-01-01 11:00:00", "8", "95.0", "20.0", "30.0"),  // bad lat
      ("not-a-time", "9", "10.0", "20.0", "30.0"),           // dropped by parse
      ("2024-01-02 12:00:00", "10", "", "20.0", "40.0"))     // empty lat -> null -> quarantined
      .toDF("base_datetime", "mmsi", "LAT", "LON", "sog")

    val cfg = RawToStaging.Config(
      columnMapping = Map("base_datetime" -> "ts", "mmsi" -> "user_id",
        "LAT" -> "lat", "LON" -> "lon", "sog" -> "speed"),
      schema = Seq("user_id" -> LongType, "ts" -> StringType,
        "lat" -> DoubleType, "lon" -> DoubleType, "speed" -> DoubleType),
      tsCol = "ts",
      validCondition = df => graft.operators.Cleanse.validCoords(col("lat"), col("lon")),
      clampCaps = Map("speed" -> 100.0),
      dedupCols = Seq("user_id", "ts", "lat", "lon"),
      speedCol = "speed", speedThreshold = 50.0)

    val (staged, quarantine) = RawToStaging.run(raw, cfg)
    val rows = staged.orderBy("user_id").collect()
    assert(rows.length === 1, staged.columns.mkString(","))
    val r = rows.head
    assert(r.getAs[Long]("user_id") === 7L)
    assert(r.getAs[Double]("speed") === 100.0) // clamped from 120
    assert(r.getAs[Int]("movement_flag") === 1)
    assert(r.getAs[String]("year") === "2024")
    assert(quarantine.count() === 2) // bad lat + null lat
  }

  test("StagingToCurated: one-shuffle enrichment feeding all three outputs") {
    val staged = Tables.events(spark, sfDir)
      .withColumn("ts_sec", unix_timestamp(col("ts")))
      .withColumn("lat", col("value") % 180 - 90)
      .withColumn("lon", (col("value") * 7) % 360 - 180)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val cfg = StagingToCurated.Config(
      idCol = "user_id", tsSecCol = "ts_sec", dayCol = "day",
      latCol = "lat", lonCol = "lon", speedCol = "value",
      gapSeconds = 10800L, speedThreshold = 50.0,
      fastSpeedThreshold = 80.0, fastIntervalSec = 600L, slowIntervalSec = 3600L,
      rowKeyCol = "event_id")
    val out = StagingToCurated.run(staged, cfg)
    val nTraj = out.trajectory.count()
    val nAll = staged.count()
    assert(nTraj > 0 && nTraj <= nAll, "downsample must keep a subset")
    assert(out.trajectory.columns.contains("geohash"))
    assert(out.daily.columns.toSet.intersect(
      Set("day_first_sec", "day_last_sec", "day_pointcount")).size === 3)
    // summary point counts reconcile with input size
    val sumPoints = out.summary.agg(sum("n_points")).head().getLong(0)
    assert(sumPoints === nAll)
  }

  test("CurateDocuments: dedups, floors quality, scrubs, splits") {
    val extra = Seq(
      (9001L, "the quick brown fox jumps over the lazy dog again and again and again today"),
      (9002L, "the quick brown fox jumps over the lazy dog again and again and again today"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").unionByName(extra)
    val out = CurateDocuments.run(docs,
      CurateDocuments.Config(idCol = "doc_id", textCol = "text")).cache()
    // the planted near-identical pair collapses to one survivor
    assert(out.filter(col("doc_id") >= 9001L).count() <= 1)
    // no duplicate texts survive
    assert(out.groupBy("text").count().filter(col("count") > 1).count() === 0)
    assert(out.agg(min("quality_score")).head().getDouble(0) >= 0.3)
    val splits = out.select("split").distinct().as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    out.unpersist()
  }

  test("CurateDocuments keeps the BEST-quality cluster member; split is cluster-keyed") {
    val extra = Seq(
      (9001L, "the quick brown fox jumps over the lazy dog again and again and again today"),
      (9002L, "the quick brown fox jumps over the sleepy dog again and again and again today"))
      .toDF("doc_id", "text")
    // don't hand-predict the composite quality score — compute it and
    // assert the canonical rule (max score, ties to smallest id) held
    val q = operators.Text.qualityScore(extra, "text")
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    val best = Seq(9001L, 9002L).minBy(id => (-q(id), id))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").unionByName(extra)
    // one changed word in a 15-word doc is J ≈ 0.63 on 3-gram sets —
    // below the 0.8 default; 0.5 makes the planted pair a near-dup
    val out = CurateDocuments.run(docs,
      CurateDocuments.Config(idCol = "doc_id", textCol = "text",
        jaccardThreshold = 0.5)).cache()
    val survivors = out.filter(col("doc_id") >= 9001L)
      .select("doc_id", "cluster_id", "n_members").collect()
    assert(survivors.length === 1 && survivors.head.getLong(0) === best,
      s"expected best-quality survivor $best, got ${survivors.mkString(",")}")
    assert(survivors.head.getLong(2) === 2L) // the pair clustered
    out.unpersist()
  }

  test("CurateDocuments spanWords scrubs within-doc repeats before corpus passes") {
    val docs = Seq(
      // the same 5-word span repeated 3x + unique tail; post-scrub the
      // doc is ordinary prose and must survive the floors
      (1L, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon " +
        "alpha beta gamma delta epsilon the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away home"))
      .toDF("doc_id", "text")
    val out = CurateDocuments.run(docs,
      CurateDocuments.Config(idCol = "doc_id", textCol = "text",
        spanWords = 5, minQuality = 0.0))
    val t1 = out.filter(col("doc_id") === 1L).select("text").as[String].head
    assert(t1.startsWith("alpha beta gamma delta epsilon the quick"),
      s"repeated span survived the scrub: $t1")
    assert(!t1.contains("epsilon alpha"), s"second span occurrence kept: $t1")
  }

  test("CurateDocuments: blocklist scrubs first; entropy floor kills boilerplate") {
    val docs = Seq(
      (1L, "opted out text that must never appear in the corpus at all costs"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, "the quick brown fox jumps over the lazy dog and then runs far away home"))
      .toDF("doc_id", "text")
    val block = docs.filter(col("doc_id") === 1L).select(col("text").as("t"))
    val out = CurateDocuments.run(docs,
      CurateDocuments.Config(idCol = "doc_id", textCol = "text",
        minQuality = 0.0, minEntropy = 0.5),
      blocklist = Some(block))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(1L), "blocklisted doc survived")
    assert(!ids.contains(2L), "zero-entropy boilerplate survived")
    assert(ids.contains(3L))
  }

  test("multi-day incremental raw→staging→curated→state with a day-2 crash equals a from-scratch run") {
    // the reference's whole incremental narrative (docs/05 + docs/10) as
    // one test: three daily windows flow through the full pipeline into
    // the keyed state store; day 2 first CRASHES mid-merge (uncommitted
    // garbage version left behind) and is re-run, then re-run AGAIN after
    // committing; the final state must equal the same pipeline run once
    // over the concatenated raw feed.
    import graft.sources.StateStore
    val root = java.nio.file.Files.createTempDirectory("graft-e2e-state").toString

    def rawDay(d: Int) = Seq(
      (f"2024-01-0$d 09:00:00", "7", "10.0", "20.0", s"${d}0.0"),
      (f"2024-01-0$d 09:10:00", "7", "10.1", "20.1", "35.0"),
      (f"2024-01-0$d 09:10:00", "7", "10.1", "20.1", "35.0"), // exact dup
      (f"2024-01-0$d 13:30:00", "7", "10.2", "20.2", "20.0"), // gap > 3h: 2nd session
      (f"2024-01-0$d 09:05:00", "8", "-5.0", "100.0", "120.0"),
      (f"2024-01-0$d 09:35:00", "8", "-5.1", "100.1", "10.0"),
      (f"2024-01-0$d 10:00:00", "9", "95.0", "20.0", "30.0")) // bad lat: quarantined
      .toDF("base_datetime", "mmsi", "LAT", "LON", "sog")

    val rawCfg = RawToStaging.Config(
      columnMapping = Map("base_datetime" -> "ts", "mmsi" -> "user_id",
        "LAT" -> "lat", "LON" -> "lon", "sog" -> "speed"),
      schema = Seq("user_id" -> LongType, "ts" -> StringType,
        "lat" -> DoubleType, "lon" -> DoubleType, "speed" -> DoubleType),
      tsCol = "ts",
      validCondition = df => graft.operators.Cleanse.validCoords(col("lat"), col("lon")),
      clampCaps = Map("speed" -> 100.0),
      dedupCols = Seq("user_id", "ts", "lat", "lon"),
      speedCol = "speed", speedThreshold = 50.0)
    val curCfg = StagingToCurated.Config(
      idCol = "user_id", tsSecCol = "ts_sec", dayCol = "day",
      latCol = "lat", lonCol = "lon", speedCol = "speed",
      gapSeconds = 10800L, speedThreshold = 50.0,
      fastSpeedThreshold = 80.0, fastIntervalSec = 600L, slowIntervalSec = 3600L,
      rowKeyCol = "row_key")

    // per-ENTITY delta over the curated session summaries: aggregates are
    // session-numbering-independent, so daily runs and the from-scratch
    // run must land identical state
    def stateDelta(raw: org.apache.spark.sql.DataFrame) = {
      val staged = RawToStaging.run(raw, rawCfg)._1
        .withColumn("ts_sec", unix_timestamp(col("ts")))
        .withColumn("row_key",
          sha2(concat_ws("|", col("user_id"), col("ts"), col("lat"), col("lon")), 256))
      StagingToCurated.run(staged, curCfg).summary
        .groupBy(col("user_id").as("entity"))
        .agg(sum("n_points").as("n_points"), sum("sum_speed").as("sum_speed"),
          min("start_sec").as("first_sec"), max("end_sec").as("last_sec"))
    }
    def merge(day: String, delta: org.apache.spark.sql.DataFrame): Unit =
      StateStore.merge(spark, root, day, delta, keys = Seq("entity"),
        sumCols = Seq("n_points", "sum_speed"),
        minCols = Seq("first_sec"), maxCols = Seq("last_sec"), nBuckets = 8)

    merge("2024-01-01", stateDelta(rawDay(1)))
    // day-2 crash: a writer died mid-merge, leaving an UNCOMMITTED version
    // with partial garbage — the re-run must rebuild it from scratch
    Seq((7L, 999999L, 999999.0, 0L, 0L))
      .toDF("entity", "n_points", "sum_speed", "first_sec", "last_sec")
      .withColumn("bucket", lit(0))
      .write.partitionBy("bucket").parquet(s"$root/v=2024-01-02")
    merge("2024-01-02", stateDelta(rawDay(2)))
    merge("2024-01-02", stateDelta(rawDay(2))) // blind re-run: no double-add
    merge("2024-01-03", stateDelta(rawDay(3)))

    val got = StateStore.read(spark, root).get
      .select("entity", "n_points", "sum_speed", "first_sec", "last_sec")
      .as[(Long, Long, Double, Long, Long)].collect().toSet
    val truth = stateDelta(rawDay(1).unionByName(rawDay(2)).unionByName(rawDay(3)))
      .select("entity", "n_points", "sum_speed", "first_sec", "last_sec")
      .as[(Long, Long, Double, Long, Long)].collect().toSet
    assert(got === truth, s"incremental-only: ${got -- truth}; scratch-only: ${truth -- got}")
    assert(got.map(_._1) === Set(7L, 8L)) // user 9 quarantined, never reaches state
    assert(StateStore.committedVersions(spark, root).size === 3)
  }

  // ---- the lake chain's compute-once points ----

  private val feedSchema = StructType(Seq(
    StructField("MMSI", LongType), StructField("BaseDateTime", StringType),
    StructField("LAT", StringType), StructField("LON", StringType),
    StructField("SOG", StringType), StructField("COG", StringType)))

  private case class Fix(mmsi: String, ts: String, lat: String, lon: String,
                         sog: String, cog: String)

  /** An AIS-shaped feed: 40 vessels × 150 one-minute fixes over two
   * days, with planted exact duplicates, out-of-range latitudes,
   * negative speeds and lines the parser rejects. */
  private val feed: Seq[Fix] = {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    for {
      v <- 0 until 40; i <- 0 until 150
      n = v * 150 + i
      fix = Fix(s"${366000000 + v}", t0.plusMinutes(i + 60L * v).format(fmt),
        if (n % 53 == 7) "95.0" else f"${10.0 + v * 0.1 + i * 0.001}%.4f",
        f"${-70.0 + i * 0.002}%.4f",
        if (n % 41 == 3) "-1.0" else f"${(n * 7) % 25 + 0.5}%.1f",
        s"${(n * 13) % 360}.0")
      out <- if (n % 97 == 11) Seq(fix.copy(mmsi = s"x$v")) // unparseable MMSI
             else if (n % 30 == 5 && n % 53 != 7) Seq(fix, fix) // exact duplicate line
             else Seq(fix)
    } yield out
  }

  private val feedCfg = RawToStaging.Config(
    columnMapping = Map("MMSI" -> "user_id", "BaseDateTime" -> "ts",
      "LAT" -> "lat", "LON" -> "lon", "SOG" -> "speed", "COG" -> "course"),
    schema = Seq("user_id" -> LongType, "ts" -> StringType,
      "lat" -> DoubleType, "lon" -> DoubleType, "speed" -> DoubleType,
      "course" -> DoubleType),
    tsCol = "ts",
    validCondition = _ => Cleanse.validCoords(col("lat"), col("lon")),
    clampCaps = Map("speed" -> 102.2),
    dedupCols = Seq("user_id", "ts", "lat", "lon"),
    speedCol = "speed", speedThreshold = 0.5)

  private val feedDq = RawToStaging.DqConfig(
    Seq("speed_non_negative" -> (col("speed") >= 0.0)))

  private def writeFeed(dir: java.io.File): (String, String) = {
    val csv = new java.io.File(dir, "feed.csv")
    Files.writeString(csv.toPath, (feedSchema.fieldNames.mkString(",") +: feed.map(f =>
      Seq(f.mmsi, f.ts, f.lat, f.lon, f.sog, f.cog).mkString(","))).mkString("", "\n", "\n"))
    val json = new java.io.File(dir, "feed.jsonl")
    Files.writeString(json.toPath, feed.map(f =>
      s"""{"MMSI": ${f.mmsi}, "BaseDateTime": "${f.ts}", "LAT": "${f.lat}", """ +
        s""""LON": "${f.lon}", "SOG": "${f.sog}", "COG": "${f.cog}"}""").mkString("", "\n", "\n"))
    (csv.getPath, json.getPath)
  }

  /** Shuffle records written by each stage that ran inside `body`: a
   * per-stage list, which [[Harness.Counters]]' totals do not keep. */
  private def stageShuffleRecords(body: => Unit): Seq[Long] = {
    val sc = spark.sparkContext
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        recs.add(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { body; GraftListenerBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    recs.asScala.toSeq
  }

  /** Bytes read through Hadoop's local file system, all threads. */
  private def localBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** Check that `body` leaves no CacheManager entry and no persisted RDD
   * behind, and that it did persist something while it ran. */
  private def releasesEverything(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val cacheEntries = CacheManagerProbe.entries(spark)
    val before = sc.getPersistentRDDs.keySet
    var during = Set.empty[Int]
    CacheScope.scoped { body; during = sc.getPersistentRDDs.keySet.toSet -- before }
    assert(during.nonEmpty, "nothing was computed once")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "persisted RDDs outlived the scope")
    assert(CacheManagerProbe.entries(spark) === cacheEntries)
  }

  test("runWithDq: every deduped key lands in exactly one of clean and dqQuarantine") {
    // two rows per dedup key, one passing the expectation and one failing
    // it, in an order that changes at every evaluation: dropDuplicates
    // keeps whichever row comes first, so both outputs must see ONE pick
    val shuffled = udf(() => scala.util.Random.nextDouble()).asNondeterministic()
    val raw = (0 until 200).flatMap(k => Seq((k.toString, "5.0"), (k.toString, "-1.0")))
      .toDF("MMSI", "SOG")
      .withColumn("BaseDateTime", lit("2024-01-01 10:00:00"))
      .withColumn("LAT", lit("10.0")).withColumn("LON", lit("20.0"))
      .withColumn("COG", lit("90.0"))
      .orderBy(shuffled())
    val (clean, _, dq, _) = RawToStaging.runWithDq(raw, feedCfg, feedDq)
    val keys = clean.select("user_id").as[Long].collect().toSeq ++
      dq.select("user_id").as[Long].collect().toSeq
    val once = keys.sorted == (0L until 200L)
    assert(once, s"${keys.size} rows; in both: ${keys.diff(keys.distinct).distinct.size}, " +
      s"in neither: ${(0L until 200L).diff(keys).size}")
  }

  test("raw→staging: no job at call time; landing the four outputs scans the source once") {
    val dir = Files.createTempDirectory("graft-once").toFile
    val (csv, json) = writeFeed(dir)
    val sources: Seq[(String, String => (DataFrame, DataFrame))] = Seq(
      csv -> (p => CsvSource.readWithQuarantine(spark, p, feedSchema)),
      json -> (p => JsonSource.readWithQuarantine(spark, p, feedSchema)))
    for ((path, read) <- sources) releasesEverything {
      val ((clean, validityQ, dqQ, unparsed), called) = measure {
        val (good, bad) = read(path)
        val (c, v, d, _) = RawToStaging.runWithDq(good, feedCfg, feedDq)
        (c, v, d, bad)
      }
      assert(called.jobs === 0, s"$path: jobs at call time")
      val out = s"${dir.getPath}/lake-${new java.io.File(path).getName}"
      val read0 = localBytesRead()
      LakeWriter.writePartitioned(clean, s"$out/staging", keyCol = Some("user_id"),
        filesPerPartition = 2)
      LakeWriter.writePartitioned(validityQ, s"$out/quarantine_validity", filesPerPartition = 1)
      LakeWriter.writePartitioned(dqQ, s"$out/quarantine_dq", filesPerPartition = 1)
      unparsed.coalesce(1).write.mode("overwrite").parquet(s"$out/quarantine_source")
      val scanned = localBytesRead() - read0
      val size = new java.io.File(path).length
      assert(scanned >= size && scanned <= size * 1.1,
        s"$path: read $scanned bytes of a $size-byte file")
      // every line is accounted for: landed once or dropped as a duplicate
      def landed(t: String) = spark.read.parquet(s"$out/$t").count()
      val dups = feed.size - feed.distinct.size
      assert(landed("staging") + landed("quarantine_validity") + landed("quarantine_dq") +
        landed("quarantine_source") + dups === feed.size)
      assert(Seq("quarantine_validity", "quarantine_dq", "quarantine_source")
        .forall(landed(_) > 0))
    }
  }

  test("StagingToCurated: no job at call time; the three outputs run the window exchange once") {
    val dir = Files.createTempDirectory("graft-once-cur").toFile
    val (csv, _) = writeFeed(dir)
    CacheScope.scoped {
      val (good, _) = CsvSource.readWithQuarantine(spark, csv, feedSchema)
      LakeWriter.writePartitioned(RawToStaging.run(good, feedCfg)._1, s"$dir/staging")
    }
    val staged = LakeWriter.read(spark, s"$dir/staging")
      .withColumn("ts_sec", unix_timestamp(col("ts")))
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("row_key", sha2(concat_ws("|", col("user_id"), col("ts_sec"),
        col("lat"), col("lon")), 256))
    val n = staged.count()
    val cfg = StagingToCurated.Config(
      idCol = "user_id", tsSecCol = "ts_sec", dayCol = "day",
      latCol = "lat", lonCol = "lon", speedCol = "speed",
      gapSeconds = 10800L, speedThreshold = 0.5,
      fastSpeedThreshold = 10.0, fastIntervalSec = 300L, slowIntervalSec = 1800L,
      rowKeyCol = "row_key")
    releasesEverything {
      val (cur, called) = measure(StagingToCurated.run(staged, cfg))
      assert(called.jobs === 0, "jobs at call time")
      // the window exchange is the one shuffle that writes every staged
      // row; the rollups' exchanges carry partial aggregates
      val stages = stageShuffleRecords {
        LakeWriter.writePartitioned(cur.trajectory.drop("year", "month"),
          s"$dir/trajectory", partitionCols = Seq("day"), filesPerPartition = 1)
        LakeWriter.writePartitioned(cur.daily, s"$dir/daily",
          partitionCols = Seq("day"), filesPerPartition = 1)
        cur.summary.write.mode("overwrite").parquet(s"$dir/summary")
      }
      assert(stages.count(_ == n) === 1, s"per-stage shuffle records $stages, $n staged rows")
      assert(spark.read.parquet(s"$dir/summary").agg(sum("n_points")).head().getLong(0) === n)
      assert(spark.read.parquet(s"$dir/trajectory").count() < n)
    }
  }
}
