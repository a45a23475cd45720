package graft

import graft.sources.LakeWriter
import org.apache.spark.sql.functions._

/** Round-9 closing hardening: the clustering maintenance loop and the
 * cross-table atomic snapshot publish. */
class Round9bSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-r9b-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("maintainClustering re-clusters only past the depth threshold") {
    val dir = tmp("opt")
    val base = spark.range(20000).select(
      pmod(hash(col("id")), lit(1000)).as("a"),
      pmod(hash(col("id") * 3 + 1), lit(1000)).as("b"), col("id"))
    LakeWriter.writeZOrdered(base, dir, Seq("a", "b"), nFiles = 8)
    def depths(): Map[String, Double] =
      LakeWriter.clusteringProfile(
          LakeWriter.statsIndex(spark, dir, Seq("a", "b")), Seq("a", "b"))
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // self-calibrating threshold: a fresh layout's own depth + slack —
    // the maintenance CONTRACT (no rewrite when healthy, rewrite past
    // the line, healed below it) is what's under test, not a constant
    val thr = depths().values.max + 0.5
    assert(!LakeWriter.maintainClustering(spark, dir, Seq("a", "b"),
      maxAvgDepth = thr, nFiles = 8), "re-clustered a healthy lake")
    // degrade: append 6 unclustered files, each spanning the domain
    (1 to 6).foreach { i =>
      spark.range(2000).select(
          pmod(hash(col("id") + i * 7919), lit(1000)).as("a"),
          pmod(hash(col("id") * 5 + i), lit(1000)).as("b"),
          (col("id") + 100000L * i).as("id"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val degraded = depths()
    assert(degraded.values.max > thr,
      s"fixture broke: appends did not degrade depth past $thr ($degraded)")
    val total = spark.read.parquet(dir).agg(sum("id")).head.getLong(0)
    // maintenance pass: rewrite happens, depth recovers, rows survive
    assert(LakeWriter.maintainClustering(spark, dir, Seq("a", "b"),
      maxAvgDepth = thr, nFiles = 8))
    val healed = depths()
    assert(healed.values.max <= thr, s"rewrite did not heal depth ($healed)")
    assert(spark.read.parquet(dir).agg(sum("id")).head.getLong(0) === total,
      "re-cluster lost or duplicated rows")
    assert(!LakeWriter.maintainClustering(spark, dir, Seq("a", "b"),
      maxAvgDepth = thr, nFiles = 8), "second pass should be a no-op")
  }

  test("partitioned maintenance rewrites only the degraded partition dirs") {
    val dir = tmp("popt")
    val base = spark.range(30000).select(
      (col("id") % 2).cast("int").as("day"),
      pmod(hash(col("id")), lit(1000)).as("a"),
      pmod(hash(col("id") * 3 + 1), lit(1000)).as("b"), col("id"))
    LakeWriter.writeZOrdered(base, dir, Seq("a", "b"), nFiles = 8,
      partitionCols = Seq("day"))
    def files(day: Int): Set[String] = {
      val f = new org.apache.hadoop.fs.Path(s"$dir/day=$day")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/day=$day"))
        .map(s => s.getPath.getName + ":" + s.getModificationTime).toSet
    }
    val fresh0 = files(0)
    // threshold above the fresh layout's own depth (self-calibrating,
    // the maintainClustering spec's contract)
    val stats0 = LakeWriter.statsIndex(spark, dir, Seq("a", "b"))
      .withColumn("pdir", regexp_extract(col("file"), "^(.*)/[^/]+$", 1))
    val thr = LakeWriter.clusteringProfile(stats0, Seq("a", "b"),
        groupCol = Some("pdir"))
      .agg(max("avg_depth")).head.getDouble(0) + 2.0
    // maintenance nFiles is PER REWRITE SET (here: one dir), while the
    // fresh layout's 8 files split across two dirs — healing day=1 into
    // 8 files would park its depth ~0.25 below thr, inside plan-jitter
    // range (approxQuantile cuts shift under load); 4 files/dir keeps a
    // ~2x margin and matches the fresh per-dir file count
    assert(LakeWriter.maintainClusteringPartitioned(spark, dir,
      Seq("a", "b"), Seq("day"), maxAvgDepth = thr, nFiles = 4).isEmpty,
      "healthy partitions rewritten")
    // degrade ONLY day=1 with domain-spanning appends
    (1 to 5).foreach { i =>
      spark.range(2000).select(
          pmod(hash(col("id") + i * 331), lit(1000)).as("a"),
          pmod(hash(col("id") * 7 + i), lit(1000)).as("b"),
          (col("id") + 500000L * i).as("id"))
        .coalesce(1).write.mode("append").parquet(s"$dir/day=1")
    }
    val total = spark.read.parquet(dir).agg(sum("id")).head.getLong(0)
    val rewritten = LakeWriter.maintainClusteringPartitioned(spark, dir,
      Seq("a", "b"), Seq("day"), maxAvgDepth = thr, nFiles = 4)
    assert(rewritten.length === 1 && rewritten.head.endsWith("day=1"),
      s"expected only day=1 rewritten: $rewritten")
    assert(files(0) === fresh0, "untouched partition's files changed")
    assert(spark.read.parquet(dir).agg(sum("id")).head.getLong(0) === total,
      "partition rewrite lost or duplicated rows")
    assert(LakeWriter.maintainClusteringPartitioned(spark, dir,
      Seq("a", "b"), Seq("day"), maxAvgDepth = thr, nFiles = 4).isEmpty,
      "healed lake rewritten again")
  }

  test("refreshStatsIndex re-reads only new files, result equals a rebuild") {
    val dir = tmp("refresh")
    spark.range(400000).select(col("id"), (col("id") % 97).as("a"),
        md5(col("id").cast("string")).as("pad"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    val prior = LakeWriter.statsIndex(spark, dir, Seq("a")).localCheckpoint(true)
    // append two files, delete one original
    spark.range(400000, 401000).select(col("id"),
        (col("id") % 97 + 1000).as("a"),
        md5(col("id").cast("string")).as("pad"))
      .repartition(2).write.mode("append").parquet(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    f.delete(victim, false)

    def readBytes(body: => Unit): Long = measure(body)._2.inputBytes
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.updated(0,
        new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)).toSet
    var refreshed: org.apache.spark.sql.DataFrame = null
    val incBytes = readBytes {
      refreshed = LakeWriter.refreshStatsIndex(spark, dir, prior, Seq("a"))
        .localCheckpoint(true)
    }
    var rebuilt: org.apache.spark.sql.DataFrame = null
    val fullBytes = readBytes {
      rebuilt = LakeWriter.statsIndex(spark, dir, Seq("a")).localCheckpoint(true)
    }
    assert(normalize(refreshed) === normalize(rebuilt),
      "incremental refresh diverged from the rebuild")
    assert(incBytes < fullBytes / 2,
      s"refresh read $incBytes bytes vs rebuild $fullBytes — not incremental")
  }

  test("vacuumSnapshots keeps the newest N consistent sets") {
    val root = tmp("vac")
    for (d <- 1 to 3)
      LakeWriter.publishSnapshot(Map(
        "t" -> Seq((d.toLong, d * 1.0)).toDF("k", "v")), root, s"2024-01-0$d")
    // torn attempt older than the newest commit. A FRESH uncommitted dir
    // must survive the default grace window — it could be a concurrent
    // backfill of an older version mid-write, not a crash leftover
    Seq((9L, 9.0)).toDF("k", "v").write.parquet(s"$root/v=2024-01-02x/t")
    val cautious = LakeWriter.vacuumSnapshots(spark, root, keepLast = 2)
    assert(cautious === Seq("2024-01-01"), s"fresh in-flight dir reaped: $cautious")
    // once stale past the grace window it is reapable
    val deleted = LakeWriter.vacuumSnapshots(spark, root, keepLast = 2,
      uncommittedGraceMs = -1000L) // cutoff in the future: "already stale"
    assert(deleted === Seq("2024-01-02x"), s"deleted: $deleted")
    assert(LakeWriter.committedSnapshotVersions(spark, root) ===
      Seq("2024-01-02", "2024-01-03"))
    assert(LakeWriter.readSnapshotTable(spark, root, "t").head.getLong(0) === 3L)
    assert(LakeWriter.readSnapshotTable(spark, root, "t",
      before = Some("2024-01-03")).head.getLong(0) === 2L)
  }

  test("publishSnapshot commits a whole table set atomically") {
    val root = tmp("snap")
    val facts1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val dims1 = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    LakeWriter.publishSnapshot(Map("facts" -> facts1, "dims" -> dims1),
      root, "2024-01-01")
    assert(LakeWriter.readSnapshotTable(spark, root, "facts").count() === 2)

    // crashed attempt: tables written, marker never dropped — invisible
    val facts2 = Seq((1L, 11.0), (3L, 30.0)).toDF("k", "v")
    facts2.write.parquet(s"$root/v=2024-01-02/facts")
    assert(LakeWriter.committedSnapshotVersions(spark, root) === Seq("2024-01-01"))
    assert(LakeWriter.readSnapshotTable(spark, root, "facts")
      .agg(sum("v")).head.getDouble(0) === 30.0, "torn snapshot leaked")

    // the retry replaces the crashed attempt and commits BOTH tables
    val dims2 = Seq((1L, "a2"), (3L, "c")).toDF("k", "name")
    LakeWriter.publishSnapshot(Map("facts" -> facts2, "dims" -> dims2),
      root, "2024-01-02")
    val cur = LakeWriter.readSnapshotTable(spark, root, "facts")
      .join(LakeWriter.readSnapshotTable(spark, root, "dims"), "k")
    assert(cur.count() === 2) // keys 1 and 3: facts and dims AGREE
    // time travel returns the older CONSISTENT pair
    val old = LakeWriter.readSnapshotTable(spark, root, "facts",
        before = Some("2024-01-02"))
      .join(LakeWriter.readSnapshotTable(spark, root, "dims",
        before = Some("2024-01-02")), "k")
    assert(old.count() === 2) // keys 1 and 2
    assert(old.filter(col("k") === 3).count() === 0)
    // idempotent re-publish of a committed version: no-op
    LakeWriter.publishSnapshot(Map(
      "facts" -> Seq((9L, 99.0)).toDF("k", "v"),
      "dims" -> Seq((9L, "x")).toDF("k", "name")), root, "2024-01-02")
    assert(LakeWriter.readSnapshotTable(spark, root, "facts")
      .filter(col("k") === 9).count() === 0, "committed version rewritten")
  }
}
