package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Partitioned parquet lake layout: `year/month/day` directories with
 * dynamic-partition overwrite for incremental reprocessing
 * (reference: pipelines/raw_to_staging.py:124-133 — dynamic overwrite so
 * a daily rerun replaces ONLY the partitions it recomputed, never the
 * whole table).
 *
 * Every table the library lands — the writes here, [[StateStore]]'s
 * versions and [[graft.streaming.LakeSink]]'s batches — goes through
 * [[landing]], so the lake has one file format.
 */
object LakeWriter {

  val DefaultPartitionCols: Seq[String] = Seq("year", "month", "day")

  /**
   * The lake's one file format: parquet whose column chunks are
   * zstd-compressed. Lake files are written once and scanned by every
   * query after, and the reference's query engine (Athena) bills by bytes
   * scanned, so the codec is chosen for size. Spark's default, snappy, is
   * byte-oriented LZ with no entropy stage: it finds few repeats in
   * high-entropy strings, and the lake's widest columns are exactly
   * those. Hex digests and geohashes use 16- and 32-symbol alphabets,
   * which an entropy coder packs into 4 or 5 bits a character; snappy
   * keeps 8. On the lakehouse benchmark's backfill, a 64-character
   * `row_key` digest was 43% of the lake under snappy, which shrank it
   * by 3%; zstd halves it, and lands a third fewer bytes per row over
   * the whole lake, at a CPU cost inside the run-to-run spread.
   *
   * It is a per-write option: the library sets no session config, and a
   * caller's own writes keep the session's codec.
   */
  private[graft] def landing(df: DataFrame): DataFrameWriter[Row] =
    df.write.format("parquet").option("compression", "zstd")

  /**
   * Write `df` partitioned by `partitionCols`, overwriting only the
   * partitions present in `df`.
   *
   * File sizing at scale: a blind write emits one file per (task ×
   * partition) — 1000 tasks × 365 days = small-file death. Repartitioning
   * by (partitionCols, bucket(keyCol)) gives `filesPerPartition` files
   * per day, each written by one task, and rows of one key stay in one
   * file (better downstream locality + parquet min/max pruning on key).
   */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String] = DefaultPartitionCols,
                       keyCol: Option[String] = None,
                       filesPerPartition: Int = 4): Unit = {
    val arranged = keyCol match {
      case Some(k) =>
        df.repartition((partitionCols.map(col) :+
          (pmod(xxhash64(col(k)), lit(filesPerPartition)))): _*)
      case None => df.repartition(partitionCols.map(col): _*)
    }
    landing(arranged)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .save(path)
    // a long-lived session may hold SharedStage frames computed from this
    // path — drop them now so the next consumer recomputes from the new
    // snapshot instead of serving pre-overwrite rows
    graft.SharedStage.invalidate(path)
  }

  /** Read the lake back; partition columns come from directory names and
   * partition pruning applies to filters on them. Schema comes from ONE
   * footer — cheap, but blind to columns other partitions added; use
   * [[readEvolved]] when the table's schema has grown over time. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /**
   * Read with ADDITIVE schema evolution (`mergeSchema`): the scan
   * schema is the union of every partition's footer, so partitions
   * written before a column existed read it as null next to newer
   * partitions' real values — the posture the staging→curated rebuild
   * needs when it re-reads months of old partitions after the feed
   * gained a column (reference: pipelines/staging_to_curated.py re-reads
   * old+new partitions in one frame).
   *
   * Supported evolution contract: ADDING nullable columns. Renames are
   * two independent columns (old rows null in the new, new rows null in
   * the old); incompatible type changes fail the footer merge loudly.
   * Footer merging is a distributed per-file job — pay it when schemas
   * may differ, not on every read.
   */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /**
   * Per-partition file profile: file count, row count, and min/max rows
   * per file for every partition directory — the small-file detector
   * that decides WHICH partitions [[compact]] should rewrite. One scan
   * (`input_file_name` groupBy, partial-agg'd); no filesystem listing
   * loops on the driver.
   */
  def fileProfile(spark: SparkSession, path: String): DataFrame =
    read(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("partition_dir",
        regexp_extract(col("file"), "^(.*)/[^/]+$", 1))
      .groupBy("partition_dir")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
        min("n_rows").as("min_file_rows"), max("n_rows").as("max_file_rows"))

  /**
   * Compact a lake: rewrite every partition down to
   * `filesPerPartition` files. Streaming appends and incremental runs
   * accumulate small files (each micro-batch/task writes its own);
   * scan cost then becomes per-FILE overhead — footer reads, scheduler
   * tasks — not bytes.
   *
   * Crash safety is the staged-sibling swap shared with
   * [[maintainClusteringPartitioned]]: the compacted copy writes to a
   * hidden `.__compact` sibling while the SOURCE FILES STAY UNTOUCHED,
   * then each affected partition dir swaps in with two atomic renames.
   * The previous shape — localCheckpoint then dynamic-overwrite the
   * same path — left a cluster-mode hazard: checkpoint blocks are
   * executor-local, so an executor loss after the overwrite began
   * could force recomputation from a partially-replaced source. Here a
   * crash at any point leaves every dir individually consistent (old
   * files, or new files, or old files under the dot-hidden `.__old_*`
   * sibling that no reader parses as a partition).
   */
  def compact(spark: SparkSession, path: String,
              partitionCols: Seq[String] = DefaultPartitionCols,
              keyCol: Option[String] = None,
              filesPerPartition: Int = 1,
              partitionFilter: Option[org.apache.spark.sql.Column] = None): Unit = {
    // Self-rewrite trap that SURVIVES the staged-sibling design:
    // partition-column TYPE INFERENCE turns "day=01" into int 1 on
    // read; writing back would create day=1 — a DIFFERENT directory —
    // and silently DUPLICATE the lake instead of replacing it. Keep
    // partition values as raw strings for the round-trip. At scale,
    // pass `partitionFilter` and compact a bounded batch of partitions
    // per call.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val stagedRoot = new org.apache.hadoop.fs.Path(root.toString + ".__compact")
    fs.delete(stagedRoot, true)
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(inferKey)
    spark.conf.set(inferKey, "false")
    try {
      val src = partitionFilter.foldLeft(read(spark, path))(_ filter _)
      writePartitioned(src, stagedRoot.toString, partitionCols, keyCol,
        filesPerPartition)
    } finally spark.conf.set(inferKey, prev)
    // every leaf dir present in the staged tree (exactly the filtered
    // partitions) swaps into the live tree; untouched partitions keep
    // their files byte-for-byte
    def leaves(p: org.apache.hadoop.fs.Path, depth: Int): Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).filter(_.isDirectory).toSeq
        .flatMap(s => leaves(s.getPath, depth - 1))
    leaves(stagedRoot, partitionCols.size).foreach { srcDir =>
      val d = srcDir.toString.stripPrefix(stagedRoot.toString + "/")
      val dst = new org.apache.hadoop.fs.Path(root, d)
      val old = new org.apache.hadoop.fs.Path(dst.getParent, s".__old_${dst.getName}")
      fs.delete(old, true)
      if (fs.exists(dst))
        require(fs.rename(dst, old), s"compact swap failed: $dst -> $old")
      else fs.mkdirs(dst.getParent)
      require(fs.rename(srcDir, dst), s"compact swap failed: $srcDir -> $dst")
      fs.delete(old, true)
    }
    fs.delete(stagedRoot, true)
    graft.SharedStage.invalidate(path)
  }

  /**
   * ATOMIC partitioned publish — the crash-safe sibling of
   * [[writePartitioned]]. Dynamic partition overwrite on plain parquet
   * is not atomic ACROSS partitions: a writer that dies after replacing
   * `day=1` but before `day=2` leaves a torn mixed snapshot that every
   * reader sees. This lifts [[StateStore]]'s `_COMMITTED` protocol onto
   * the lake layout: each publish writes a FRESH
   * `path/v=<version>/year=/month=/day=/` tree, then drops the empty
   * marker as the single atomic visibility point. [[readVersioned]]
   * resolves every leaf partition directory to its newest COMMITTED
   * version, so readers see only the old or only the new snapshot —
   * never a mix — and an incremental publish that recomputes a subset
   * of partitions still composes with older versions' untouched ones.
   *
   * Same idempotence/crash rules as [[StateStore.merge]]: a committed
   * `v=` is never rewritten (re-running the same window is a no-op); an
   * uncommitted leftover is a crashed attempt, invisible to readers and
   * deleted by the next attempt.
   */
  def writePartitionedVersioned(df: DataFrame, path: String, version: String,
                                partitionCols: Seq[String] = DefaultPartitionCols,
                                keyCol: Option[String] = None,
                                filesPerPartition: Int = 4): Unit = {
    require(!version.contains("/") && version.nonEmpty, s"bad version: $version")
    val spark = df.sparkSession
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(path, s"v=$version")
    val marker = new org.apache.hadoop.fs.Path(target, StateStore.CommitMarker)
    if (f.exists(marker)) return // idempotent re-run: already published
    if (f.exists(target)) f.delete(target, true) // crashed attempt
    val arranged = keyCol match {
      case Some(k) =>
        df.repartition((partitionCols.map(col) :+
          (pmod(xxhash64(col(k)), lit(filesPerPartition)))): _*)
      case None => df.repartition(partitionCols.map(col): _*)
    }
    // a fresh version dir needs no dynamic-overwrite mode: nothing
    // pre-existing can be clobbered, and visibility is the marker's job
    landing(arranged).partitionBy(partitionCols: _*).save(target.toString)
    f.create(marker).close() // marker LAST: the atomic visibility point
    graft.SharedStage.invalidate(path)
  }

  /**
   * CROSS-TABLE atomic publish: land a consistent MULTI-table snapshot
   * (the star-schema export problem — facts and dims must come from the
   * same pipeline run; per-table atomicity still lets a reader join
   * new facts against old dims). All tables write under
   * `root/v=<version>/<table>/`, then ONE marker at the version root is
   * the single visibility point for the whole set: a crash after some
   * tables leaves the entire version invisible, never a torn join.
   * Same idempotence/crash rules as [[writePartitionedVersioned]].
   */
  def publishSnapshot(tables: Map[String, DataFrame], root: String,
                      version: String): Unit = {
    require(!version.contains("/") && version.nonEmpty, s"bad version: $version")
    require(tables.nonEmpty, "publishSnapshot needs at least one table")
    require(tables.keys.forall(n => !n.contains("/") && !n.startsWith("_")),
      s"bad table names: ${tables.keys}")
    val spark = tables.head._2.sparkSession
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(root, s"v=$version")
    val marker = new org.apache.hadoop.fs.Path(target, StateStore.CommitMarker)
    if (f.exists(marker)) return // idempotent re-run
    if (f.exists(target)) f.delete(target, true) // crashed attempt
    tables.foreach { case (name, df) =>
      landing(df).save(new org.apache.hadoop.fs.Path(target, name).toString)
    }
    f.create(marker).close() // one marker commits the whole set
    graft.SharedStage.invalidate(root)
  }

  /**
   * OPTIMISTIC-CONCURRENCY publish — Delta's commit-conflict protocol
   * for the `v=` snapshot layout: CONCURRENT writers each resolve the
   * next version independently, and exactly one wins each version
   * number; the loser detects the conflict and retries at the next one,
   * so both snapshots land (serialized), never clobber, and readers see
   * a linear version history. [[publishSnapshot]] alone cannot give
   * this: two writers passing the same version string both see "no
   * marker", both delete the other's in-flight dir as a "crashed
   * attempt", and the last marker silently wins over mixed bytes.
   *
   * The CAS is an atomic CLAIM-file create (`create(overwrite=false)`
   * — one winner per path on HDFS; object stores give the same with
   * if-none-match preconditions), NOT a directory rename: Hadoop's
   * local rename moves the source INTO an existing destination dir, so
   * rename-if-absent is not portable as a commit primitive. Version
   * resolution counts committed versions AND live claims, so a loser
   * re-resolves PAST the winner even before the winner's marker lands.
   *
   * Crash windows: after claim, before marker — the claim goes stale
   * and [[vacuumSnapshots]] reaps it (with the uncommitted-dir grace),
   * after which the version number is reused; after marker, before
   * claim delete — the claim matches a committed version and is inert
   * (resolution would skip it anyway; vacuum removes it immediately).
   *
   * `beforeCommit(resolvedVersion)` is the race-injection seam the spec
   * uses to publish a competitor between resolution and claim; it runs
   * once per attempt. Returns the committed version name.
   */
  def publishSnapshotOcc(tables: Map[String, DataFrame], root: String,
                         maxAttempts: Int = 5,
                         beforeCommit: String => Unit = _ => ()): String = {
    require(tables.nonEmpty, "publishSnapshotOcc needs at least one table")
    val spark = tables.head._2.sparkSession
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(rootP)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val listed = f.listStatus(rootP).map(_.getPath.getName).toSeq
      val committedNums = committedSnapshotVersions(spark, root)
        .flatMap(v => scala.util.Try(v.toLong).toOption)
      val claimedNums = listed.filter(_.startsWith(ClaimPrefix))
        .map(_.stripPrefix(ClaimPrefix))
        .flatMap(v => scala.util.Try(v.toLong).toOption)
      val next = ((committedNums ++ claimedNums) :+ 0L).max + 1
      val v = f"$next%012d"
      beforeCommit(v)
      val claim = new org.apache.hadoop.fs.Path(rootP, s"$ClaimPrefix$v")
      val won =
        try { f.create(claim, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException if f.exists(claim) => false
        }
      if (won) {
        // claim won, but the version may ALREADY be committed: a racer
        // that published v and deleted its (now-inert) claim leaves the
        // claim path free while the marker exists — publishSnapshot's
        // idempotent no-op would silently swallow OUR tables. Committed
        // check under the claim closes that ABA window.
        val marker = new org.apache.hadoop.fs.Path(rootP,
          s"v=$v/${StateStore.CommitMarker}")
        if (!f.exists(marker)) {
          publishSnapshot(tables, root, v)
          f.delete(claim, false) // inert once the marker exists
          return v
        }
        f.delete(claim, false) // stale resolution: treat as a lost race
      }
      // lost the claim race: loop re-resolves past the winner
    }
    throw new IllegalStateException(
      s"publishSnapshotOcc: lost $maxAttempts claim races at $root — " +
        "writer contention exceeds maxAttempts")
  }

  /** Claim-file prefix for [[publishSnapshotOcc]] CAS entries. */
  private[graft] val ClaimPrefix = "_claim_v="

  /**
   * Snapshot retention: delete committed versions beyond the newest
   * `keepLast` plus uncommitted leftovers older than the newest commit
   * (crashed attempts). An uncommitted dir must ALSO be stale by
   * modification time (`uncommittedGraceMs`) before it is reaped:
   * version ordering alone assumes a forward-moving writer, but a
   * concurrent [[publishSnapshot]] backfilling an OLDER version (a
   * dated rerun) has an in-flight dir that is lexicographically behind
   * the newest commit while actively being written — the mtime gate
   * protects it until the attempt is clearly abandoned. Works on any
   * `v=`-versioned root ([[publishSnapshot]] and
   * [[writePartitionedVersioned]] share the layout). Returns the
   * deleted version names.
   */
  def vacuumSnapshots(spark: SparkSession, root: String,
                      keepLast: Int,
                      uncommittedGraceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(rootPath)) return Seq.empty
    val committed = committedSnapshotVersions(spark, root)
    val keep = committed.takeRight(keepLast).toSet
    val newestCommitted = committed.lastOption.getOrElse("")
    val cutoff = System.currentTimeMillis() - uncommittedGraceMs
    // a dir's own mtime changes only when direct children are added, so
    // probe the newest mtime under the attempt (depth 2 covers the
    // table/partition level where files land during a write)
    def newestMtime(p: org.apache.hadoop.fs.Path, depth: Int): Long = {
      val self = f.getFileStatus(p).getModificationTime
      if (depth <= 0) self
      else (self +: f.listStatus(p).toSeq.map { s =>
        if (s.isDirectory) newestMtime(s.getPath, depth - 1)
        else s.getModificationTime
      }).max
    }
    val deleted = f.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("v=")).toSeq
      .flatMap { p =>
        val v = p.getName.stripPrefix("v=")
        val dead =
          if (committed.contains(v)) !keep(v)
          else v < newestCommitted && newestMtime(p, 2) < cutoff
        if (dead) { f.delete(p, true); Some(v) } else None
      }
    // OCC claim files: inert once their version committed (reap now);
    // otherwise a possibly-crashed claim — same grace as uncommitted dirs
    f.listStatus(rootPath).filter(s => !s.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(ClaimPrefix))
      .foreach { p =>
        val v = p.getName.stripPrefix(ClaimPrefix)
        if (committed.contains(v) ||
          f.getFileStatus(p).getModificationTime < cutoff)
          f.delete(p, false)
      }
    deleted.sorted
  }

  /** Read one table of the newest committed [[publishSnapshot]] set
   * (strictly before `before` if given — time travel picks up the
   * whole consistent set, never one table's newer copy). */
  def readSnapshotTable(spark: SparkSession, root: String, table: String,
                        before: Option[String] = None): DataFrame = {
    val versions = committedSnapshotVersions(spark, root)
      .filter(v => before.forall(v < _))
    require(versions.nonEmpty, s"no committed snapshot at $root")
    spark.read.parquet(s"$root/v=${versions.last}/$table")
  }

  /** Committed snapshot versions under a versioned lake, ascending. */
  def committedSnapshotVersions(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v="))
      .filter(v => f.exists(new org.apache.hadoop.fs.Path(root,
        s"v=$v/${StateStore.CommitMarker}")))
      .sorted.toSeq
  }

  /**
   * Read a [[writePartitionedVersioned]] lake: every leaf partition
   * directory resolves to its newest committed version (uncommitted
   * dirs are invisible), and the resolved leaves are scanned per
   * version with that version dir as `basePath` so partition columns
   * parse exactly as in [[read]]. Driver-side listing is
   * O(#versions · #partitions) — metadata, not data, the same contract
   * as [[StateStore]]'s reader. `before` pins a read to versions
   * strictly older (time travel + the dated-rerun read point).
   */
  def readVersioned(spark: SparkSession, path: String,
                    before: Option[String] = None): DataFrame =
    versionedScans(spark, path, before).reduce(_ unionByName _)

  /**
   * [[readVersioned]] with physical row lineage: each row carries the
   * file it came from and its position inside that file
   * (`_metadata.file_path` / `_metadata.row_index`), as
   * [[DeleteVectors.FileCol]] / [[DeleteVectors.PosCol]]. The metadata
   * struct must be projected per SCAN branch — it does not propagate
   * through the version union — which is why this lives here and not at
   * the call site.
   */
  def readVersionedLineage(spark: SparkSession, path: String,
                           before: Option[String] = None): DataFrame =
    versionedScans(spark, path, before)
      .map(_.select(col("*"),
        col("_metadata.file_path").as(DeleteVectors.FileCol),
        col("_metadata.row_index").as(DeleteVectors.PosCol)))
      .reduce(_ unionByName _)

  /** One scan per contributing version of a [[writePartitionedVersioned]]
   * lake (leaf dirs resolved to their newest committed version). */
  private def versionedScans(spark: SparkSession, path: String,
                             before: Option[String]): Seq[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = committedSnapshotVersions(spark, path)
      .filter(v => before.forall(v < _))
    require(versions.nonEmpty, s"no committed versions at $path")
    // leaf partition dirs, relative to the version root: recurse through
    // `name=value` levels, stop where data files live. A dir with no
    // partition subdirs AND no data files contributes nothing — a
    // zero-row incremental window publishes a committed version holding
    // only marker files, and treating it as a leaf (rel "") would pin an
    // unreadable empty scan into every later read of the lake
    def leaves(p: org.apache.hadoop.fs.Path,
               rel: String): Seq[(String, org.apache.hadoop.fs.Path)] = {
      val kids = f.listStatus(p)
      val parts = kids.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (parts.nonEmpty)
        parts.toSeq.flatMap(d => leaves(d.getPath, s"$rel/${d.getPath.getName}"))
      else if (kids.exists(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")))
        Seq((rel, p))
      else Seq.empty
    }
    val latest = scala.collection.mutable.LinkedHashMap[String, String]()
    versions.foreach { v => // ascending: later versions shadow
      leaves(new org.apache.hadoop.fs.Path(root, s"v=$v"), "").foreach {
        case (rel, _) => latest(rel) = v
      }
    }
    require(latest.nonEmpty,
      s"no data files in any committed version at $path (all snapshots empty)")
    latest.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, rels) =>
      val base = s"$path/v=$v"
      spark.read.option("basePath", base)
        .parquet(rels.map { case (rel, _) => s"$base$rel" }: _*)
    }
  }

  /**
   * Bucketed catalog table: hash-bucket `df` on `keyCol` into `nBuckets`
   * files, sorted by the key inside each bucket, registered in the
   * catalog (bucketing metadata only lives there — a plain
   * `.parquet(path)` write cannot carry it). Two tables bucketed the
   * same way equi-join with ZERO exchanges — the co-location is the
   * point: at 100 TB, pre-bucketing the fact tables on their join key
   * turns every daily fact-fact join from two full shuffles into a
   * local zip (PlanSpec asserts the no-Exchange plan). Sorting within
   * buckets additionally removes the join's sort step.
   */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    nBuckets: Int = 64): Unit =
    // repartition by the key into exactly nBuckets first: repartition's
    // HashPartitioning and bucketBy's bucket routing use the same hash,
    // so each task holds exactly one bucket's rows → ONE file per bucket.
    // That single-file property is what lets the scan expose the sortBy
    // order (multi-file buckets force the join to re-sort locally).
    landing(df.repartition(nBuckets, col(keyCol)))
      .bucketBy(nBuckets, keyCol)
      .sortBy(keyCol)
      .mode("overwrite")
      .saveAsTable(table)

  /**
   * Partitioned write with rows CLUSTERED inside each file by
   * `clusterCols` (`sortWithinPartitions` — no extra shuffle beyond the
   * partitioning repartition): parquet row-group min/max stats on the
   * cluster columns become tight, so filters on them skip row groups —
   * poor-man's Z-order. Cluster by the columns queries filter on most
   * (e.g. entity id, or a geohash for spatial locality: interleaved
   * lat/lon bits ARE a Z-order curve).
   */
  def writeClustered(df: DataFrame, path: String,
                     clusterCols: Seq[String],
                     partitionCols: Seq[String] = DefaultPartitionCols,
                     filesPerPartition: Int = 4): Unit = {
    landing(df.repartition((partitionCols.map(col) :+
        pmod(xxhash64(clusterCols.map(col): _*), lit(filesPerPartition))): _*)
      .sortWithinPartitions((partitionCols ++ clusterCols).map(col): _*))
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .save(path)
    graft.SharedStage.invalidate(path)
  }

  /**
   * File-level zone-map index: per data file, min/max (and null count)
   * of each indexed column — the manifest-stats layer every table
   * format (Iceberg/Delta manifests, parquet footers one level up)
   * uses to prune FILES before the scan plans a single task. Built
   * distributed in ONE pass over the lake (`input_file_name` groupBy,
   * partial-agg'd); persist the result next to the table and rebuild
   * only for partitions a writer touched.
   *
   * At 100 TB the win is scheduler-side: row-group stats still require
   * opening every footer (per-file driver/executor round trips);
   * file-level stats cut the file LIST, so a selective range predicate
   * plans thousands of tasks instead of millions.
   */
  def statsIndex(spark: SparkSession, path: String,
                 cols: Seq[String]): DataFrame =
    statsOf(read(spark, path), cols)

  private def statsOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "statsIndex needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
      count(when(col(c).isNull, 1)).as(s"nulls_$c"))) :+
      count(lit(1)).as("n_rows")
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Scheme-insensitive path key: `input_file_name` URIs ("file:///x")
   * and Hadoop listing paths ("file:/x") must compare equal. */
  private def pathKey(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /**
   * INCREMENTAL [[statsIndex]] maintenance — the manifest-refresh every
   * lake format performs on commit, for the plain-parquet stats layer:
   * rows of `prior` whose file still exists are KEPT (their bytes are
   * never re-read), stats are computed only over files the listing
   * shows as new, and rows for deleted files drop. The listing is one
   * recursive driver-side walk (manifest-scale); the data scan touches
   * exactly the new files — an append of one file to a million-file
   * lake costs one file's stats, not a full rebuild.
   */
  def refreshStatsIndex(spark: SparkSession, path: String, prior: DataFrame,
                        cols: Seq[String]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = scala.collection.mutable.ArrayBuffer[String]()
    val it = f.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")) current += st.getPath.toString
    }
    val currentKeys = current.map(pathKey).toSet
    val priorFiles = prior.select("file").collect().map(_.getString(0))
    val priorKeys = priorFiles.map(pathKey).toSet
    val survivors = priorFiles.filter(p => currentKeys(pathKey(p)))
    val kept = prior.filter(col("file").isin(survivors.toSeq: _*))
    val newFiles = current.filter(p => !priorKeys(pathKey(p)))
    if (newFiles.isEmpty) kept
    else kept.unionByName(statsOf(
      spark.read.option("basePath", path).parquet(newFiles.toSeq: _*), cols))
  }

  /**
   * Range-predicate read through a [[statsIndex]]: keep only files
   * whose [min, max] interval intersects `[lo, hi]` (files that are all
   * null on the column can never match and are dropped), then scan just
   * those. The index read is manifest-scale (one row per file — driver
   * collect is bounded by file count, the same contract as every lake
   * format's planning phase); the data scan still carries the exact
   * predicate, so skipped files are PURE savings and kept files stay
   * row-group-pruned by their own footers. Returns the pruned frame
   * plus the (kept, total) file counts so callers/specs can assert the
   * skip actually happened.
   */
  def readPruned(spark: SparkSession, path: String, stats: DataFrame,
                 c: String, lo: Any, hi: Any): (DataFrame, Int, Int) = {
    // interval-intersection prune evaluated by Spark (typed literals —
    // no driver-side comparator per column type). ONE action over the
    // stats frame: `stats` is typically the lazy statsIndex result — a
    // full-lake aggregate — so a separate count() would pay that scan
    // twice. The keep bit is computed per row and the manifest-scale
    // (file, keep) pairs collect once.
    val flags = stats
      .select(col("file"),
        (col(s"min_$c").isNotNull && col(s"max_$c").isNotNull &&
          col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo)).as("keep"))
      .collect()
    val kept = flags.filter(_.getBoolean(1)).map(_.getString(0))
    val pruned =
      if (kept.isEmpty) read(spark, path).filter(lit(false))
      else spark.read.option("basePath", path).parquet(kept.toSeq: _*)
    (pruned.filter(col(c) >= lit(lo) && col(c) <= lit(hi)), kept.length, flags.length)
  }

  /**
   * Z-order (Morton) value over `buckets` per-dimension bucket ids in
   * [0, 2^bits): bit j of dimension i lands at position `j·d + i`, so
   * nearby (a, b, …) tuples get nearby z values along a space-filling
   * curve. A static Scala fold over bit positions — pure integer
   * shift/mask Column expressions, no UDF.
   */
  def zValue(buckets: Seq[org.apache.spark.sql.Column],
             bits: Int): org.apache.spark.sql.Column = {
    val d = buckets.size
    require(d >= 2, "z-order needs at least two dimensions")
    require(d * bits <= 62, s"$d dims x $bits bits overflows a long")
    (0 until bits).flatMap { j =>
      buckets.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * d + i)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Quantile-bucket a numeric column against precomputed interior cut
   * points: bucket = number of cuts ≤ x (nulls → bucket 0). A
   * binary-search codegen kernel ([[graft.expressions.QuantileBucket]])
   * — O(bits) compares per row at write time, where the aggregate-HOF
   * it replaced paid O(2^bits) interpreted lambda hops per row per
   * dimension. */
  private def quantileBucket(c: org.apache.spark.sql.Column,
                             cuts: Array[Double]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftBridge
    when(c.isNull, lit(0L)).otherwise(GraftBridge.column(
      graft.expressions.QuantileBucket(
        GraftBridge.expression(c.cast("double")), cuts)))
  }

  /**
   * TRUE multi-column clustering: rows sorted along a Z-order curve over
   * `zCols`, then RANGE-partitioned into `nFiles` files — each file
   * covers a contiguous z-range, so its min/max on EVERY z-dimension is
   * tight and a [[statsIndex]]/[[readPruned]] range predicate on ANY of
   * the dims skips files (Delta/Iceberg `OPTIMIZE ZORDER BY`). This is
   * what [[writeClustered]]'s single-sort-key layout cannot do: sorting
   * by `a` makes `b`'s per-file ranges span the whole domain, and a
   * filter on `b` keeps every file.
   *
   * Dimension values map to 2^bits quantile buckets via
   * `stat.approxQuantile` cut points (one sketch pass, driver gets
   * 2^bits doubles per dim — the same bounded planning action
   * repartitionByRange's range sampling performs; quantile cuts keep
   * the curve balanced under skew where uniform-width buckets collapse).
   * Default 2^6 buckets/dim: file-level pruning granularity is set by
   * file count (tens to thousands), so 64 buckets per dim (4096 cells)
   * already over-resolves it, and the bucketing HOF costs O(2^bits)
   * interpreted adds per row — 6 bits keeps the write pass cheap.
   */
  /**
   * Per-file BLOOM index — the point-lookup sibling of [[statsIndex]]'s
   * range zone maps (Delta's bloom filter index): one bloom filter of
   * the key column per data file, built distributed in ONE pass
   * (`input_file_name` groupBy over Spark's own BloomFilterAggregate —
   * the kernel behind its runtime join filters, bridged like
   * [[graft.operators.Skew.bloomJoin]]). Min/max stats cannot prune
   * equality lookups on high-cardinality keys that every file's range
   * covers; a bloom answers "key definitely absent" per file. Size
   * `numBits` for the per-file row count: FP rate only costs pruning
   * efficiency, never correctness.
   */
  def bloomIndex(spark: SparkSession, path: String, keyCol: String,
                 expectedItems: Long = 1000000L,
                 numBits: Long = 8L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bfAgg = GraftBridge.column(
      new BloomFilterAggregate(GraftBridge.expression(xxhash64(col(keyCol))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    read(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(bfAgg.as("bloom"))
  }

  /**
   * Equality-predicate read through a [[bloomIndex]]: probe each file's
   * bloom with the lookup key's xxhash64 (cast to the column's lake
   * type first — xxhash64(int) ≠ xxhash64(long)) and scan only files
   * that might contain it. The blooms are probed DISTRIBUTED — a
   * [[graft.expressions.BloomMightContainLong]] filter over the index
   * frame runs on executors, so the driver only ever receives the
   * per-file (name, keep) verdicts (~tens of bytes each), never the
   * megabyte bloom payloads: a million-file lake collects a file list,
   * not a terabyte of filters. Kept files still carry the exact
   * predicate, so a bloom false positive costs one file scan, never a
   * wrong row.
   */
  /**
   * The executor-side probe plan: one (file, keep) verdict row per index
   * entry, bloom payloads consumed where they live. Exposed so the spec
   * can assert the driver-bound schema carries NO binary column — the
   * scale contract readPointPruned relies on.
   */
  def bloomVerdicts(index: DataFrame, hashValue: Long): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val probe = GraftBridge.column(graft.expressions.BloomMightContainLong(
      GraftBridge.expression(col("bloom")), hashValue))
    index.select(col("file"), probe.as("keep"))
  }

  def readPointPruned(spark: SparkSession, path: String, index: DataFrame,
                      keyCol: String, value: Any): (DataFrame, Int, Int) = {
    val keyType = read(spark, path).schema(keyCol).dataType
    val h = spark.range(1)
      .select(xxhash64(lit(value).cast(keyType))).head().getLong(0)
    val rows = bloomVerdicts(index, h).collect()
    val kept = rows.filter(_.getBoolean(1)).map(_.getString(0))
    val pruned =
      if (kept.isEmpty) read(spark, path).filter(lit(false))
      else spark.read.option("basePath", path).parquet(kept.toSeq: _*)
    (pruned.filter(col(keyCol) === lit(value).cast(keyType)),
      kept.length, rows.length)
  }

  /**
   * Clustering-health profile over a [[statsIndex]] manifest — Delta's
   * "clustering depth" metric: for each column, the average and maximum
   * number of files whose [min, max] intervals overlap a point of the
   * domain, via a boundary sweep (+1 at each min, −1 past each max; at
   * equal boundaries opens sort first — closed intervals, matching
   * [[readPruned]]'s keep rule). Depth 1 = perfectly clustered (a point
   * predicate touches one file); depth ≈ n_files = that column's file
   * stats are useless. This is the metric that DECIDES when to run
   * [[writeZOrdered]]/[[compact]], and the spec uses it to QUANTIFY the
   * z-order claim instead of just asserting kept < total.
   *
   * The sweep's global window runs over 2·n_files manifest rows — the
   * same manifest-scale contract as readPruned's collect, never data
   * rows.
   */
  def clusteringProfile(stats: DataFrame, cols: Seq[String],
                        groupCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one constant pseudo-group keeps the grouped and global paths the
    // same plan; with a real groupCol the sweep windows partition by it
    // (per-partition-dir depth in ONE pass, no per-dir jobs)
    val g = groupCol.getOrElse("_g")
    cols.map { c =>
      val base = groupCol.map(_ => stats)
        .getOrElse(stats.withColumn(g, lit(0)))
        .filter(col(s"min_$c").isNotNull && col(s"max_$c").isNotNull)
      val ev = base
        .select(col(g), col(s"min_$c").cast("double").as("pos"), lit(1).as("d"))
        .unionAll(base
          .select(col(g), col(s"max_$c").cast("double").as("pos"), lit(-1).as("d")))
      val order = Window.partitionBy(col(g)).orderBy(col("pos").asc, col("d").desc)
      val swept = ev
        .withColumn("depth", sum("d").over(order.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("seg", lead("pos", 1).over(order) - col("pos"))
      swept.groupBy(col(g)).agg(
          max("depth").as("max_depth"),
          sum(when(col("depth") > 0, col("depth") * col("seg"))).as("_wd"),
          sum(when(col("depth") > 0, col("seg"))).as("_w"),
          sum(when(col("d") === 1, 1)).as("n_files"))
        .select(col(g) +: lit(c).as("col_name") +: col("n_files") +:
          col("max_depth") +:
          // all-point-mass intervals (zero total span) degenerate to the
          // max depth: every file overlaps the single point
          Seq(when(col("_w") > 0, col("_wd") / col("_w"))
            .otherwise(col("max_depth").cast("double")).as("avg_depth")): _*)
    }.reduce(_ unionAll _) match {
      case out => if (groupCol.isDefined) out else out.drop("_g")
    }
  }

  /**
   * The maintenance loop [[clusteringProfile]] exists to drive — Delta's
   * `OPTIMIZE` trigger: measure depth, re-cluster ONLY when the worst
   * column's average depth exceeds `maxAvgDepth`, report whether a
   * rewrite happened. Appends degrade clustering gradually (each new
   * file spans the domain); the threshold turns that into bounded
   * amortized rewrite cost instead of per-append reclustering.
   * Unpartitioned lakes (the [[writeZOrdered]] default layout); the
   * read is materialized before the overwrite (the [[compact]]
   * self-rewrite rule).
   */
  def maintainClustering(spark: SparkSession, path: String, zCols: Seq[String],
                         maxAvgDepth: Double = 4.0, nFiles: Int = 16,
                         bits: Int = 6): Boolean = {
    val profile = clusteringProfile(statsIndex(spark, path, zCols), zCols)
      .collect()
    val worst = profile.map(_.getAs[Double]("avg_depth")).max
    if (worst <= maxAvgDepth) false
    else {
      // staged-sibling write + rename swap, NOT a checkpoint-then-
      // self-overwrite: localCheckpoint blocks are executor-local, so on
      // a real cluster an executor loss mid-rewrite would force
      // recomputation from an already-overwritten source. Here the
      // source files stay untouched until the re-clustered copy is
      // fully on disk; a crash at any point leaves a recoverable state
      // (source intact, or source under the .__old sibling).
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
      val staged = new org.apache.hadoop.fs.Path(root.toString + ".__optimize")
      val old = new org.apache.hadoop.fs.Path(root.toString + ".__old")
      fs.delete(staged, true)
      writeZOrdered(read(spark, path), staged.toString, zCols, nFiles, bits)
      fs.delete(old, true)
      require(fs.rename(root, old), s"swap failed: $root -> $old")
      require(fs.rename(staged, root), s"swap failed: $staged -> $root")
      fs.delete(old, true)
      graft.SharedStage.invalidate(path)
      true
    }
  }

  /**
   * PARTITION-SCOPED clustering maintenance — the true Delta `OPTIMIZE`
   * shape for a y/m/d lake: per-partition-dir depth computed in ONE
   * grouped sweep over the stats manifest, then ONLY the dirs past
   * `maxAvgDepth` are re-read and re-clustered — dynamic partition
   * overwrite rewrites exactly those dirs (one write for all of them),
   * untouched partitions keep their files byte-for-byte. At 100 TB this
   * is the difference between "optimize the three days the stream
   * appended to" and "rewrite the lake". Returns the rewritten dirs.
   */
  def maintainClusteringPartitioned(spark: SparkSession, path: String,
                                    zCols: Seq[String],
                                    partitionCols: Seq[String],
                                    maxAvgDepth: Double = 4.0,
                                    nFiles: Int = 16,
                                    bits: Int = 6): Seq[String] = {
    require(partitionCols.nonEmpty,
      "use maintainClustering for unpartitioned lakes")
    val stats = statsIndex(spark, path, zCols)
      .withColumn("pdir", regexp_extract(col("file"), "^(.*)/[^/]+$", 1))
    val bad = clusteringProfile(stats, zCols, groupCol = Some("pdir"))
      .groupBy("pdir").agg(max("avg_depth").as("worst"))
      .filter(col("worst") > maxAvgDepth)
      .select("pdir").collect().map(_.getString(0)).toSeq.sorted
    if (bad.nonEmpty) {
      // staged-sibling write + per-dir rename swap (the
      // [[maintainClustering]] crash-safety rule): source partition dirs
      // stay untouched until their re-clustered copies are fully
      // written, then each dir swaps with two atomic renames. A crash
      // mid-loop leaves every dir individually consistent — old files
      // or new files, never a half-overwritten mix — where the previous
      // localCheckpoint-then-dynamic-overwrite could lose a dir to an
      // executor loss mid-rewrite.
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
      def rel(abs: String): String = {
        val qa = fs.makeQualified(new org.apache.hadoop.fs.Path(abs)).toString
        require(qa.startsWith(root.toString + "/"), s"$qa outside $root")
        qa.stripPrefix(root.toString + "/")
      }
      val staged = new org.apache.hadoop.fs.Path(root.toString + ".__optimize")
      fs.delete(staged, true)
      writeZOrdered(spark.read.option("basePath", path).parquet(bad: _*),
        staged.toString, zCols, nFiles, bits, partitionCols)
      bad.foreach { abs =>
        val d = rel(abs)
        val src = new org.apache.hadoop.fs.Path(staged, d)
        require(fs.exists(src), s"staged rewrite missing for $d")
        val dst = new org.apache.hadoop.fs.Path(root, d)
        // hidden sibling (leading dot) so a crash leftover never parses
        // as a partition value
        val old = new org.apache.hadoop.fs.Path(dst.getParent,
          s".__old_${dst.getName}")
        fs.delete(old, true)
        require(fs.rename(dst, old), s"swap failed: $dst -> $old")
        require(fs.rename(src, dst), s"swap failed: $src -> $dst")
        fs.delete(old, true)
      }
      fs.delete(staged, true)
      graft.SharedStage.invalidate(path)
    }
    bad
  }

  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    nFiles: Int = 16, bits: Int = 6,
                    partitionCols: Seq[String] = Nil): Unit = {
    require(zCols.size >= 2, "writeZOrdered needs at least two columns")
    val nCuts = (1 << bits) - 1
    val probs = (1 to nCuts).map(_.toDouble / (nCuts + 1)).toArray
    val cast = df.select(zCols.map(c => col(c).cast("double").as(c)): _*)
    val buckets = zCols.map { c =>
      val cuts = cast.stat.approxQuantile(c, probs, 0.01).distinct
      quantileBucket(col(c), cuts)
    }
    // partitioned layout (Delta's OPTIMIZE ZORDER model — the curve runs
    // WITHIN each partition dir): range-partitioning on (partitionCols,
    // z) still hands each task a contiguous z-range of ONE partition
    // (lexicographic ranges), so per-dir files keep tight per-dim stats;
    // dynamic overwrite lets a partition subset re-cluster in place
    val rangeKeys = partitionCols.map(col) :+ col("_z")
    val arranged = df.withColumn("_z", zValue(buckets, bits))
      .repartitionByRange(nFiles, rangeKeys: _*)
      .sortWithinPartitions(rangeKeys: _*)
      .drop("_z")
    if (partitionCols.isEmpty)
      landing(arranged).mode("overwrite").save(path)
    else
      landing(arranged)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy(partitionCols: _*)
        .save(path)
    graft.SharedStage.invalidate(path)
  }
}
