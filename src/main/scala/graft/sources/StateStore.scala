package graft.sources

import graft.operators.StateOps
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Keyed-upsert state maintenance on plain parquet — the MERGE-INTO
 * equivalent the incremental pipeline lands its daily deltas with
 * (reference: utils/voyage_state_io.py:10-35 dated state round-trip +
 * fact_voyage_summary.py:105 _merge_state; the snapshot/marker scheme is
 * the public Delta/Iceberg idea re-expressed without a table format).
 *
 * Layout: `root/v=<version>/bucket=<b>/part-*.parquet` with an empty
 * `_COMMITTED` marker per version. Three properties, each load-bearing:
 *
 *  - **Idempotence** comes from the DATED round-trip: version D is
 *    always recomputed as merge(state@<D, deltas@D), so re-running a
 *    delta window rebuilds the same snapshot instead of double-adding
 *    deltas into a live table.
 *  - **Crash safety** comes from the marker: a writer that dies mid-job
 *    leaves an uncommitted `v=D` that every reader (and the next merge)
 *    ignores and the next attempt deletes. Prior committed state is
 *    never touched by a merge — only a new version dir is.
 *  - **Touched-only writes** come from key-hash bucketing: a merge
 *    rewrites ONLY the buckets containing delta keys (the per-bucket
 *    read prunes to those same directories), so a day that touches 1%
 *    of keys costs ~1% of the state in IO, not a full rewrite. Readers
 *    resolve each bucket to its newest committed version.
 */
object StateStore {

  val CommitMarker = "_COMMITTED"
  val MetaFile = "_GRAFT_STATE_META"
  val DefaultBuckets = 64

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's bucket count is a LAYOUT property: mixing bucket counts
   * across versions silently mis-prunes merges (a key's prior row lives
   * in a directory the new modulus never looks at) and duplicates keys
   * on read. It is therefore pinned in a root metadata file on first
   * write; later writers must not contradict it. */
  private def pinnedBuckets(spark: SparkSession, root: String,
                            requested: Int): Int = {
    val f = fs(spark, root)
    val metaPath = new Path(root, MetaFile)
    if (f.exists(metaPath)) {
      val in = f.open(metaPath)
      val stored =
        try new String(in.readAllBytes(), "UTF-8").trim.toInt
        finally in.close()
      require(stored == requested,
        s"state store at $root was built with nBuckets=$stored; " +
          s"got nBuckets=$requested — a mixed layout corrupts merges")
      stored
    } else {
      val out = f.create(metaPath)
      try out.write(s"$requested\n".getBytes("UTF-8")) finally out.close()
      requested
    }
  }

  /** Committed versions, ascending. Driver-side listing is O(#versions)
   * — metadata, not data. */
  def committedVersions(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Seq.empty
    else f.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v="))
      .filter(v => f.exists(new Path(rootPath, s"v=$v/$CommitMarker")))
      .sorted.toSeq
  }

  /** For each bucket, the newest committed version (< `before` if given)
   * that wrote it → that bucket directory. */
  private def latestBucketDirs(spark: SparkSession, root: String,
                               before: Option[String]): Seq[Path] = {
    val f = fs(spark, root)
    val versions = committedVersions(spark, root)
      .filter(v => before.forall(v < _))
    val latest = scala.collection.mutable.LinkedHashMap[String, Path]()
    versions.foreach { v => // ascending, so later versions overwrite
      f.listStatus(new Path(root, s"v=$v")).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith("bucket="))
        .foreach(p => latest(p.getName) = p)
    }
    latest.values.toSeq
  }

  /** Current state with the `bucket` column retained.
   *
   * ONE multi-path read over the resolved leaf directories — partition
   * DISCOVERY never sees the `bucket=` segments (they are part of the
   * given paths themselves), so the session-global type-inference
   * toggle (and its brief exposure to concurrent non-StateStore
   * queries) is gone entirely; the bucket number is re-derived from
   * `input_file_name`, a path WE wrote. Touched-only consumers pass
   * `onlyBuckets` and the pruning happens in the DIRECTORY LIST before
   * the scan is even planned — strictly stronger than partition
   * pruning. (A per-directory `spark.read` union was tried first: each
   * call pays its own driver-side listing + footer job, which turned a
   * 256-bucket merge's read into ~40 s of serial driver work.) */
  private def readWithBucket(spark: SparkSession, root: String,
                             before: Option[String],
                             onlyBuckets: Option[Seq[Int]] = None): Option[DataFrame] = {
    val f = fs(spark, root)
    val wanted = onlyBuckets.map(_.map(b => s"bucket=$b").toSet)
    // a rewrite can leave a bucket with ZERO rows (every key deleted) —
    // its dir has no data files and can't self-describe a schema; an
    // empty bucket contributes no rows either way, so skip it
    val dirs = latestBucketDirs(spark, root, before)
      .filter(p => wanted.forall(_.contains(p.getName)))
      .filter(p => f.listStatus(p).exists(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")))
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs.map(_.toString): _*)
      .withColumn("bucket",
        regexp_extract(input_file_name(), "bucket=(\\d+)", 1).cast("int")))
  }

  /** Current committed state (strictly before `before` if given);
   * None when the store is empty. */
  def read(spark: SparkSession, root: String,
           before: Option[String] = None): Option[DataFrame] =
    readWithBucket(spark, root, before).map(_.drop("bucket"))

  /**
   * Catalog registration with snapshot isolation — the plain-parquet
   * stand-in for `VERSION AS OF` time travel: `<table>` serves the
   * CURRENT committed state and `<table>_v_<version>` serves each dated
   * snapshot (the state as of that version, inclusive). Each view's
   * bucket-directory list is resolved EAGERLY here, so a merge committed
   * after registration cannot bleed into an already-registered view —
   * re-register to see it (the same registration-wins contract as
   * [[graft.Tables.register]]). Views are session-scoped (the store is
   * a directory, not a metastore location, so external-table DDL can't
   * express the multi-version dir layering).
   */
  def register(spark: SparkSession, root: String, table: String): Unit = {
    val versions = committedVersions(spark, root)
    versions.zipWithIndex.foreach { case (v, i) =>
      // "as of v" INCLUSIVE = everything strictly before v's successor
      val bound = if (i + 1 < versions.length) Some(versions(i + 1)) else None
      read(spark, root, bound).foreach(_.createOrReplaceTempView(
        s"${table}_v_${v.replaceAll("[^A-Za-z0-9]", "_")}"))
    }
    read(spark, root).foreach(_.createOrReplaceTempView(table))
  }

  /** The store's data schema (no bucket column), read from the parquet
   * footers of ONE existing non-empty bucket dir — independent of any
   * touched-bucket pruning, so drift checks can't be bypassed by a
   * delta whose keys all hash to buckets the store doesn't hold yet.
   * None only when the whole store is empty. One-dir footer read:
   * driver metadata cost, not a data scan. */
  private def storedDataSchema(spark: SparkSession, root: String,
                               before: Option[String]): Option[org.apache.spark.sql.types.StructType] = {
    val f = fs(spark, root)
    latestBucketDirs(spark, root, before)
      .find(p => f.listStatus(p).exists(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")))
      .map(p => spark.read.parquet(p.toString).schema)
  }

  private def bucketOf(keys: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int")

  /** Land `state` as `target`'s `bucket=` dirs, one file per bucket, in
   * the lake's file format ([[LakeWriter.landing]]). */
  private def landBuckets(state: DataFrame, keys: Seq[String], nBuckets: Int,
                          target: Path): Unit =
    LakeWriter.landing(state.withColumn("bucket", bucketOf(keys, nBuckets))
        .repartition(col("bucket")))
      .partitionBy("bucket").mode("overwrite").save(target.toString)

  /**
   * MERGE `deltas` (one pre-aggregated row per key) into the store as
   * snapshot `version`: sums add, spans extend — [[StateOps.mergeDeltas]]
   * semantics — landed idempotently. Only buckets containing delta keys
   * are read from the previous state and written to the new version.
   *
   * A version that already COMMITTED is left untouched and the merge
   * returns: the dated round-trip means re-running the same window
   * produces identical content, so the rebuild would be a no-op — and
   * deleting a committed snapshot to rebuild it would open a crash
   * window in which the only copy of that state is gone. Recomputing a
   * committed window with CHANGED deltas is an explicit maintenance
   * action: pass `overwriteCommitted = true` (and don't run vacuum or
   * readers that need that version concurrently).
   */
  def merge(spark: SparkSession, root: String, version: String,
            deltas: DataFrame, keys: Seq[String], sumCols: Seq[String],
            minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
            nBuckets: Int = DefaultBuckets,
            overwriteCommitted: Boolean = false,
            replaceCols: Seq[String] = Nil,
            unionCols: Seq[(String, (org.apache.spark.sql.Column,
              org.apache.spark.sql.Column) =>
              org.apache.spark.sql.Column)] = Nil): Unit = {
    require(!version.contains("/") && version.nonEmpty, s"bad version: $version")
    val f = fs(spark, root)
    val target = new Path(root, s"v=$version")
    val committed = f.exists(new Path(target, CommitMarker))
    if (committed && !overwriteCommitted) return // idempotent re-run: done
    val buckets = pinnedBuckets(spark, root, nBuckets)
    // a pre-existing UNCOMMITTED target is a crashed attempt (invisible
    // to readers) — rebuild from scratch so stale buckets can't linger
    if (f.exists(target)) f.delete(target, true)

    // ONE materialization of the delta plan feeds both the touched-bucket
    // probe and the merged write: an unpersisted frame would be evaluated
    // twice, and a non-deterministic delta pipeline (sample/rand, or a
    // source recomputed between passes) could land rows in buckets absent
    // from `touched` — buckets whose prior state was never read, so the
    // new version's dir would SHADOW the old one and silently drop keys.
    // schema-drift contract: a delta frame whose column set/types differ
    // from the stored state would otherwise be written as a mixed-schema
    // snapshot that later reads resolve inconsistently. Checked against
    // the STORE's schema (one-dir footer probe), not the touched-bucket
    // read: a delta whose keys all hash to buckets not yet present would
    // make that read return None and skip the check entirely.
    storedDataSchema(spark, root, before = Some(version)).foreach { st =>
      // nullability is NOT drift: parquet round-trips nested fields as
      // optional, so a non-null struct field written once comes back
      // nullable — only names and value types are contract
      val stored = st.map(fld => fld.name -> fld.dataType.catalogString).sortBy(_._1)
      val incoming = deltas.schema
        .map(fld => fld.name -> fld.dataType.catalogString).sortBy(_._1)
      require(stored == incoming,
        s"schema drift: store at $root holds ${stored.mkString(", ")} " +
          s"but the delta frame carries ${incoming.mkString(", ")} — " +
          "migrate the store explicitly instead of merging drifted deltas")
    }
    val d = deltas.withColumn("bucket", bucketOf(keys, buckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // touched bucket ids: bounded by nBuckets, safe to collect
      val touched = d.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
      val pinnedDeltas = d.drop("bucket")
      // touched-only read: the bucket dirs are pruned from the path list
      // itself, so untouched bytes are never even listed into the scan
      val prevTouched = readWithBucket(spark, root, before = Some(version),
          onlyBuckets = Some(touched))
        .map(_.drop("bucket"))
      val merged = prevTouched match {
        case Some(s) =>
          StateOps.mergeDeltas(s, pinnedDeltas, keys, sumCols, minCols,
            maxCols, replaceCols, unionCols)
        case None =>
          // empty prior: the merge of nothing with deltas normalizes the
          // column set/order exactly like the joined path
          StateOps.mergeDeltas(pinnedDeltas.limit(0), pinnedDeltas,
            keys, sumCols, minCols, maxCols, replaceCols, unionCols)
      }
      landBuckets(merged, keys, buckets, target)
      // marker LAST: commit is the atomic visibility point
      f.create(new Path(target, CommitMarker)).close()
      // drop any SharedStage frames computed from this store: the new
      // version changes what a fresh read returns
      graft.SharedStage.invalidate(root)
    } finally d.unpersist(false)
  }

  /**
   * Targeted key deletion — the right-to-be-forgotten path: write a new
   * version in which the buckets containing `delKeys` are rewritten
   * WITHOUT those keys. Same touched-buckets-only IO as [[merge]]: a
   * deletion of 10 entities rewrites the few bucket dirs they hash to,
   * not the store.
   *
   * Visibility vs physicality: readers at or after `version` no longer
   * see the keys, but OLDER versions still hold the bytes (that is what
   * makes the write crash-safe). To physically destroy them, follow with
   * [[compactSnapshot]] + [[vacuum]] — after that no surviving file
   * contains the deleted rows.
   */
  def deleteKeys(spark: SparkSession, root: String, version: String,
                 delKeys: DataFrame, keyCols: Seq[String],
                 nBuckets: Int = DefaultBuckets): Unit = {
    require(!version.contains("/") && version.nonEmpty, s"bad version: $version")
    val f = fs(spark, root)
    val target = new Path(root, s"v=$version")
    require(!f.exists(new Path(target, CommitMarker)),
      s"deleteKeys target v=$version is already committed; pick a new version")
    val buckets = pinnedBuckets(spark, root, nBuckets)
    if (f.exists(target)) f.delete(target, true)
    // one materialization for probe + anti-join (same hazard as merge)
    val d = delKeys.select(keyCols.map(col): _*).distinct()
      .withColumn("bucket", bucketOf(keyCols, buckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = d.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
      if (touched.isEmpty) return
      readWithBucket(spark, root, before = Some(version),
          onlyBuckets = Some(touched)).foreach { prev =>
        val kept = prev.drop("bucket")
          .join(d.drop("bucket"), keyCols, "left_anti")
        landBuckets(kept, keyCols, buckets, target)
        // an all-keys-deleted bucket writes no dir; land an empty marker
        // dir so the version still SHADOWS the old bucket on read
        touched.foreach { b =>
          val bd = new Path(target, s"bucket=$b")
          if (!f.exists(bd)) f.mkdirs(bd)
        }
        f.create(new Path(target, CommitMarker)).close()
        graft.SharedStage.invalidate(root)
      }
    } finally d.unpersist(false)
  }

  /**
   * Full-snapshot compaction: materialize the entire current state into
   * one version so reads resolve every bucket to a single directory and
   * older versions become vacuumable. Run on the cadence reads degrade
   * (many layered versions → many listed dirs), like the reference's
   * monthly rebuild.
   */
  def compactSnapshot(spark: SparkSession, root: String, version: String,
                      keys: Seq[String],
                      nBuckets: Int = DefaultBuckets): Unit = {
    val f = fs(spark, root)
    val target = new Path(root, s"v=$version")
    // same committed-dir protection as merge: compaction targets a FRESH
    // version name; never destroy the only copy of a committed snapshot
    require(!f.exists(new Path(target, CommitMarker)),
      s"compactSnapshot target v=$version is already committed; pick a new version")
    val buckets = pinnedBuckets(spark, root, nBuckets)
    if (f.exists(target)) f.delete(target, true)
    val state = read(spark, root, before = Some(version)).getOrElse(
      sys.error(s"compactSnapshot: empty store at $root"))
    // self-read-then-overwrite trap: the target is a NEW dir, so the
    // lazy plan never scans files it is replacing — no checkpoint needed
    landBuckets(state, keys, buckets, target)
    f.create(new Path(target, CommitMarker)).close()
  }

  /** Delete uncommitted leftovers and committed versions fully shadowed
   * by `asOf` (every bucket they wrote has a newer copy ≤ `asOf`).
   *
   * Concurrency contract: vacuum is a MAINTENANCE operation — do not run
   * it while a writer is backfilling a window ≤ `asOf` (an in-flight
   * uncommitted dir there is indistinguishable from crashed garbage).
   * Normal forward-moving writers are safe: their in-flight version is
   * newer than the newest committed one, which vacuum never touches. */
  def vacuum(spark: SparkSession, root: String, asOf: String): Unit = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return
    val committedSeq = committedVersions(spark, root)
    val committed = committedSeq.toSet
    val newestCommitted = committedSeq.lastOption.getOrElse("")
    val newestFor = scala.collection.mutable.Map[String, String]()
    committed.toSeq.sorted.filter(_ <= asOf).foreach { v =>
      f.listStatus(new Path(root, s"v=$v")).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("bucket="))
        .foreach(b => newestFor(b) = v)
    }
    f.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("v=")).foreach { p =>
        val v = p.getName.stripPrefix("v=")
        // reap uncommitted garbage only when it is BOTH within asOf and
        // older than the newest committed version: a forward-moving
        // writer's in-flight dir (always the newest) is never touched
        val uncommitted = !committed.contains(v) && v <= asOf && v < newestCommitted
        val shadowed = v <= asOf && committed.contains(v) &&
          f.listStatus(p).filter(_.isDirectory)
            .map(_.getPath.getName).filter(_.startsWith("bucket="))
            .forall(b => newestFor.get(b).exists(_ > v))
        if (uncommitted || shadowed) f.delete(p, true)
      }
  }

  /**
   * Row-level change feed between two snapshot reads — the CHANGE DATA
   * FEED every table format exposes (Delta CDF / Iceberg changelog),
   * derived here from the store's dated snapshots: a full-outer key
   * join of the two states classifies every key as `insert` / `delete`
   * / `update_preimage`+`update_postimage` (both images, Delta's CDF
   * shape — downstream MERGE consumers need the pre-image to retract).
   * Unchanged keys emit nothing.
   *
   * `fromBefore` / `toBefore` are EXCLUSIVE version bounds with exactly
   * [[read]]'s `before` contract (None = current): callers pass the
   * same strings they'd pass to read. ONE join pays the scan; each row
   * fans out through a change-struct array + explode, so no branch
   * recomputes the join. At scale both sides shuffle once on the key —
   * the tableDiff contract at row granularity instead of counts.
   */
  def changesBetween(spark: SparkSession, root: String, keys: Seq[String],
                     fromBefore: Option[String],
                     toBefore: Option[String] = None): DataFrame = {
    val oldSt = read(spark, root, fromBefore)
      .getOrElse(spark.emptyDataFrame)
    val newSt = read(spark, root, toBefore)
      .getOrElse(spark.emptyDataFrame)
    require(oldSt.columns.nonEmpty || newSt.columns.nonEmpty,
      s"changesBetween on an empty store: $root")
    diffStates(oldSt, newSt, keys)
  }

  /**
   * The CDF derivation on two arbitrary keyed frames — the engine under
   * [[changesBetween]] (which binds it to the store's dated snapshots),
   * public so a feed can be derived between any two versions of a keyed
   * dataset (e.g. two in-plan constructions, or frames from another
   * table format). Both sides are aliased before the join, so shared
   * lineage never degenerates into a trivially-true self-compare.
   */
  def diffStates(oldSt: DataFrame, newSt: DataFrame,
                 keys: Seq[String]): DataFrame = {
    val schema = if (newSt.columns.nonEmpty) newSt else oldSt
    val dataCols = schema.columns.filterNot(keys.contains).toSeq
    def normalized(df: DataFrame): DataFrame =
      if (df.columns.nonEmpty) df
      else schema.limit(0)
    val l = normalized(oldSt).alias("l")
    val r = normalized(newSt).alias("r")
    val joined = l.join(r,
      keys.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _),
      "full_outer")
    val lKey = col(s"l.${keys.head}")
    val rKey = col(s"r.${keys.head}")
    val same = dataCols.map(c => col(s"l.$c") <=> col(s"r.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    def image(side: String, tpe: String) = struct(
      lit(tpe).as("change_type") +:
        keys.map(k => col(s"$side.$k").as(k)) ++:
        dataCols.map(c => col(s"$side.$c").as(c)): _*)
    val changes =
      when(lKey.isNull, array(image("r", "insert")))
        .when(rKey.isNull, array(image("l", "delete")))
        // typed empty array without naming the struct type: a 1-element
        // array sliced to length 0
        .when(same, slice(array(image("r", "noop")), 1, 0))
        .otherwise(array(image("l", "update_preimage"),
          image("r", "update_postimage")))
    joined.select(explode(changes).as("c")).select(col("c.*"))
  }

  /**
   * The CDF CONSUMER half: apply a [[changesBetween]] feed to a base
   * snapshot and get the target snapshot — deletes and pre-images
   * retract (anti-join), inserts and post-images land (union). This is
   * the contract that makes a change feed USEFUL (a downstream mirror
   * applies the feed instead of re-copying the table); the spec asserts
   * the round trip `applyChanges(state@v1, changes(v1→v2)) ≡ state@v2`
   * exactly, which pins both producer and consumer semantics at once.
   */
  def applyChanges(base: DataFrame, feed: DataFrame,
                   keys: Seq[String]): DataFrame = {
    val dataCols = base.columns.toSeq
    val retract = feed
      .filter(col("change_type").isin("delete", "update_preimage"))
      .select(keys.map(col): _*)
    val land = feed
      .filter(col("change_type").isin("insert", "update_postimage"))
      .select(dataCols.map(col): _*)
    base.join(retract, keys, "left_anti").unionByName(land)
  }
}
