package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.util.DynamicVariable

/**
 * Scoped persistence for operators whose plans fan out (one intermediate
 * frame feeding several joins — e.g. the shingle sets in
 * [[operators.Dedup.minhashLsh]]).
 *
 * A lazy `DataFrame` API cannot unpersist inside the operator (the cache
 * is still needed when the caller finally runs an action), so graft
 * operators register their persists against the *dynamically enclosing*
 * scope instead: drivers wrap each query's action in
 * `CacheScope.scoped { ... }` and every intermediate cached inside is
 * released when the action completes. With no enclosing scope the frame
 * is persisted unmanaged (old `.cache()` behavior).
 *
 * MEMORY_AND_DISK (not MEMORY_ONLY): at 100 TB an intermediate that
 * outgrows executor memory must spill, not silently recompute.
 */
object CacheScope {

  /** Release actions of the frames cached inside the innermost scope. */
  private val current: DynamicVariable[Option[scala.collection.mutable.ArrayBuffer[() => Unit]]] =
    new DynamicVariable(None)

  /** Persist `df`, registering it for release at the end of the enclosing
   * [[scoped]] block (if any). A frame that is ALREADY persisted (e.g. a
   * [[SharedStage]] materialization passed into an operator that defends
   * its own fan-out) is returned untouched: re-registering it here would
   * hand its lifecycle to this scope and unpersist the owner's cache at
   * scope exit. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      current.value.foreach(_ += (() => df.unpersist(false)))
    }
    df
  }

  /**
   * Compute-once point for a pipeline whose outputs share a prefix: every
   * frame derived from the returned one reads the SAME rows, computed by
   * the first action that needs them into MEMORY_AND_DISK blocks, so a
   * fan-out of N landing writes runs the prefix (its scan, its shuffles)
   * once, not N times, and a nondeterministic prefix (`dropDuplicates`
   * keeping an arbitrary row per key) gives every output the same pick.
   *
   * Unlike [[persist]] this is not a CacheManager entry: no other query is
   * ever served these rows because its plan happens to be equal (a second
   * read of the same input path recomputes). The frame stays lazy —
   * building it submits no job — and keeps its lineage, so a lost block
   * is recomputed, not a failed job. The blocks are released when the
   * enclosing [[scoped]] block exits; with no scope, Spark's
   * ContextCleaner releases them once the derived frames are unreachable.
   * A frame that is already persisted is returned untouched.
   */
  def once(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val (shared, release) =
        org.apache.spark.sql.GraftBridge.computeOnce(df, StorageLevel.MEMORY_AND_DISK)
      current.value.foreach(_ += release)
      shared
    }

  /** Run `body` (typically: build a query plan and run its action), then
   * release every frame cached inside it by [[persist]] or [[once]]. */
  def scoped[T](body: => T): T = {
    val releases = scala.collection.mutable.ArrayBuffer[() => Unit]()
    try current.withValue(Some(releases))(body)
    finally releases.foreach(_())
  }
}

/**
 * Session-lifetime memoization for expensive intermediates SHARED BETWEEN
 * QUERIES — the counterpart to [[CacheScope]], whose caches die with each
 * query's action. The canonical user: the near-dup pair join
 * ([[operators.Dedup.ngramJaccard]]) feeds four downstream queries
 * (cluster / canonical survivor / profile / leak-free split); at 100 TB a
 * pipeline materializes pairs and cluster labels ONCE and every consumer
 * reads the materialization. This models that stage boundary in-session:
 * the first consumer computes and persists, the rest reuse.
 *
 * Keys embed the input dir and every parameter, so distinct corpora or
 * thresholds can never alias. Frames persist OUTSIDE any enclosing
 * [[CacheScope.scoped]] block by design — release is explicit via
 * [[clear]] (drivers call it between workload phases).
 *
 * STALENESS: each entry is versioned by a filesystem snapshot signature
 * of its input dir (every file's path + length + mtime). A [[get]] whose
 * dir has been rewritten since the entry was cached — graft's own
 * [[graft.sources.LakeWriter]] overwrite or
 * [[graft.sources.StateStore]] merge can re-land a table a long-lived
 * session already read — recomputes instead of serving stale rows;
 * parquet rewrites always mint fresh part-file names, so any re-land
 * flips the signature. Writers additionally call [[invalidate]] for
 * prompt release of the superseded cache. Entries bound to a stopped
 * SparkSession are likewise recomputed, never returned.
 *
 * Concurrency: only MAP access is locked — the O(files) recursive
 * listing and plan construction run outside it, so cache hits on one
 * key never convoy behind another key's (possibly object-store-slow)
 * listing. Two concurrent FIRST readers of one key may both construct
 * the plan; the loser's frame is unpersisted and the winner's kept
 * (plans are cheap, the materialization stays lazy, and at most one
 * entry survives). A re-land racing between signature() and compute
 * caches FRESH data under the pre-land signature — the safe direction:
 * the next get sees a signature mismatch and recomputes, a spurious
 * recompute but never stale rows.
 */
object SharedStage {
  private final case class Entry(sig: String, df: DataFrame)
  private val frames =
    scala.collection.mutable.HashMap[(String, String), Entry]()

  /** Snapshot signature of `dir`: order-insensitive hash over every
   * file's (path, length, mtime) from one recursive listing — O(files)
   * like any scan planning, no data read. */
  private def signature(dir: String): String = {
    import org.apache.hadoop.fs.Path
    val spark = SparkSession.active
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) "absent"
    else {
      // commutative combine (sum + xor of per-file hashes): listing
      // order is filesystem-dependent; per-file inputs are distinct
      // (paths are unique) so cancellation can't occur
      var sum = 0L
      var xor = 0L
      // listStatus, not listFiles: listFiles' LocatedFileStatus loads
      // permissions, which the local filesystem without Hadoop native IO
      // does by forking `ls -ld` per file; only path, length and mtime
      // are read here
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { f =>
        if (f.isDirectory) walk(f.getPath)
        else {
          val h = scala.util.hashing.MurmurHash3.stringHash(
            s"${f.getPath}#${f.getLen}#${f.getModificationTime}").toLong
          sum += h; xor ^= h
        }
      }
      walk(p)
      s"${java.lang.Long.toHexString(sum)}:${java.lang.Long.toHexString(xor)}"
    }
  }

  private def dead(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.isStopped

  /** Public snapshot signature of `dir` — for callers that memoize
   * SEVERAL keys under one snapshot (e.g. the three IVFADC index
   * frames): compute it once and pass it to every [[getPinned]], so a
   * frame cached under an OLD snapshot is never served next to one
   * rebuilt from the new snapshot. Pinning does not serialize the
   * computes themselves: a dir rewrite landing between two UNCACHED
   * computes still stores frames read from different snapshots under
   * the one pinned signature. */
  def snapshotSig(dir: String): String = signature(dir)

  /** Memoized compute-and-persist of `key` for input `dir`, valid only
   * while `dir`'s file snapshot is unchanged and the owning session is
   * alive. */
  def get(dir: String, key: String)(compute: => DataFrame): DataFrame =
    getPinned(dir, key, signature(dir))(compute)

  /** [[get]] with the snapshot signature supplied by the caller (see
   * [[snapshotSig]]). */
  def getPinned(dir: String, key: String, sig: String)
               (compute: => DataFrame): DataFrame = {
    val k = (dir, key)
    synchronized {
      frames.get(k) match {
        case Some(e) if e.sig == sig && !dead(e.df) => return e.df
        case _ => ()
      }
    }
    val df = compute
    df.persist(StorageLevel.MEMORY_AND_DISK)
    synchronized {
      frames.get(k) match {
        case Some(e) if e.sig == sig && !dead(e.df) =>
          // a concurrent first reader won the race: keep theirs
          scala.util.Try(df.unpersist(false))
          e.df
        case stale =>
          stale.foreach(e =>
            if (!dead(e.df)) scala.util.Try(e.df.unpersist(false)))
          frames(k) = Entry(sig, df)
          df
      }
    }
  }

  /** Unpersist and forget every entry whose input dir contains — or is
   * contained by — `path`: writers call this after landing data so the
   * next read recomputes immediately instead of waiting for the
   * signature check to notice. */
  def invalidate(path: String): Unit = synchronized {
    def norm(s: String) = s.stripSuffix("/") + "/"
    val doomed = frames.keys.filter { case (dir, _) =>
      norm(dir).startsWith(norm(path)) || norm(path).startsWith(norm(dir))
    }.toSeq
    doomed.foreach { k =>
      frames.remove(k).foreach(e =>
        if (!dead(e.df)) scala.util.Try(e.df.unpersist(false)))
    }
  }

  /** Unpersist and forget every shared frame. */
  def clear(): Unit = synchronized {
    frames.values.foreach(e =>
      if (!dead(e.df)) scala.util.Try(e.df.unpersist(false)))
    frames.clear()
  }
}
