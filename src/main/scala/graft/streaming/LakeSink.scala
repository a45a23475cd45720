package graft.streaming

import graft.sources.LakeWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming → lake sink: lands each micro-batch into the y/m/d-
 * partitioned lake via dynamic partition overwrite
 * (`foreachBatch` + [[graft.sources.LakeWriter.writePartitioned]]).
 *
 * Dynamic overwrite per batch makes replay IDEMPOTENT: re-processing a
 * batch (checkpoint recovery, backfill) rewrites exactly the partitions
 * it touches instead of appending duplicates — the streaming version of
 * the reference's incremental-window overwrite
 * (reference: pipelines/raw_to_staging.py:124-133).
 *
 * Caveat inherited from that semantics: a batch must carry a partition's
 * COMPLETE new content; use watermark-closed aggregations (e.g.
 * [[SessionStream]] output) or day-aligned triggers upstream.
 */
object LakeSink {

  def start(df: DataFrame, path: String, checkpointDir: String,
            partitionCols: Seq[String] = LakeWriter.DefaultPartitionCols,
            keyCol: Option[String] = None): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        LakeWriter.writePartitioned(batch, path, partitionCols, keyCol)
      }
      .start()

  /**
   * APPEND-mode streaming → lake sink — the Delta-shaped "append now,
   * optimize later" feed: each micro-batch's rows append as new files
   * in their partition dirs (no per-batch partition rewrite, so a batch
   * need NOT carry a partition's complete content — raw point feeds
   * qualify, where [[start]]'s dynamic-overwrite contract wants
   * watermark-closed aggregates). The cost is layout decay: every
   * batch adds small, unclustered files, and the operational loop pairs
   * this sink with [[graft.sources.LakeWriter.refreshStatsIndex]] +
   * [[graft.sources.LakeWriter.maintainClusteringPartitioned]] so depth
   * triggers a partition-scoped rewrite of exactly the appended days
   * (MaintenanceLoopSpec proves the loop end to end).
   */
  def startAppend(df: DataFrame, path: String, checkpointDir: String,
                  partitionCols: Seq[String] = LakeWriter.DefaultPartitionCols)
      : StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        LakeWriter.landing(batch).mode("append")
          .partitionBy(partitionCols: _*)
          .save(path)
        graft.SharedStage.invalidate(path)
      }
      .start()

  /**
   * IDEMPOTENT append sink — what Delta gets from txn-versioned appends,
   * on plain parquet: each batch lands under an extra trailing
   * `_ingest_batch=<batchId>` partition dir, and the write is a DYNAMIC
   * OVERWRITE — so a checkpoint-replayed batch REWRITES exactly its own
   * (day, batch) dirs instead of appending duplicates ([[startAppend]]'s
   * failure mode on recovery). Readers `drop("_ingest_batch")` (it reads
   * as just another partition column); the maintenance loop's
   * partition-scoped re-cluster folds the per-batch dirs away when depth
   * triggers.
   */
  def startAppendIdempotent(df: DataFrame, path: String, checkpointDir: String,
                            partitionCols: Seq[String] = LakeWriter.DefaultPartitionCols)
      : StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, batchId, path, partitionCols)
      }
      .start()

  /** One idempotent-append micro-batch (factored for replay tests). */
  def appendBatch(batch: DataFrame, batchId: Long, path: String,
                  partitionCols: Seq[String]): Unit = {
    LakeWriter.landing(
        batch.withColumn("_ingest_batch", org.apache.spark.sql.functions.lit(batchId)))
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy((partitionCols :+ "_ingest_batch"): _*)
      .save(path)
    graft.SharedStage.invalidate(path)
  }

  /**
   * Streaming EXPECTATIONS sink — the DLT pattern over
   * [[graft.operators.Quality.expectationsSplit]]: per micro-batch,
   * rows failing any CHECK route to a quarantine lake WITH their
   * per-row violation reasons, clean rows land schema-intact; both
   * sides use the idempotent per-batch append, so checkpoint replay
   * rewrites rather than duplicates and the clean lake is a pure
   * function of delivered batches. The split is map-only — the only
   * added cost over a plain append is evaluating the row-local checks.
   */
  def startWithExpectations(df: DataFrame, path: String, quarantinePath: String,
                            checkpointDir: String,
                            checks: Seq[(String, org.apache.spark.sql.Column)],
                            partitionCols: Seq[String] = LakeWriter.DefaultPartitionCols)
      : StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        expectationsBatch(batch, batchId, path, quarantinePath, checks,
          partitionCols)
      }
      .start()

  /** One expectations micro-batch (factored for replay tests). */
  def expectationsBatch(batch: DataFrame, batchId: Long, path: String,
                        quarantinePath: String,
                        checks: Seq[(String, org.apache.spark.sql.Column)],
                        partitionCols: Seq[String]): Unit = {
    val (clean, quarantined) =
      graft.operators.Quality.expectationsSplit(batch, checks)
    appendBatch(clean, batchId, path, partitionCols)
    appendBatch(
      quarantined.withColumn("_violations",
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.col("_violations"), ",")),
      batchId, quarantinePath, partitionCols)
  }
}
