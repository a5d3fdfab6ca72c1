package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.LakeFormat

/** The streaming end of the lakehouse: a CDC envelope stream applied to a
  * [[graft.sources.LakeFormat]] table EXACTLY ONCE — the reference
  * consumer's replica loop (ez-cdc main.py:29-39: one UPSERT/DELETE per
  * message, at-least-once autocommit) upgraded to transactional
  * micro-batch merges.
  *
  * Exactly-once mechanics: each micro-batch projects its envelopes to
  * one mergeable row per event
  * ([[graft.operators.Cdc.eventsWithTombstonesBy]] on `id`) and merges them with a `txn(appId, batchId)` marker in the SAME
  * atomic log commit as the data. The merge's window keeps the newest
  * event per key over stored ∪ batch (the C4 discipline), so the sink
  * runs no fold of its own. A crash between the commit and the stream
  * checkpoint advance replays the batch; the replay reads the marker
  * at-or-above its batchId and no-ops — so the table applies every
  * batch exactly once even though the stream delivers at-least-once.
  * This is the marker's job, not the checkpoint's: the two systems
  * (stream checkpoint, table log) cannot commit atomically together, so
  * the table must dedupe.
  *
  * Scale: per batch, merge rewrites only the files containing the
  * batch's keys (stats-pruned + key-probe confirmed) — a kilobyte batch
  * against a 100 TB replica touches a handful of files, in five Spark
  * jobs (materialize, key broadcast, probe, fold shuffle, write — the
  * file stats come from the write tasks); periodic
  * [[graft.sources.LakeFormat.optimize]] + [[graft.sources.LakeFormat.checkpoint]]
  * keep file counts and log replay bounded.
  */
object LakeSink {

  /** Apply ONE micro-batch of envelope rows: merge one row per event
    * (the merge folds to newest-per-key) with the (appId, batchId)
    * exactly-once marker. Public so tests and backfills can drive
    * batches with explicit ids (the T29 discipline — MemoryStream batch
    * ids are not 1:1 with addData). */
  def applyBatch(envelopes: DataFrame, root: String, appId: String,
      batchId: Long): Unit = {
    LakeFormat.merge(
      graft.operators.Cdc.eventsWithTombstonesBy(envelopes, Seq("id")),
      root, txn = Some((appId, batchId)))
    ()
  }

  /** The stream writer: foreachBatch over [[applyBatch]]. Pair with a
    * checkpointLocation; restarts replay the last batch, which the txn
    * marker absorbs. */
  def cdcApply(envelopes: DataFrame, root: String,
      appId: String): DataStreamWriter[Row] =
    envelopes.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        applyBatch(batch.toDF, root, appId, batchId)
    }
}
