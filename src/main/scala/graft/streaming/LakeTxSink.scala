package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.LakeTx

/** The streaming end of MULTI-TABLE lake transactions: ONE CDC envelope
  * stream carrying several captured tables' events (the reference's
  * per-table topics unified by the envelope's `source.table` field,
  * ez-cdc README.md:331) applied to a [[graft.sources.LakeTx]] root so
  * that each micro-batch lands ATOMICALLY ACROSS TABLES — the
  * [[LakeSink]] exactly-once discipline, lifted from one table to the
  * distributed-transaction layer.
  *
  * Per micro-batch: split the envelopes by `source.table`, project each
  * table's slice to the mergeable per-event shape
  * ([[graft.operators.Cdc.eventsWithTombstonesBy]] — each member merge
  * folds it to the newest event per key, the C4 discipline,
  * table-generic), and [[graft.sources.LakeTx.commitTx]] the map with
  * `(appId, batchId)`. Member merges carry per-table exactly-once
  * markers and ONE manifest publish makes the whole batch visible, so:
  * - a crash-replayed batch no-ops end to end (markers gate the merges,
  *   the unchanged manifest content gates the publish);
  * - a reader joining the member tables through [[LakeTx.snapshot]]
  *   NEVER sees one table's half of a batch without the other's —
  *   including mid-apply (the manifest flips once, after both merges);
  * - a batch with events for only SOME tables still advances every
  *   member's marker consistently (absent tables keep their pins).
  *
  * Scale: identical to [[LakeSink]] per member — increment-sized folds,
  * touched-file-only merges — plus O(#tables) manifest bytes per batch.
  */
object LakeTxSink {

  /** Apply ONE micro-batch of mixed-table envelope rows. `tableKeys`
    * names each member table's primary-key columns (the fold keys).
    * Public for explicit-id driving (the T29 MemoryStream discipline).
    */
  def applyBatch(envelopes: DataFrame, root: String,
      tableKeys: Map[String, Seq[String]], appId: String,
      batchId: Long): Unit = {
    val spark = envelopes.sparkSession
    // an event for a table nobody configured must REFUSE, not vanish:
    // silently dropping it would desynchronize the replica forever
    // (fail loudly rather than serve a silent hole, applied to routing).
    // One cheap aggregation over the increment-sized batch.
    // NULL source.table must count as stray too: `!isin(...)` is NULL
    // (not true) for NULL, which would slip past this guard and then
    // match no per-table `===` filter — vanishing silently
    val strays = envelopes
      .filter(col("source.table").isNull ||
        !col("source.table").isin(tableKeys.keys.toSeq: _*))
      .select(col("source.table")).distinct().collect().map(_.getString(0))
    require(strays.isEmpty,
      s"batch $batchId carries events for unconfigured table(s) " +
        s"${strays.mkString(",")} — add them to tableKeys (with their " +
        "member tables) or route them to their own sink; dropping them " +
        "silently would desynchronize the replica")
    // one pass over the batch per table: micro-batches are
    // increment-sized, and the localCheckpoint inside each member merge
    // already bounds re-derivation. Each table's events go to its merge
    // unfolded — the merge's own window keeps the newest per key
    val updates = tableKeys.map { case (t, keys) =>
      t -> graft.operators.Cdc.eventsWithTombstonesBy(
        envelopes.filter(col("source.table") === t), keys)
    }
    LakeTx.commitTx(spark, root, updates, appId, batchId)
    ()
  }

  /** The stream writer: foreachBatch over [[applyBatch]]. Pair with a
    * checkpointLocation; restarts replay the last batch, which the
    * per-table markers + manifest-content gate absorb. */
  def cdcApply(envelopes: DataFrame, root: String,
      tableKeys: Map[String, Seq[String]],
      appId: String): DataStreamWriter[Row] =
    envelopes.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        applyBatch(batch.toDF, root, tableKeys, appId, batchId)
    }
}
