package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming row-level MERGE INTO — the CDC-apply loop: a stream of
  * upsert/delete rows continuously maintained into a versioned lake
  * ([[graft.lake.Versioned]]), one [[graft.lake.Versioned.mergeInto]]
  * commit per micro-batch.
  *
  * Exactly-once story: foreachBatch gives at-least-once delivery — a
  * batch whose merge landed but whose streaming commit didn't record is
  * REPLAYED after restart. Each commit carries a `(txnId, batchId)`
  * manifest marker (Delta's `txn` action), so the replay finds its
  * marker and commits nothing: the version advances once per batch.
  * The one rule CDC feeds must keep: a batch must not contain two rows
  * for the same key (classic CDC compaction — keep the LAST change per
  * key per batch; do it upstream or pass a pre-compacted stream).
  *
  * Scale shape is mergeInto's: each micro-batch touches only its own
  * partitions; lake size never enters the per-batch cost.
  */
object StreamingMerge {

  /** The default txn id of a checkpointed stream: a SHA-256 prefix
    * (64 bits) of the checkpoint path — stable across JVMs/restarts for
    * a given checkpoint, so existing checkpoints keep their markers,
    * and — unlike a 32-bit String.hashCode — collision between two
    * distinct streams' checkpoints (which would silently share a
    * high-water mark and skip each other's batches) is negligible. */
  private[streaming] def checkpointTxnId(checkpoint: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpoint.getBytes("UTF-8"))
    "ckpt-" + d.take(8).map(b => f"$b%02x").mkString
  }

  /** Merge every micro-batch of `updates` into `baseDir` as one atomic
    * versioned commit, so the CDC stream accumulates full snapshot
    * history (time travel over the stream's life) and concurrent
    * readers are isolated from in-flight batches. A batch replayed
    * after a crash between the versioned commit and the streaming log
    * record is SKIPPED (StreamingMergeSpec pins it).
    *
    * @param afterBatch runs after the merge lands but BEFORE the
    *   streaming commit records the batch — the crash window the txn
    *   marker exists for (tests throw here).
    * @param txnId identifies this stream in the manifest's txn
    *   markers; defaults to a stable hash of the checkpoint path (the
    *   same stream restarts with the same checkpoint, hence the same
    *   id). Pass explicitly when two streams share a checkpoint
    *   naming scheme. On a table with the change feed enabled, each
    *   commit also publishes its increment, so snapshot history and
    *   the change feed ride one write path. */
  def start(updates: DataFrame, baseDir: String,
      partitionKeys: Seq[String], rowKey: Seq[String], checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      afterBatch: Long => Unit = _ => (),
      txnId: Option[String] = None): StreamingQuery = {
    val id = txnId.getOrElse(checkpointTxnId(checkpoint))
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          graft.lake.Versioned.mergeInto(batch.sparkSession, baseDir, batch,
            partitionKeys, rowKey, txn = Some((id, bid)))
        }
        afterBatch(bid)
      }
      .start()
  }

  /** Insert-only streaming ingest through [[graft.lake.Versioned.append]]
    * — the high-volume event firehose: every micro-batch is one blind
    * APPEND commit (a delta manifest of `+file` lines, no resolution,
    * no rewrite, no read of existing data — per-batch cost never sees
    * the lake's size), stamped with the same `(txnId, batchId)` marker
    * as [[start]] for version-level exactly-once across crash
    * replays. Commit-time stats ride along once the lake tracks them
    * (or pass `statsCols` to establish the discipline from the first
    * batch). Downstream consumers chain off the manifest:
    * `spark.readStream.format("graft")` streams exactly these
    * committed appends.
    */
  def startAppend(rows: DataFrame, baseDir: String,
      partitionKeys: Seq[String], checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      afterBatch: Long => Unit = _ => (),
      txnId: Option[String] = None,
      statsCols: Seq[String] = Nil): StreamingQuery = {
    val id = txnId.getOrElse(checkpointTxnId(checkpoint))
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          graft.lake.Versioned.append(batch.sparkSession, baseDir, batch,
            partitionKeys, txn = Some((id, bid)), statsCols = statsCols)
        }
        afterBatch(bid)
      }
      .start()
  }
}
