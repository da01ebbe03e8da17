package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.Similarity

/** Streaming IVF index maintenance: every micro-batch of new vectors
  * goes through [[Similarity.ivfAppend]] — assigned against the
  * PERSISTED centroids and encoded with the index's codec and codebooks
  * (all frozen at build time, so appending never changes what existing
  * vectors a probe reaches) — and lands under
  * `cells_inc/batch_id=N/cell_id=C` with dynamic partition overwrite, so
  * a batch replayed after a crash rewrites its own increment instead of
  * double-inserting: the [[IncrementalPartials]] idempotence contract
  * applied to index maintenance. A [[Similarity.ivfLoad]] after the
  * batch sees base + increments; rebuild (or Lloyd-refine) when
  * distribution drift accumulates, as with any IVF append path. Stream
  * rows carry the index's id and vector columns.
  */
object StreamingIvfIngest {

  /** @param afterBatch runs after the increment lands but BEFORE the
    *   streaming commit records the batch — the crash window the
    *   batch_id overwrite exists for (same hook contract as
    *   [[IncrementalPartials.start]]; tests throw here). */
  def start(stream: DataFrame, indexDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      afterBatch: Long => Unit = _ => ()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // ivfAppend owns the overwrite mode (set-and-restore on the
        // batch's session) — no outer set needed here
        if (!batch.isEmpty) Similarity.ivfAppend(indexDir, batch, id)
        afterBatch(id)
      }
      .start()
}
