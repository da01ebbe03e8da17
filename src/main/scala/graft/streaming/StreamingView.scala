package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lake.Versioned
import graft.ops.MergeData

/** Streaming incremental view maintenance — q120's feed-delta algebra
  * driven by the CDC stream: each micro-batch merges into a versioned
  * lake whose change feed is enabled ([[Versioned.mergeInto]], which
  * publishes the commit's increment), then advances a grouped
  * (sum, count) view from the table's increments alone. The lake is
  * scanned exactly once, at [[init]]; afterwards the view's per-batch
  * cost is the increments + the view itself (group count, not data
  * size).
  *
  * Exactly-once story: the view is VERSIONED by batch — version N =
  * version N-1 + deltas([[Versioned.changesBetween]] from the table
  * version view N-1 reflects to the one after batch N's merge), written
  * under `batch_id=N` via dynamic partition overwrite; every view
  * version records the table version it reflects. The merge carries a
  * `(txnId, batchId)` marker, so a batch replayed after a crash (merge,
  * even the view write landed; the streaming commit didn't) commits
  * nothing, recomputes from view version N-1 — which no crash can have
  * touched — and OVERWRITES its own version: replay rewrites instead of
  * double-applying ([[MergeData.feedDeltas]]' preimage algebra over an
  * immutable version range). Version history doubles as view time
  * travel and is vacuum-able by dropping old `batch_id=` partitions.
  */
object StreamingView {

  /** The table version a view version reflects (a data column of the
    * view, hidden by [[readView]]). */
  private val BaseVersion = "base_version"

  /** Seed the view (version -1) from the lake's current snapshot — the
    * ONE full scan, the same one any materialized-view creation pays.
    * The lake must be a versioned table with the change feed enabled
    * ([[Versioned.enableChangeFeed]]). */
  def init(spark: SparkSession, baseDir: String, groupKeys: Seq[String],
      valueCol: String, viewDir: String): Unit = {
    val v = Versioned.currentVersion(spark, baseDir)
    require(Versioned.changeFeedKey(spark, baseDir, v).isDefined,
      s"$baseDir has no change feed: enableChangeFeed() first")
    val seed = Versioned.snapshot(spark, baseDir, v)
      .groupBy(groupKeys.map(col): _*)
      .agg(sum(col(valueCol)).as("s"), count(lit(1)).as("n"))
      .withColumn(BaseVersion, lit(v))
      .withColumn("batch_id", lit(-1L))
    MergeData.writeMerged(spark, seed, viewDir, keys = Seq("batch_id"))
  }

  /** The highest committed view version <= atBatch, with the table
    * version it reflects. */
  private def viewAt(spark: SparkSession, viewDir: String,
      atBatch: Long): (DataFrame, Long) = {
    val all = spark.read.parquet(viewDir)
    val ids = all.select(col("batch_id"), col(BaseVersion)).distinct()
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getLong(1)))
      .filter(_._1 <= atBatch)
    require(ids.nonEmpty, s"no view version <= $atBatch in $viewDir")
    val (id, v) = ids.maxBy(_._1)
    (all.filter(col("batch_id") === id).drop("batch_id", BaseVersion), v)
  }

  /** The view at `atBatch` (latest if omitted): resolve the highest
    * committed version <= atBatch and read just that partition. */
  def readView(spark: SparkSession, viewDir: String,
      atBatch: Long = Long.MaxValue): DataFrame =
    viewAt(spark, viewDir, atBatch)._1

  /** Start the CDC-apply + view-maintenance stream. Per micro-batch:
    * txn-marked merge into `baseDir`, then advance the view to version
    * = micro-batch id. `afterBatch` runs before the streaming commit
    * (crash-injection hook, as in [[StreamingMerge.start]]). */
  def start(updates: DataFrame, baseDir: String,
      partitionKeys: Seq[String], rowKey: Seq[String],
      groupKeys: Seq[String], valueCol: String,
      viewDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      afterBatch: Long => Unit = _ => ()): StreamingQuery = {
    val txnId = StreamingMerge.checkpointTxnId(checkpoint)
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val v = Versioned.mergeInto(s, baseDir, batch, partitionKeys,
            rowKey, txn = Some((txnId, id)))
          val (prev, prevV) = viewAt(s, viewDir, atBatch = id - 1)
          val delta = MergeData.feedDeltas(
            Versioned.changesBetween(s, baseDir, prevV, v),
            groupKeys, valueCol)
          val next = prev.join(delta, groupKeys, "full")
            .select(groupKeys.map(col) ++ Seq(
              (coalesce(col("s"), lit(0.0)) +
                coalesce(col("delta_sum"), lit(0.0))).as("s"),
              (coalesce(col("n"), lit(0L)) +
                coalesce(col("delta_count"), lit(0L))).as("n")): _*)
            .filter(col("n") > 0) // groups emptied by deletes drop out
            .withColumn(BaseVersion, lit(v))
            .withColumn("batch_id", lit(id))
          MergeData.writeMerged(s, next, viewDir, keys = Seq("batch_id"))
        }
        afterBatch(id)
      }
      .start()
  }
}
