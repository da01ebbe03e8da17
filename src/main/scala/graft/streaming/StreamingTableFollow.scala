package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lake.Versioned

/** Streaming source FROM a versioned table (Delta's "stream from a
  * table", composed from this engine's own parts): followers see
  * exactly the COMMITTED state — the manifest gates visibility, so an
  * in-flight writer's data files (written before its manifest rename)
  * can never leak into a micro-batch, which is precisely what a plain
  * file stream over the data directory cannot guarantee.
  *
  * Mechanics: the `_manifest/v*.txt` log is itself an append-only file
  * set, so a text file-stream over it is the NOTIFICATION channel
  * (same trick as [[StreamingReplica]]); each wakeup serves
  *  - the CURRENT SNAPSHOT as a fresh checkpoint's initial batch (the
  *    reference semantics — NOT version 0, which vacuum may have
  *    reaped and any optimize has rewritten), then
  *  - [[Versioned.appendsBetween]](highWater, pinned) — the rows of
  *    exactly the files appended since; [[followOnce]] refuses loudly
  *    if any commit in the range rewrote files, while
  *    [[followChangesOnce]] serves those commits from the table's
  *    change-feed increments instead (one unified source across
  *    append, merge, delete and restore commits).
  *
  * EXACTLY-ONCE across crashes: the range to serve is PINNED in a
  * plan file under the checkpoint BEFORE `process` runs, so a replay
  * — even one racing new appends, even one that lost the high-water
  * file — re-serves the IDENTICAL (fromV, toV] range; a process that
  * commits into a versioned sink with `txn = (id, toV)` markers
  * ([[Versioned.append]]/[[Versioned.mergeInto]]) then deduplicates
  * by construction, the same contract as [[StreamingMerge]]. Without
  * the pin, a replay would recompute the range against an advanced
  * current version and commit the already-committed prefix twice
  * (its wider toV carries a fresh txn marker).
  *
  * Scale shape: per-wakeup driver cost is a few manifest resolutions
  * plus two checkpoint-scoped files; data cost is a scan of exactly
  * the appended files (or the served increments). The table's size
  * never enters.
  */
object StreamingTableFollow {

  private def hwPath(checkpoint: String) = new Path(checkpoint, "table_follow_hw")
  private def planPath(checkpoint: String) = new Path(checkpoint, "table_follow_plan")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readLongs(spark: SparkSession, p: Path): Option[Seq[Long]] = {
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        .split(' ').toSeq.map(_.toLong))
      finally in.close()
    }
  }

  private def writeLongs(spark: SparkSession, p: Path, vs: Seq[Long]): Unit = {
    val fs = fsOf(spark, p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(vs.mkString(" ").getBytes("UTF-8")) finally out.close()
  }

  private def readHw(spark: SparkSession, checkpoint: String): Long =
    readLongs(spark, hwPath(checkpoint)).map(_.head).getOrElse(-1L)

  private def writeHw(spark: SparkSession, checkpoint: String, v: Long): Unit =
    writeLongs(spark, hwPath(checkpoint), Seq(v))

  /** The pinned (hw, toV) range for this wakeup: an unfinished prior
    * plan if one exists (crash replay — serve the IDENTICAL range), a
    * fresh pin against the current version otherwise, None when idle.
    * A leftover plan whose toV is at or below the committed high-water
    * mark is a crash between the mark write and the plan clear — fully
    * served, just cleared. */
  private def pinRange(spark: SparkSession, tableDir: String,
      checkpoint: String, maxVersions: Long = Long.MaxValue): Option[(Long, Long)] = {
    require(maxVersions >= 1, "need maxVersionsPerTrigger >= 1")
    val prior = readLongs(spark, planPath(checkpoint))
      .collect { case Seq(a, b) => (a, b) }
    val hw = readHw(spark, checkpoint)
    prior match {
      case Some((_, toV)) if hw >= toV && toV >= 0 =>
        fsOf(spark, planPath(checkpoint)).delete(planPath(checkpoint), false)
      // a leftover plan REPLAYS AS PINNED even if the caller's
      // maxVersions changed meanwhile — the pin is what makes the
      // crash replay byte-identical
      case Some(p) => return Some(p)
      case None =>
    }
    val cur = Versioned.currentVersion(spark, tableDir)
    if (cur < 0 || cur <= hw) None
    else {
      // BACKPRESSURE (Delta's maxFilesPerTrigger, in versions): a
      // follower that fell far behind serves the backlog in bounded
      // chunks — each pinned range covers at most `maxVersions`
      // commits, the next wakeup pins the next chunk. The initial
      // snapshot delivery (hw < 0) is inherently one batch and is
      // not chunked.
      val toV = if (hw < 0) cur else hw + math.min(maxVersions, cur - hw)
      writeLongs(spark, planPath(checkpoint), Seq(hw, toV))
      Some((hw, toV))
    }
  }

  private def finishRange(spark: SparkSession, checkpoint: String,
      toV: Long): Unit = {
    writeHw(spark, checkpoint, toV)
    fsOf(spark, planPath(checkpoint)).delete(planPath(checkpoint), false)
  }

  /** Seed a FRESH checkpoint to start following after `version` —
    * Delta's `startingVersion`: the first served batch is the changes
    * SINCE that version instead of the current snapshot (the consumer
    * bootstrapped its state from that version's snapshot out of band).
    * Refused once the checkpoint has consumed anything. */
  def seedCheckpoint(spark: SparkSession, checkpoint: String,
      version: Long): Unit = {
    require(readHw(spark, checkpoint) < 0 &&
      readLongs(spark, planPath(checkpoint)).isEmpty,
      s"checkpoint $checkpoint has already consumed — cannot re-seed")
    writeHw(spark, checkpoint, version)
  }

  /** One follow step — the loop each streaming wakeup runs, exposed
    * for batch catch-up. Serves the CURRENT snapshot first if this
    * checkpoint has never consumed, then any appended versions;
    * refuses a range containing a rewrite commit (use
    * [[followChangesOnce]] for those). Returns the versions served as
    * (fromExclusive, toInclusive). */
  def followOnce(spark: SparkSession, tableDir: String, checkpoint: String,
      process: (DataFrame, Long, Long) => Unit,
      maxVersionsPerTrigger: Long = Long.MaxValue): Option[(Long, Long)] = {
    pinRange(spark, tableDir, checkpoint, maxVersionsPerTrigger).map { case (hw, toV) =>
      if (hw < 0) process(Versioned.snapshot(spark, tableDir, toV), -1L, toV)
      else {
        val batch = Versioned.appendsBetween(spark, tableDir, hw, toV)
        // a purely metadata-only range added no files — advance the
        // mark without a process call (a versioned sink would refuse
        // an empty batch)
        if (Versioned.filesAt(spark, tableDir, toV).toSet !=
            Versioned.filesAt(spark, tableDir, hw).toSet)
          process(batch, hw, toV)
      }
      finishRange(spark, checkpoint, toV)
      (hw, toV)
    }
  }

  /** Is commit `v` append-only (files only added, tombstones
    * unchanged)? Metadata-only commits qualify trivially. */
  private def isAppendOnly(spark: SparkSession, tableDir: String,
      v: Long): Boolean =
    Versioned.deleteFilesAt(spark, tableDir, v - 1) ==
      Versioned.deleteFilesAt(spark, tableDir, v) &&
      Versioned.filesAt(spark, tableDir, v - 1).toSet
        .subsetOf(Versioned.filesAt(spark, tableDir, v).toSet)

  /** The UNIFIED follow step — one source across rewrite ranges
    * (Delta's streaming CDF read): every batch handed to `process` is
    * CHANGE rows carrying `_action` — append-only runs are served from
    * the appended files directly (synthesized `_action='insert'`, no
    * increment read), and each rewrite commit (merge/delete/restore)
    * is served from its table-property change increment
    * ([[Versioned.changeIncrementAt]] — the table must have
    * [[Versioned.enableChangeFeed]] in force for those commits).
    * Rewrite commits are served ONE VERSION PER BATCH: a multi-version
    * change batch could carry two actions for one key, which a merge
    * apply would collide on; append runs coalesce freely.
    *
    * Exactly-once: the wakeup's range is pinned exactly as in
    * [[followOnce]], and the sub-range split is a deterministic
    * function of the manifests — a replay re-issues identical
    * (range, batch) pairs, which a txn-marked sink (marker = each
    * range's toV) deduplicates. Returns the ranges served.
    *
    * Column mapping: every batch is spelled under the logical names in
    * force at ITS OWN range-end version — append runs read through
    * [[Versioned.appendsBetween]] (which applies the run-end mapping)
    * and a rewrite singleton's increment was written under its commit's
    * names. A RENAME/DROP commit is metadata-only (an append-only run
    * absorbs it), so the stream's schema changes exactly at the commit
    * that changed it; a sink that must stay on one schema batch-reads
    * [[Versioned.changesBetween]] instead, which re-spells the whole
    * range to its end mapping. */
  def followChangesOnce(spark: SparkSession, tableDir: String,
      checkpoint: String,
      process: (DataFrame, Long, Long) => Unit,
      maxVersionsPerTrigger: Long = Long.MaxValue): Seq[(Long, Long)] = {
    pinRange(spark, tableDir, checkpoint, maxVersionsPerTrigger) match {
      case None => Nil
      case Some((hw, toV)) =>
        val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        if (hw < 0) {
          process(Versioned.snapshot(spark, tableDir, toV)
            .withColumn("_action", lit("insert")), -1L, toV)
          served += ((-1L, toV))
        } else {
          // split (hw, toV] into append-only runs and rewrite singletons
          var runStart = hw
          def closeRun(upTo: Long): Unit = if (upTo > runStart &&
              Versioned.filesAt(spark, tableDir, upTo).toSet !=
                Versioned.filesAt(spark, tableDir, runStart).toSet) {
            val added = Versioned.appendsBetween(spark, tableDir, runStart, upTo)
            process(added.withColumn("_action", lit("insert")), runStart, upTo)
            served += ((runStart, upTo))
          }
          ((hw + 1) to toV).foreach { v =>
            if (!isAppendOnly(spark, tableDir, v)) {
              closeRun(v - 1)
              Versioned.changeIncrementAt(spark, tableDir, v).foreach { inc =>
                process(inc, v - 1, v)
                served += ((v - 1, v))
              }
              runStart = v
            }
          }
          closeRun(toV)
        }
        finishRange(spark, checkpoint, toV)
        served.toSeq
    }
  }

  private def notificationQuery(spark: SparkSession, tableDir: String,
      checkpoint: String, trigger: Trigger,
      step: SparkSession => Unit): StreamingQuery = {
    val notifications = spark.readStream.text(s"$tableDir/_manifest/v*.txt")
    notifications.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (mb: DataFrame, _: Long) => step(mb.sparkSession); () }
      .start()
  }

  /** Start following `tableDir` (append-only contract). The
    * notification stream reads only the manifest names (a text stream
    * over `_manifest/v*.txt` — tiny, and glob-scoped away from the
    * stats sidecars); all data reads go through the manifest-resolved
    * [[followOnce]]. */
  def start(spark: SparkSession, tableDir: String, checkpoint: String,
      process: (DataFrame, Long, Long) => Unit,
      trigger: Trigger = Trigger.AvailableNow(),
      maxVersionsPerTrigger: Long = Long.MaxValue): StreamingQuery =
    notificationQuery(spark, tableDir, checkpoint, trigger,
      s => {
        // drain the available backlog in bounded chunks — each chunk
        // is its own pinned, exactly-once delivery
        while (followOnce(s, tableDir, checkpoint, process,
          maxVersionsPerTrigger).isDefined) ()
      })
}
