package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SQLContext}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.lake.Versioned

/** `spark.readStream.format("graft").load(dir)` — follow a versioned
  * lake as a STREAM (Delta's "stream from a table"); the engine's one
  * table-follow path. The manifest gates visibility, so a micro-batch
  * can never see an in-flight writer's files — exactly the guarantee
  * a plain file stream over the data directory cannot give.
  *
  * OFFSETS ARE VERSIONS: Spark's own offset log records the manifest
  * version each batch served through, so a restarted (or crashed)
  * query replays the IDENTICAL (fromV, toV] range — manifests are
  * immutable, so the replayed batch is byte-identical, and a
  * downstream txn-marked sink (`writeStream.format("graft")`,
  * [[Versioned.append]] with `txn`) deduplicates it by construction:
  * exactly-once end to end with NO source-side state beyond a
  * best-effort floor cache (`graft_hw` under the stream's metadata
  * dir, used only to cap an offer the engine has no start offset
  * for; losing it costs one uncapped batch, never a wrong row).
  *
  * Batch semantics:
  *  - first batch: the CURRENT SNAPSHOT (the reference's follower
  *    semantics — not version 0, which vacuum may have reaped), or
  *    the appends since `startingVersion` when that option is set
  *    (the consumer bootstrapped out of band);
  *  - every later batch: [[Versioned.appendsBetween]] — the rows of
  *    exactly the files the versions in range appended. A range
  *    containing a REWRITE commit (merge/optimize/delete) refuses
  *    loudly and points at the change feed.
  *
  * `maxVersionsPerTrigger` (Delta's backpressure knob, in versions)
  * bounds how many commits one micro-batch may cover — the first
  * batch of a seeded stream included; only snapshot mode's first
  * batch is one uncapped snapshot.
  *
  * SCHEMA is pinned per checkpoint (persisted `graft_schema`, like
  * `graft_start`): restarts re-serve replayed offsets under the
  * ORIGINAL column set even if the table evolved between runs —
  * dropped columns null-fill, added columns wait for a new stream. A
  * column RENAMED mid-stream keeps its pinned name only for data
  * already written under it; to follow the new name, start a fresh
  * checkpoint — the same restart Delta requires for non-additive
  * schema changes.
  *
  * CHANGES MODE (`readChanges` + `startingVersion` — Delta's
  * `readChangeFeed`): batches are [[Versioned.changesBetween]]
  * increments with `_action`/`_commit_version` columns, so merges,
  * deletes, restores and compactions ALL stream as row-level CDC —
  * the append-only refusal above does not apply. Needs
  * `enableChangeFeed` in force over the followed range (a pre-CDF
  * commit in range refuses loudly, naming the repair). With a cap
  * above 1 a batch spans several commits and can carry several
  * actions for ONE key; a consumer that applies the batch as a merge
  * sets `maxVersionsPerTrigger` to 1, or keeps the last action per
  * key by `_commit_version`. */
private[sources] class GraftStreamSource(sqlContext: SQLContext,
    dir: String, metadataPath: String,
    startingVersion: Option[Long], maxVersionsPerTrigger: Long,
    readChanges: Boolean = false,
    startingTimestampMs: Option[Long] = None) extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession
  private val fs = new Path(metadataPath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val startPath = new Path(metadataPath, "graft_start")
  private val hwPath = new Path(metadataPath, "graft_hw")
  private val schemaPath = new Path(metadataPath, "graft_schema")

  private def readText(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }

  private def readLong(p: Path): Option[Long] = readText(p).map(_.toLong)

  private def writeText(p: Path, v: String): Unit = {
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(v.getBytes("UTF-8")) finally out.close()
  }

  private def writeLong(p: Path, v: Long): Unit = writeText(p, v.toString)

  require(!readChanges || startingVersion.isDefined ||
      startingTimestampMs.isDefined ||
      readLong(startPath).exists(_ >= 0),
    "readChanges needs .option(\"startingVersion\", v) — a CDC stream " +
      "serves row-level increments SINCE a version, not a snapshot " +
      "(Delta's readChangeFeed contract); the table must have " +
      "enableChangeFeed in force over the followed range")

  /** `startingTimestamp` → the replay floor: the newest version
    * committed STRICTLY BEFORE the seed, so every commit AT or after
    * the timestamp streams. A seed at or before the FIRST RETAINED
    * commit: if version 0 is still retained the seed simply predates
    * the table — everything at-or-after it is everything, i.e.
    * SNAPSHOT mode (-1; Delta's start-from-version-0 analogue) —
    * EXCEPT under readChanges, where snapshot mode would hand a CDC
    * consumer plain rows whose `_action`/`_commit_version` columns
    * null-fill through the alignment select (silently wrong actions):
    * refuse naming the repair instead; if vacuum reaped v0, the floor
    * is unprovable — refuse naming the cause and the repair. */
  private def resolveStartingTs(ms: Long): Long =
    try Versioned.versionAsOf(spark, dir, ms - 1L)
    catch { case e: IllegalArgumentException =>
      if (Versioned.earliestVersion(spark, dir) == 0L) {
        if (readChanges) throw new IllegalArgumentException(
          s"startingTimestamp $ms predates the whole history of $dir " +
            "and readChanges is set: a change-feed stream cannot fall " +
            "back to snapshot mode (the snapshot has no _action rows) " +
            "— seed with startingVersion (0 serves every recorded " +
            "increment) or move the timestamp inside the change-feed " +
            "range", e)
        -1L
      }
      else throw new IllegalArgumentException(
        s"startingTimestamp $ms predates the retained history of $dir " +
          s"(${e.getMessage}) — vacuum reaped the versions that would " +
          "anchor the replay floor. Either drop the option (the stream " +
          "starts from the current snapshot) or seed with " +
          "startingVersion from DESCRIBE HISTORY", e)
    }

  /** The first batch's base, pinned ONCE per checkpoint (replays of
    * batch 0 must serve the identical range even across restarts):
    * -1 = snapshot mode, else the seeded starting version. A
    * `startingTimestamp` seed resolves HERE — inside the pin — so a
    * RESTARTED checkpoint never re-resolves against the clock: vacuum
    * reaping the anchoring manifests after the stream started cannot
    * fail a restart whose floor the checkpoint already owns. */
  private val startV: Long = readLong(startPath).getOrElse {
    val v = startingVersion
      .orElse(startingTimestampMs.map(resolveStartingTs))
      .getOrElse(-1L)
    writeLong(startPath, v)
    v
  }

  /** The stream's BASE schema, pinned ONCE per checkpoint (like
    * `graft_start`): the first construction resolves the table's
    * current snapshot schema and persists its JSON under the stream's
    * metadata dir; every later (re)construction — including restarts
    * after an ALTER TABLE RENAME/DROP evolved the table — reads the
    * file back with ZERO manifest resolutions, so a replayed offset
    * range serves byte-identical batches under the ORIGINAL column
    * set, exactly as the exactly-once contract documents. */
  private val baseSchema: StructType = readText(schemaPath) match {
    case Some(json) =>
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType]
    case None =>
      GraftStreamSource.schemaResolutions += 1
      val s = Versioned.snapshot(spark, dir).schema
      writeText(schemaPath, s.json)
      s
  }

  override val schema: StructType =
    if (readChanges) StructType(
      baseSchema.fields.toSeq :+
        org.apache.spark.sql.types.StructField("_action",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType))
    else baseSchema

  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json().trim.toLong
  }

  /** Only reached without admission control; the engine calls
    * [[latestOffset]], which holds the one copy of the floor/cap rule. */
  override def getOffset: Option[Offset] =
    Option(latestOffset(null, ReadLimit.allAvailable())).collect {
      case o: Offset => o
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val toV = ver(end)
    // CHANGES mode: every batch is the change-feed increments of its
    // version range — merges, deletes, restores and rewrites all
    // stream as row-level actions (the append-only refusal below does
    // not apply)
    def serve(fromV: Long): DataFrame =
      if (readChanges) Versioned.changesBetween(spark, dir, fromV, toV)
      else Versioned.appendsBetween(spark, dir, fromV, toV)
    val rows = start.map(ver) match {
      case None if startV < 0 => Versioned.snapshot(spark, dir, toV)
      case None => serve(startV)
      case Some(fromV) if fromV >= toV =>
        Versioned.snapshot(spark, dir, toV).limit(0) // align null-fills
      case Some(fromV) => serve(fromV)
    }
    advanceHw(toV)
    // pin the stream's schema: later commits may have evolved the
    // table — drift columns drop, missing ones null-fill (U1's rule).
    // A TYPE change under the pin (ALTER COLUMN ... TYPE widened the
    // table mid-stream) refuses loudly: serving long values through a
    // checkpoint that declared int would hand Spark misaligned
    // internal rows (or silently truncate) — the rename discipline
    // applies: following the NEW type means a fresh checkpoint
    rows.schema.fields.foreach { f =>
      schema.fields.find(_.name == f.name).foreach { pinnedF =>
        require(pinnedF.dataType == f.dataType,
          s"stream checkpoint pinned ${f.name} as " +
            s"${pinnedF.dataType.simpleString} but the table now serves " +
            s"${f.dataType.simpleString} (ALTER COLUMN ... TYPE ran " +
            "mid-stream) — restart the stream with a FRESH checkpoint " +
            "to follow the widened type")
      }
    }
    val aligned = rows.select(schema.fields.toSeq.map { f =>
      if (rows.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    GraftColumnBridge.internalDataFrame(spark,
      aligned.queryExecution.toRdd, aligned.schema, isStreaming = true)
  }

  override def commit(end: Offset): Unit = advanceHw(ver(end))

  // ---- Trigger.AvailableNow (SupportsTriggerAvailableNow) ----------
  // "Drain everything available AT START, in maxVersionsPerTrigger-
  // bounded batches, then stop" — the bounded-backfill run Delta
  // offers on its table streams. Without the trait Spark falls back
  // to single-batch execution, which silently IGNORES the
  // backpressure bound (one giant batch) and cannot drain an
  // uncommitted tail. Implementing SupportsAdmissionControl also
  // moves REGULAR triggers from getOffset onto latestOffset.

  /** The drain bound, captured ONCE when an AvailableNow run starts:
    * versions committed after this moment wait for the next run. */
  @volatile private var availableNowBound: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(Versioned.currentVersion(spark, dir))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val cur0 = Versioned.currentVersion(spark, dir)
    val cur = availableNowBound.fold(cur0)(b => math.min(cur0, b))
    if (cur < 0) return null // no manifest yet: no data to offer
    // the floor: the engine's own start offset (authoritative), else
    // the best-effort hw cache, else the pinned seed — a fresh
    // checkpoint's first batch obeys the cap too. Only snapshot mode
    // (startV < 0) has no floor: its first batch is one whole snapshot
    val from = Option(startOffset).map {
      case o: Offset => ver(o)
      case o => o.json().trim.toLong
    }.orElse(readLong(hwPath)).orElse(Some(startV).filter(_ >= 0))
    from match {
      case Some(hw) if cur <= hw =>
        // all known versions consumed per the floor. With a recorded
        // engine offset this is "no progress"; with only the cache
        // floor (a crash between getBatch's hw write and the offset
        // log), still OFFER the floor — the engine has not logged
        // batch 0 yet (getOffset's exact rule)
        if (startOffset != null) startOffset else LongOffset(hw)
      case Some(hw) =>
        // saturating add: the default cap is Long.MaxValue
        val cap = hw + math.max(1L, maxVersionsPerTrigger)
        LongOffset(if (cap < hw) cur else math.min(cur, cap))
      case None => LongOffset(cur) // floor unknown: uncapped is safe
    }
  }

  /** The TRUE latest (uncapped by the AvailableNow bound or the
    * per-trigger limit) — progress reporting only. */
  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val cur = Versioned.currentVersion(spark, dir)
    if (cur < 0) null else LongOffset(cur)
  }

  private def advanceHw(v: Long): Unit =
    if (!readLong(hwPath).exists(_ >= v)) writeLong(hwPath, v)

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$dir]"
}

private[sources] object GraftStreamSource {
  /** Snapshot-schema resolutions performed by stream constructions
    * (cache/pin MISSES) — the seam the pinning spec counts: a second
    * start of the same checkpoint must resolve ZERO schemas. */
  @volatile var schemaResolutions: Long = 0L
}
