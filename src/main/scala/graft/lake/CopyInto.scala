package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `COPY INTO` — idempotent bulk file ingestion into a versioned lake
  * (Delta's verb for "load whatever landed since last time"). The
  * reference's entire ingest loop is this operation: per-upload
  * `.csv.gz` drops merged into parquet tables, re-runnable without
  * double-loading (MHM-data-pipelines merge_data.py:84-118 tracks
  * processed uploads by listing what the merged output already holds;
  * COPY INTO is the same contract with an explicit ledger).
  *
  * EXACTLY-ONCE, per FILE, across crashes — the two-rail protocol:
  *
  *  1. an INTENT ledger entry under `_manifest/copyinto/` names the
  *     source files this batch will load (one text file per batch,
  *     sequential `seq%06d.list`, created exclusively — never
  *     overwritten, terminated by an `#end` marker so a torn write is
  *     detectable);
  *  2. the data commit is a [[Versioned.append]] carrying the
  *     `(copyinto:<target-scoped id>, seq)` transaction marker — the
  *     SAME high-water rail the streaming sink rides, so a replayed
  *     seq is a no-op commit.
  *
  * Every crash window resolves deterministically on the next run:
  *  - crash BEFORE the intent entry: nothing happened, files reload;
  *  - crash AFTER intent, BEFORE commit (`lastTxn < seq`): RECOVERY —
  *    re-read exactly the intent's file list and commit it under the
  *    same seq (new files that landed meanwhile wait for the next
  *    batch, by design: the intent is the unit of atomicity);
  *  - torn intent entry (no `#end`), uncommitted: delete it and
  *    proceed fresh — the commit for it can never exist;
  *  - crash AFTER commit: the txn high-water marks seq committed, the
  *    intent entry already names its files — both rails agree.
  *
  * Batch validation (schema alignment) runs BEFORE the intent is
  * recorded, so a misaligned source fails with nothing written. A
  * recovery batch that still fails (source files deleted since, a
  * constraint added meanwhile) blocks COPY loudly until the cause is
  * fixed or the intent entry is removed — removing an UNCOMMITTED
  * intent is always safe: its commit never happened.
  *
  * At 100 TB shape: the ledger costs one tiny FS object per COPY
  * batch (not per file — a batch names thousands of files in one
  * entry), the skip set resolves from ONE checkpoint read plus the
  * recent tail ([[loadedFiles]] — committed entries fold into a
  * `loaded.<seq>.set` checkpoint, the same newest-checkpoint-plus-tail
  * discipline the manifest itself uses, so an hourly ingest loop run
  * for years never accumulates per-batch reads), and the data cost is
  * a scan of exactly the FRESH files. Nothing here scales with lake
  * size or history depth.
  */
object CopyInto {

  final case class Result(version: Long, filesLoaded: Long,
      filesSkipped: Long)

  /** Test seam: when set, [[run]] halts after recording the intent and
    * before the data commit — the crash window between the two rails
    * the recovery scan must resolve. */
  private[lake] var haltBeforeCommit: Boolean = false

  /** Committed tail entries beyond this fold into the checkpoint at
    * the end of a run — small enough that the tail stays a handful of
    * reads, large enough that folding is amortized. */
  private[lake] val CompactAfter = 8

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private[lake] def ledgerRoot(dir: String) = new Path(dir, "_manifest/copyinto")

  private[lake] def entryPath(dir: String, seq: Long) =
    new Path(ledgerRoot(dir), f"seq$seq%06d.list")

  private def ckptPath(dir: String, upto: Long) =
    new Path(ledgerRoot(dir), f"loaded$upto%06d.set")

  /** The target-scoped transaction id: COPY batches into the same
    * table share one sequential rail whatever their source — the seq
    * is the batch identity, the named files are the payload. */
  private def txnId(dir: String): String = "copyinto"

  private def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def b64d(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** One recorded intent: the files the batch loads PLUS the parse
    * recipe (format + options) the batch was issued with, so crash
    * recovery replays the bytes under the SAME reader — a recovering
    * COPY issued with a different FILEFORMAT/FORMAT_OPTIONS must not
    * silently misparse the crashed batch (legacy entries predate the
    * recipe and fall back to the recovering invocation's). */
  private[lake] final case class Intent(files: Seq[String],
      format: Option[String], options: Map[String, String])

  private def listEntries(fs: FileSystem, dir: String): Seq[Long] = {
    val root = ledgerRoot(dir)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).map(_.getPath.getName).toSeq.collect {
      case n if n.matches("seq\\d+\\.list") =>
        n.stripPrefix("seq").stripSuffix(".list").toLong
    }.sorted
  }

  /** Checkpoint sequence numbers present, ascending (normally one;
    * a crash between write-new and delete-old leaves two — the newest
    * complete one wins, it is a superset by construction). */
  private def listCkpts(fs: FileSystem, dir: String): Seq[Long] = {
    val root = ledgerRoot(dir)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).map(_.getPath.getName).toSeq.collect {
      case n if n.matches("loaded\\d+\\.set") =>
        n.stripPrefix("loaded").stripSuffix(".set").toLong
    }.sorted
  }

  private def readAllLines(fs: FileSystem, p: Path): Vector[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** Reads an intent entry; None when the entry is torn (no `#end`
    * terminator — the writer died mid-entry). Header lines (`#format`,
    * `#option`) carry the parse recipe; everything else is a file. */
  private def readEntry(fs: FileSystem, dir: String,
      seq: Long): Option[Intent] = {
    val lines = readAllLines(fs, entryPath(dir, seq))
    if (!lines.lastOption.contains("#end")) return None
    var fmt: Option[String] = None
    val opts = Map.newBuilder[String, String]
    val files = Vector.newBuilder[String]
    lines.dropRight(1).foreach { l =>
      if (l.startsWith("#format ")) fmt = Some(l.stripPrefix("#format ").trim)
      else if (l.startsWith("#option ")) {
        // an EMPTY option value (e.g. nullValue='') base64-encodes to
        // the empty string — one token after the key, not two
        val toks = l.stripPrefix("#option ").trim.split(' ')
        opts += (b64d(toks(0)) ->
          (if (toks.length > 1) b64d(toks(1)) else ""))
      } else if (!l.startsWith("#")) files += l
    }
    Some(Intent(files.result(), fmt, opts.result()))
  }

  /** [[readEntry]] tolerating an entry FOLDED AWAY between the listing
    * and the read (a concurrent compaction deleted it AFTER writing
    * the checkpoint that absorbed it): None-with-absence is safe for
    * the skip-set union exactly because the checkpoint read happens
    * AFTER the entry reads in [[loadedFiles]]. */
  private def readEntryIfPresent(fs: FileSystem, dir: String,
      seq: Long): Option[Intent] =
    try readEntry(fs, dir, seq)
    catch { case _: java.io.FileNotFoundException => None }

  /** Create-exclusive intent write: refuses if the seq exists (a
    * concurrent COPY took it — caller recomputes against the winner's
    * ledger). The `#end` terminator makes torn writes detectable. */
  private def writeEntry(fs: FileSystem, dir: String, seq: Long,
      files: Seq[String], format: String,
      options: Map[String, String]): Unit = {
    fs.mkdirs(ledgerRoot(dir))
    val out = fs.create(entryPath(dir, seq), false)
    try {
      val header = s"#format ${format.toLowerCase}" +:
        options.toSeq.sortBy(_._1).map { case (k, v) =>
          s"#option ${b64e(k)} ${b64e(v)}" }
      val body = (header ++ files.sorted :+ "#end").mkString("", "\n", "\n")
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
  }

  /** The newest COMPLETE checkpoint's (upto, rows) — rows are
    * (seq, file) pairs so the per-batch attribution survives the fold
    * (the [[ledger]] observability read stays whole). Torn checkpoints
    * (no `#end`) are skipped: their fold never deleted anything, the
    * tail below still covers them. */
  private def readCkpt(fs: FileSystem,
      dir: String): Option[(Long, Seq[(Long, String)])] = {
    // a checkpoint listed a moment ago can VANISH before the read: a
    // concurrent fold deletes older checkpoints AFTER writing its new
    // one. A vanished candidate was absorbed by a NEWER checkpoint —
    // skip it when a complete listed one still reads (newest-complete-
    // wins), but when EVERY candidate vanished the absorber postdates
    // our listing: re-list and read it (falling through to None there
    // would drop the whole folded base from the skip set → duplicates).
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      var sawVanish = false
      val res = listCkpts(fs, dir).sorted.reverse.iterator.flatMap { upto =>
        try {
          val lines = readAllLines(fs, ckptPath(dir, upto))
          if (!lines.lastOption.contains("#end")) None // torn: its fold never deleted
          else Some((upto, lines.dropRight(1).filterNot(_.startsWith("#"))
            .map { l =>
              val i = l.indexOf('\t')
              (l.substring(0, i).toLong, l.substring(i + 1))
            }))
        } catch {
          case _: java.io.FileNotFoundException => sawVanish = true; None
        }
      }.nextOption()
      if (res.isDefined || !sawVanish) return res
    }
    throw new IllegalStateException(
      s"COPY INTO ledger checkpoints of $dir kept vanishing across 5 " +
        "re-listings — folds are racing faster than reads; retry the COPY")
  }

  /** Files already loaded (checkpoint union + every COMMITTED or
    * intended tail entry — an uncommitted intent is either recovered
    * first or torn and deleted, so by the time the skip set is
    * consulted every entry counts). O(1 + recent batches) reads.
    *
    * READ ORDER is the concurrency guard: entries FIRST, checkpoint
    * SECOND. A concurrent fold writes its checkpoint BEFORE deleting
    * the entries it absorbed, so an entry that vanishes between the
    * listing and its read is guaranteed covered by a checkpoint this
    * later read observes — reading the checkpoint first would race
    * the deletes and silently drop committed batches from the skip
    * set (re-loading their files as duplicates). */
  private def loadedFiles(fs: FileSystem, dir: String): Set[String] = {
    val tail = listEntries(fs, dir).flatMap(s =>
      readEntryIfPresent(fs, dir, s).map(_.files).getOrElse(Seq.empty))
    val base = readCkpt(fs, dir).map(_._2.map(_._2)).getOrElse(Nil)
    (base ++ tail).toSet
  }

  /** [[maybeCompact]] as the POST-COMMIT caller must see it: best
    * effort. By the time compaction runs the batch's append has
    * COMMITTED — a checkpoint race or a transient IO error in ledger
    * maintenance must not report failure for a COPY that succeeded
    * (the caller would retry a batch the txn fence then no-ops,
    * or page an operator for nothing). The fold is self-healing: the
    * next batch retries it. */
  private def compactBestEffort(spark: SparkSession, fs: FileSystem,
      dir: String): Unit =
    try maybeCompact(spark, fs, dir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"COPY INTO ledger compaction of $dir skipped: ${e.getMessage}")
    }

  /** Fold committed tail entries into a new checkpoint once the tail
    * outgrows [[CompactAfter]]. Crash-safe at every step: the new
    * checkpoint is written CREATE-EXCLUSIVE under its own name (a
    * concurrent folder loses the create and simply skips), old
    * checkpoints are deleted only after the new one is complete
    * (newest-complete-wins makes the overlap harmless), and folded
    * entries are deleted last (an entry surviving next to the
    * checkpoint that absorbed it is a no-op union). Only entries at or
    * below the txn high-water fold — an uncommitted intent stays in
    * place for the recovery scan. */
  private def maybeCompact(spark: SparkSession, fs: FileSystem,
      dir: String): Unit = {
    val hw = Versioned.lastTxn(spark, dir, txnId(dir))
    // this first checkpoint read only SIZES the fold — the embedding
    // read happens below, AFTER the entry reads (see why there)
    val priorUpto0 = readCkpt(fs, dir).map(_._1).getOrElse(-1L)
    val foldable = listEntries(fs, dir)
      .filter(s => s <= hw && s > priorUpto0)
    if (foldable.size <= CompactAfter) return
    val upto = foldable.max
    // read every foldable entry BEFORE writing anything: an entry that
    // vanished between the listing and its read was absorbed by a
    // CONCURRENT fold whose checkpoint postdates our `prior` — folding
    // without its files and then deleting that checkpoint (it sorts
    // below our upto) would drop them from the skip set. Abort instead;
    // the next batch's fold re-lists and retries.
    val reads = foldable.map { s =>
      try (s, readEntry(fs, dir, s), false)
      catch { case _: java.io.FileNotFoundException => (s, None, true) }
    }
    if (reads.exists(_._3)) return // vanished mid-read: racing fold won
    // the checkpoint this fold EMBEDS is read AFTER every entry read
    // succeeded (entries first, checkpoint second — the same order
    // loadedFiles uses, for the same reason): a racing fold that
    // FULLY completed between an earlier checkpoint read and our
    // listing would leave `prior` stale — its checkpoint absorbed
    // entries we never saw, and a new checkpoint built on the stale
    // prior would omit them, then delete the racer's checkpoint and
    // drop those files from the dedup skip set (duplicate loads).
    // Reading prior HERE closes that: either the racer finished
    // before our listing (prior now IS its checkpoint, which embeds
    // everything it deleted), or it deleted an entry after our
    // listing (the vanish abort above fired), or it finished after
    // our reads (we hold every entry it folded, so our checkpoint is
    // a superset of its — deleting it below is safe).
    val prior = readCkpt(fs, dir)
    val priorUpto = prior.map(_._1).getOrElse(-1L)
    if (priorUpto >= upto) return // a racer folded past us: done
    val rows = (prior.map(_._2).getOrElse(Nil) ++ reads.flatMap {
      case (s, e, _) => e.map(_.files).getOrElse(Seq.empty).map(f => (s, f)) })
      .distinct
    val out = try fs.create(ckptPath(dir, upto), false) catch {
      case _: java.io.IOException => return // concurrent folder won
    }
    try {
      val body = (rows.map { case (s, f) => s"$s\t$f" } :+ "#end")
        .mkString("", "\n", "\n")
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    listCkpts(fs, dir).filter(_ < upto)
      .foreach(u => fs.delete(ckptPath(dir, u), false))
    // every entry at or below upto is absorbed (by this checkpoint or
    // one it embeds) — deleting stragglers a crashed earlier fold left
    // behind keeps the tail bounded
    listEntries(fs, dir).filter(_ <= upto)
      .foreach(s => fs.delete(entryPath(dir, s), false))
  }

  /** Lists source files under `from` matching `pattern` (a glob over
    * the file NAME tail when relative, or the full path when it
    * contains `/`). Directories recurse; hidden/underscore files and
    * anything under a `_`/`.` directory are skipped (Spark's own data
    * source convention). The FileSystem comes from the SOURCE path
    * itself — never the target table's (an s3a:// source feeding a
    * local table, or cross-bucket, must list and read on its own
    * store) — and the returned paths are FULLY QUALIFIED URIs, so the
    * ledger and the recovery read resolve against the right
    * filesystem wherever the table lives. */
  private def listSource(spark: SparkSession, from: String,
      pattern: Option[String]): Seq[String] = {
    val root = new Path(from)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"COPY INTO source does not exist: $from")
    val rootUri = fs.makeQualified(root).toUri
    val all = PathModel.walk(fs, root).map(st => fs.makeQualified(st.getPath).toUri)
      .filter(u => rootUri.relativize(u).getPath.split('/')
        .forall(c => !c.startsWith("_") && !c.startsWith(".")))
      .map(_.toString)
    pattern match {
      case None => all
      case Some(g) =>
        val rx = ("^" + g.flatMap {
          case '*' => "[^/]*"
          case '?' => "[^/]"
          case c => java.util.regex.Pattern.quote(c.toString)
        } + "$").r
        // full-path globs match the SCHEMELESS path (users write them
        // against plain paths; the ledger still stores qualified URIs)
        if (g.contains('/')) all.filter(p =>
          rx.findFirstIn(new Path(p).toUri.getPath).isDefined)
        else all.filter(p =>
          rx.findFirstIn(new Path(p).getName).isDefined)
    }
  }

  /** Reads `files` as `format` self-described, then aligns the batch
    * to the table's logical schema BY NAME: same column SET required
    * (extra/missing columns refuse with the diff — COPY never evolves
    * schema), then a cast into the table's order and types. Matching
    * by name, never position, is the safety property: the table's
    * column order (partition columns last) need not match the file's.
    * CSV therefore needs its `header` option (headerless files
    * surface `_c0`-named columns and refuse with the diff). */
  private def readAligned(spark: SparkSession, dir: String,
      files: Seq[String], format: String,
      options: Map[String, String]): DataFrame = {
    val table = Versioned.snapshot(spark, dir).schema
    val reader = spark.read.options(options)
    val raw = format.toLowerCase match {
      case "parquet" => reader.parquet(files: _*)
      case "csv" => reader.csv(files: _*)
      case "json" => reader.json(files: _*)
      case other => throw new IllegalArgumentException(
        s"unsupported COPY INTO FILEFORMAT '$other': PARQUET, CSV and " +
          "JSON are supported")
    }
    val got = raw.columns.map(_.toLowerCase).toSet
    val want = table.fieldNames.map(_.toLowerCase).toSet
    require(got == want,
      s"COPY INTO batch schema does not match the table: missing " +
        s"${(want -- got).toSeq.sorted.mkString("[", ",", "]")}, extra " +
        s"${(got -- want).toSeq.sorted.mkString("[", ",", "]")} — COPY " +
        "never evolves schema (ALTER TABLE ... ADD COLUMN first)")
    raw.select(table.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** The COPY ledger as rows — one per (batch seq, source file) with
    * the batch's commit status from the txn rail (`committed=false`
    * marks an intent whose commit is pending recovery). Checkpointed
    * batches report through the fold's (seq, file) pairs — compaction
    * never loses per-batch attribution. Torn entries are omitted
    * (pre-drop debris, cleaned by the next run). The observability
    * read for the ingest loop: which uploads landed, which batch
    * brought them. */
  def ledger(spark: SparkSession, dir: String): Seq[(Long, String, Boolean)] = {
    val fs = fsOf(spark, dir)
    val hw = Versioned.lastTxn(spark, dir, txnId(dir))
    // entries FIRST, checkpoint SECOND — the same fold-race ordering
    // loadedFiles documents
    val tail = listEntries(fs, dir).flatMap { seq =>
      readEntryIfPresent(fs, dir, seq).map(_.files).getOrElse(Seq.empty)
        .map(f => (seq, f, hw >= seq))
    }
    val tailSeqs = tail.map(_._1).toSet
    readCkpt(fs, dir).map(_._2).getOrElse(Nil)
      .collect { case (seq, f) if !tailSeqs.contains(seq) =>
        (seq, f, true) } ++ tail // folds hold only committed
  }

  /** Run one COPY INTO batch. `force` reloads matching files even if
    * the ledger names them (the entry still records them — the ledger
    * is a set union, duplicates are harmless). */
  def run(spark: SparkSession, dir: String, from: String, format: String,
      pattern: Option[String] = None,
      options: Map[String, String] = Map.empty,
      force: Boolean = false): Result = {
    require(Versioned.currentVersion(spark, dir) >= 0,
      s"COPY INTO target is not a graft table: $dir — CREATE TABLE (or " +
        "Versioned.init) first")
    val fs = fsOf(spark, dir)
    val keys = Versioned.layoutPartitionKeys(spark, dir)
    val tid = txnId(dir)

    // ---- recovery/cleanup of the newest intent entry ----------------
    listEntries(fs, dir).lastOption.foreach { last =>
      if (Versioned.lastTxn(spark, dir, tid) < last) {
        readEntry(fs, dir, last) match {
          case Some(intent) =>
            // intent written, commit lost: replay EXACTLY this batch,
            // under the RECIPE the intent recorded — the recovering
            // invocation's own format/options may differ (a crashed
            // CSV batch replayed by a parquet COPY must not misparse);
            // legacy entries without a recipe use the current one
            val batch = readAligned(spark, dir, intent.files,
              intent.format.getOrElse(format),
              if (intent.format.isDefined) intent.options else options)
            Versioned.append(spark, dir, batch, keys,
              txn = Some((tid, last)))
          case None =>
            // torn intent, no commit can reference it: drop and proceed
            fs.delete(entryPath(dir, last), false)
        }
      } else if (readEntry(fs, dir, last).isEmpty) {
        // committed but torn should be impossible (the commit only runs
        // after a terminated entry) — refuse rather than double-load
        throw new IllegalStateException(
          s"COPY INTO ledger entry $last of $dir is torn but its commit " +
            "exists: the ledger cannot say what was loaded — repair the " +
            "entry from the commit's files before copying again")
      }
    }

    // ---- the new batch ----------------------------------------------
    val listed = listSource(spark, from, pattern)
    val loaded = loadedFiles(fs, dir)
    // legacy ledgers recorded scheme-stripped paths: a listed URI is
    // loaded when EITHER spelling is named
    def known(p: String): Boolean =
      loaded.contains(p) || loaded.contains(new Path(p).toUri.getPath)
    val fresh = if (force) listed else listed.filterNot(known)
    if (fresh.isEmpty) {
      compactBestEffort(spark, fs, dir)
      return Result(Versioned.currentVersion(spark, dir), 0L,
        listed.size.toLong)
    }
    // validate the batch BEFORE recording intent: a misaligned source
    // must fail with nothing written, not wedge recovery on a batch
    // that can never load (alignment checks run at construction)
    val batch = readAligned(spark, dir, fresh, format, options)
    val seq = math.max(
      listEntries(fs, dir).lastOption.getOrElse(-1L),
      readCkpt(fs, dir).map(_._1).getOrElse(-1L)) + 1L
    writeEntry(fs, dir, seq, fresh, format, options) // create-exclusive: concurrent COPY loses here
    if (haltBeforeCommit)
      throw new IllegalStateException("halt-before-commit (test seam)")
    val v = Versioned.append(spark, dir, batch, keys, txn = Some((tid, seq)))
    compactBestEffort(spark, fs, dir)
    Result(v, fresh.size.toLong, (listed.size - fresh.size).toLong)
  }
}
