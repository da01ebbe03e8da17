package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Predicate forms the one pruned read ([[Versioned.prunedScan]] over
  * [[Versioned.prunedScanCandidates]]) routes to per-file metadata:
  * ranges and null tests to the stats boxes, point/IN probes to the
  * blooms. Column names are LOGICAL (the mapping layer translates). */
sealed trait PrunePred { def column: String }
/** `column BETWEEN lo AND hi` — routed to min/max stats boxes. */
final case class PruneRange(column: String, lo: Double, hi: Double)
  extends PrunePred
/** `column IN (values...)` — routed to per-file bloom filters when
  * the column carries them; residual-only otherwise. */
final case class PruneIn(column: String, values: Seq[Any]) extends PrunePred
/** `column IS NULL` — files with a zero footer null-count skip. */
final case class PruneIsNull(column: String) extends PrunePred
/** `column IS NOT NULL` — all-null files skip. */
final case class PruneNotNull(column: String) extends PrunePred

/** The routing core's answer ([[Versioned.prunedScanCandidates]]):
  * the live files (abs-normalized, sorted) that survive every SERVED
  * predicate — all of them when `served` is empty — and each predicate
  * the source cannot serve, with the repair that would let it. A
  * [[PruneIn]] on a table with no bloom discipline is in neither list:
  * it prunes nothing and is left to the residual filter. */
final case class PruneCandidates(files: Seq[String],
    served: Seq[PrunePred], unserved: Seq[(PrunePred, String)])

/** Versioned (snapshot-isolated) lake: a minimal Delta/Iceberg-style
  * manifest layer over a Hive-partitioned parquet directory.
  *
  * Every row-level mutation of the engine ([[mergeInto]] and the
  * change-feed replicas of [[applyTableChanges]] among them) commits
  * here. Rewriting a partition in place (delete the directory, rename
  * a staged copy over it) would let a concurrent reader see the
  * partition missing and would lose history the moment it lands;
  * table formats solve both with a log: DATA FILES ARE IMMUTABLE, each
  * commit appends new files plus one manifest entry, and the manifest
  * write is the atomic commit point. This object is that protocol,
  * reduced to its load-bearing minimum — Delta's
  * delta-log-plus-checkpoint shape:
  *
  *  - most commits write a DELTA manifest `_manifest/v<N>.delta.txt`
  *    holding only `+file`/`-file` lines — bounded by the commit's own
  *    churn, NEVER by the size of the lake (a streaming sink committing
  *    every micro-batch to a million-file table writes manifest bytes
  *    proportional to the batch, not the table);
  *  - every [[CheckpointInterval]]-th commit (and v0) writes a full
  *    CHECKPOINT `_manifest/v<N>.txt` listing every live file, so
  *    resolving any version reads one checkpoint plus a bounded tail
  *    of deltas — no unbounded log replay, no compaction machinery;
  *  - commit METADATA (`#ts` commit timestamp, `#txn` streaming
  *    high-water marks, `#del` pending tombstone files) is re-published
  *    in full in EVERY manifest — it is small (one line per stream /
  *    pending tombstone file), and carrying it forward means the latest
  *    manifest alone answers [[lastTxn]] and [[deleteFilesAt]], and
  *    [[vacuum]]ing old manifests can never erase a stream's
  *    exactly-once marker (Delta's checkpoint discipline);
  *  - a commit writes data files FIRST (invisible to readers: nothing
  *    references them), then renames the manifest tmp into place — one
  *    metadata op, atomic on HDFS-like stores;
  *  - readers resolve a version (latest by default) and read exactly
  *    its file list; a reader holding version N is immune to any
  *    concurrent commit because commits never mutate or delete files
  *    (only [[vacuum]] deletes, and only files unreferenced by every
  *    retained version);
  *  - time travel = resolving an older version, by number
  *    ([[snapshot]]) or by commit timestamp ([[snapshotAsOf]]).
  *
  * Scale shape: per-commit driver I/O is bounded by the BATCH (delta
  * lines) plus one periodic checkpoint amortized over
  * [[CheckpointInterval]] commits; data movement is bounded by the
  * merge batch's touched partitions, never by the lake. Reference: Delta Lake's transaction protocol (public spec);
  * re-expressed from scratch on plain Hadoop FS + Spark reads.
  */
object Versioned {

  /** A full checkpoint manifest is written every this-many commits;
    * commits in between write delta manifests bounded by their own
    * churn. Any version resolves from one checkpoint plus at most
    * `CheckpointInterval - 1` deltas. */
  val CheckpointInterval = 10

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ckptPath(dir: String, v: Long) =
    new Path(dir, f"_manifest/v$v%06d.txt")
  private def deltaPath(dir: String, v: Long) =
    new Path(dir, f"_manifest/v$v%06d.delta.txt")

  /** One (version, isDelta) entry per manifest present. A checkpoint
    * shadows a same-version delta (the [[vacuum]] checkpoint-rewrite
    * crash window can briefly leave both). */
  private def listManifests(fs: FileSystem, dir: String): Seq[(Long, Boolean)] = {
    val md = new Path(dir, "_manifest")
    if (!fs.exists(md)) return Nil
    val names = fs.listStatus(md).map(_.getPath.getName)
    val ckpts = names.collect { case n if n.matches("v\\d+\\.txt") =>
      n.stripPrefix("v").stripSuffix(".txt").toLong }.toSet
    val deltas = names.collect { case n if n.matches("v\\d+\\.delta\\.txt") =>
      n.stripPrefix("v").stripSuffix(".delta.txt").toLong }.toSet
    (ckpts ++ deltas).toSeq.sorted.map(v => (v, !ckpts.contains(v)))
  }

  /** Latest committed version, or -1 if the lake is unversioned. */
  def currentVersion(spark: SparkSession, dir: String): Long =
    listManifests(fsOf(spark, dir), dir).map(_._1).foldLeft(-1L)(math.max)

  /** The OLDEST version still retained (vacuum moves it up; 0 on a
    * never-vacuumed table). Refuses on a non-table dir. */
  def earliestVersion(spark: SparkSession, dir: String): Long = {
    val vs = listManifests(fsOf(spark, dir), dir).map(_._1)
    require(vs.nonEmpty, s"no manifest in $dir — call init() first")
    vs.min
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Version `v`'s own manifest lines (checkpoint preferred). */
  private def manifestLinesAt(fs: FileSystem, dir: String, v: Long): Seq[String] = {
    val cp = ckptPath(dir, v)
    if (fs.exists(cp)) readLines(fs, cp)
    else {
      val dp = deltaPath(dir, v)
      require(fs.exists(dp), s"version $v does not exist in $dir")
      readLines(fs, dp)
    }
  }

  /** Version `v`'s meta lines ONLY — meta precedes file lines, so the
    * read stops at the first non-`#` line instead of loading a
    * checkpoint's whole O(files) listing. Every meta consumer
    * ([[lastTxn]], [[deleteFilesAt]], carry-forward, [[versionAsOf]],
    * [[history]]) pays O(meta), which is what lets commit metadata
    * ride a million-file checkpoint for free. */
  private def metaLinesAt(fs: FileSystem, dir: String, v: Long): Seq[String] = {
    val cp = ckptPath(dir, v)
    val p =
      if (fs.exists(cp)) cp
      else {
        val dp = deltaPath(dir, v)
        require(fs.exists(dp), s"version $v does not exist in $dir")
        dp
      }
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).takeWhile(_.startsWith("#")).toList
    finally in.close()
  }

  /** The highest `#ver` reader-protocol level this build understands.
    * Level 0 = the base protocol (manifests without `#ver`); level 1
    * adds the `#cdf` change-feed table property; level 2 adds `#ren`/
    * `#dropcol` column mapping; level 3 adds `#pkeys`/`#gen`; level 4
    * adds SCOPED tombstones (`#del <path> @<bound>` — the [[
    * mergeIntoMor]] row-level merge); level 5 adds METADATA-ONLY
    * schema additions (`#addcol` — [[addColumn]]) and POSITIONAL
    * deletion vectors (`#dv` — [[deleteWhereVectors]]). A manifest
    * demanding a higher
    * level is REFUSED (naming its features) instead of silently
    * misread — the Delta reader/writer-version discipline: these are
    * SEMANTICS-BEARING meta, and an old build that ignored them would
    * skip feed emission (silent CDF hole), read renamed columns under
    * their physical names, apply a scoped tombstone globally and
    * hide a MOR merge's own fresh rows, read an added column as
    * missing, or resurrect rows a deletion vector erased. Level 6
    * adds the PINNED PHYSICAL SCHEMA (`#schema` — [[widenColumn]]'s
    * type-widening rail): an old build ignoring it would infer the
    * table schema from parquet footers that legitimately DISAGREE
    * (pre-widen int files next to post-widen long files) and crash —
    * or silently read a narrow type — instead of reading every file
    * under the declared wide schema. Level 7 adds COLUMN DEFAULTS
    * (`#default` — [[setColumnDefault]]): write-time semantics, but
    * the single-level model gates writers through the read path — an
    * old build ignoring the rail would commit omitted columns as null
    * where the declaration promises a value, silently diverging from
    * every compliant writer. Level 8 adds the SCHEMA-ANCHOR REFERENCE
    * (`#anchor` — the attempt-unique anchor path the committing
    * definition owns): an old build ignoring the rail falls back to
    * the legacy versioned-filename scan and fails zero-file reads
    * loudly instead of serving the definition's declared schema. */
  val SupportedProtocol = 8

  /** A `#del` entry is either a plain tombstone path (applies to every
    * file — [[deleteWhere]]'s global equality delete) or `path @bound`
    * ([[mergeIntoMor]]): the tombstone applies ONLY to rows in files
    * ADDED BEFORE version `bound` — Iceberg's sequence-number rule,
    * spelled with the manifest's own add-versions. The committing
    * merge's fresh rows (added AT `bound`) are exempt by construction,
    * which is what lets an upsert ship as tombstone+insert with zero
    * partition rewrites. */
  private val DelScopedRe = "^(.*) @(\\d+)$".r
  private[lake] def delParse(e: String): (String, Option[Long]) = e match {
    case DelScopedRe(p, b) => (p, Some(b.toLong))
    case _ => (e, None)
  }

  /** A `#del` entry under `_deletes/dv_...` is a POSITIONAL DELETION
    * VECTOR (protocol level 5, [[deleteWhereVectors]]): a parquet of
    * (file, pos) rows naming exact row ordinals of exact live files —
    * the arbitrary-predicate MOR delete. Riding the `#del` rail buys
    * every tombstone discipline for free (carry-forward, vacuum
    * age-gating + reference-gating, clone/fastRowCount refusals,
    * materializeDeletes folding); only the READ-side join differs:
    * (source file, row ordinal) instead of key equality. */
  private[lake] def isDvRef(relPath: String): Boolean =
    relPath.startsWith("_deletes/dv_")

  /** ROW TRACKING's engine-owned id column (Delta's row tracking on
    * this protocol): a hidden BIGINT every row of an enabled table
    * carries, assigned by the `#ident` machinery at write time and
    * carried through rewrites because every rewrite path reads
    * [[snapshotAll]]. [[enableChangeFeed]] with an EMPTY rowKey keys
    * the change feed by it — keyless CDF. */
  private[graft] val RowIdCol = "__graft_rid"

  /** Column names of a deletion-vector parquet. */
  private[lake] val DvFileCol = "file"
  private[lake] val DvPosCol = "pos"

  /** The row-position column the DV read side joins on — attached at
    * SCAN time (`_metadata.row_index` does not survive a union, so
    * [[readRefs]] attaches it per root when asked; direct single-scan
    * frames get it attached inside [[tombstoneFilter]]). */
  private[lake] val DvSrcPos = "__graft_src_pos"

  private def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def b64d(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** One IDENTITY rule (`#ident` rail): `start`/`step` are the
    * declaration, `hw` is the LAST VALUE ASSIGNED so far (None until
    * the first assignment — next id is `start`), `allowExplicit` is
    * the ALWAYS/BY DEFAULT split (BY DEFAULT accepts supplied values
    * and syncs the high-water past them). */
  private[lake] final case class IdentRule(start: Long, step: Long,
      hw: Option[Long], allowExplicit: Boolean)

  /** Commit metadata carried in every manifest: the commit timestamp,
    * the FULL per-stream txn high-water map, the pending
    * equality-delete tombstone files, the table's CHECK constraints
    * (name → SQL expression, base64-armored so arbitrary expressions
    * round-trip one meta line each), the change-feed table property
    * (feed dir + row identity), and the column-mapping state (logical→
    * physical renames, dropped physical names). Meta lines precede
    * file lines. The `#ver` line is DERIVED at render time from the
    * features present (plus a carried floor), so a manifest can never
    * understate what its meta demands of a reader. */
  private[lake] final case class CommitMeta(ts: Option[Long],
      txns: Map[String, Long], dels: Seq[String],
      chks: Map[String, String] = Map.empty,
      op: Option[String] = None,
      verFloor: Int = 0,
      cdf: Option[Seq[String]] = None,
      cdfInc: Option[String] = None,
      renames: Map[String, String] = Map.empty,
      droppedCols: Seq[String] = Nil,
      pkeys: Option[Seq[String]] = None,
      gens: Map[String, String] = Map.empty,
      addCols: Seq[(String, String)] = Nil,
      cluster: Option[Seq[String]] = None,
      pinnedSchema: Option[String] = None,
      clusterAt: Option[Long] = None,
      defaults: Map[String, String] = Map.empty,
      idents: Map[String, IdentRule] = Map.empty,
      anchorRef: Option[String] = None) {
    /** (required reader level, feature names) demanded by this meta. */
    def protocol: (Int, Seq[String]) = {
      val fs = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      if (cdf.isDefined) fs += ((1, "change-feed"))
      if (renames.nonEmpty || droppedCols.nonEmpty) fs += ((2, "column-mapping"))
      if (pkeys.isDefined) fs += ((3, "partition-spec"))
      if (gens.nonEmpty) fs += ((3, "generated-columns"))
      if (dels.exists(e => delParse(e)._2.isDefined))
        fs += ((4, "scoped-tombstones"))
      if (addCols.nonEmpty) fs += ((5, "added-columns"))
      if (dels.exists(e => isDvRef(delParse(e)._1)))
        fs += ((5, "deletion-vectors"))
      if (pinnedSchema.isDefined) fs += ((6, "pinned-schema"))
      if (defaults.nonEmpty) fs += ((7, "column-defaults"))
      if (idents.nonEmpty) fs += ((7, "identity-columns"))
      if (anchorRef.isDefined) fs += ((8, "anchor-ref"))
      val v = (verFloor +: fs.map(_._1).toSeq).max
      (v, fs.map(_._2).toSeq)
    }
    /** The pinned physical DATA schema, parsed (None = infer from
      * footers, the pre-widening behavior). */
    def pinned: Option[org.apache.spark.sql.types.StructType] =
      pinnedSchema.map(j => org.apache.spark.sql.types.DataType
        .fromJson(b64d(j)).asInstanceOf[org.apache.spark.sql.types.StructType])
    def render: Seq[String] = {
      val (v, feats) = protocol
      (if (v > 0) Seq(s"#ver $v" +
        (if (feats.nonEmpty) " " + feats.mkString(",") else "")) else Nil) ++
        ts.map(t => s"#ts $t").toSeq ++
        op.map(o => s"#op $o").toSeq ++
        txns.toSeq.sortBy(_._1).map { case (id, b) => s"#txn $id $b" } ++
        dels.sorted.map(d => s"#del $d") ++
        chks.toSeq.sortBy(_._1).map { case (n, e) => s"#chk $n ${b64e(e)}" } ++
        cdf.map(key => s"#cdf ${b64e(key.mkString(","))}").toSeq ++
        cdfInc.map(rel => s"#cdfinc $rel").toSeq ++
        pkeys.map(ks => s"#pkeys ${b64e(ks.mkString(","))}").toSeq ++
        gens.toSeq.sortBy(_._1).map { case (n, e) =>
          s"#gen ${b64e(n)} ${b64e(e)}" } ++
        renames.toSeq.sortBy(_._1).map { case (l, p) =>
          s"#ren ${b64e(l)} ${b64e(p)}" } ++
        droppedCols.sorted.map(c => s"#dropcol ${b64e(c)}") ++
        addCols.map { case (n, t) => s"#addcol ${b64e(n)} ${b64e(t)}" } ++
        cluster.map(cs => s"#cluster ${b64e(cs.mkString(","))}").toSeq ++
        clusterAt.map(a => s"#clusterat $a").toSeq ++
        pinnedSchema.map(j => s"#schema $j").toSeq ++
        defaults.toSeq.sortBy(_._1).map { case (n, e) =>
          s"#default ${b64e(n)} ${b64e(e)}" } ++
        idents.toSeq.sortBy(_._1).map { case (n, r) =>
          s"#ident ${b64e(n)} ${r.start} ${r.step} " +
            s"${r.hw.map(_.toString).getOrElse("-")} ${r.allowExplicit}" } ++
        anchorRef.map(r => s"#anchor ${b64e(r)}").toSeq
    }
  }
  private[lake] object CommitMeta {
    val empty: CommitMeta = CommitMeta(None, Map.empty, Nil)

    // ----- THE RAIL REGISTRY -------------------------------------------
    // Every CommitMeta field is classified here EXACTLY ONCE, and the
    // class-load require() below fails the whole suite the moment a new
    // field is added without a classification. This exists because the
    // "new rail missing from an explicit field list" bug class bit three
    // times (cloneAt missed `defaults` and `idents`; the append retry
    // guard missed `defaults`): from now on the carry paths are
    // copy-based (a new rail CARRIES by construction) and the append
    // retry guard is derived from `appendSemantic` (a new rail is
    // guarded unless someone consciously argues it into `retrySafe`).

    /** Per-commit state — reset by every carry path (carryMeta sets
      * them fresh; cloneAt starts its own history). */
    val perCommit: Set[String] = Set("ts", "dels", "op", "cdfInc")

    /** Carried rails whose MOVEMENT under an in-flight append breaks
      * the batch already written under the old rules: a new change
      * feed would get a permanent hole (no `#cdfinc`), a new generated
      * column / identity / default was not filled into the staged
      * files (silent nulls / divergence from compliant writers), a
      * changed mapping or pinned schema invalidates the staged files'
      * physical spelling. The append retry bails to a caller re-run
      * when ANY of these differ from the meta the batch was built
      * against. */
    val appendSemantic: Map[String, CommitMeta => Any] = Map(
      "cdf" -> (_.cdf),
      "gens" -> (_.gens),
      "idents" -> (_.idents),
      "renames" -> (_.renames),
      "droppedCols" -> (_.droppedCols),
      "pinnedSchema" -> (_.pinnedSchema),
      "defaults" -> (_.defaults))

    /** Carried rails an in-flight append retry either RE-CHECKS itself
      * (chks re-enforced, pkeys re-specced, dels re-merged via
      * checkTombstones) or that cannot invalidate already-staged files:
      * `addCols` splices missing columns at READ time so old-schema
      * files commit fine; `cluster`/`clusterAt` are layout hints;
      * `txns` is the exactly-once high-water map (own lastTxn check);
      * `verFloor` is a monotone reader floor. */
    val retrySafe: Set[String] = Set("txns", "chks", "verFloor", "pkeys",
      "addCols", "cluster", "clusterAt",
      // the anchor only serves ZERO-FILE reads; an append's staged
      // files neither depend on it nor change it
      "anchorRef")

    /** Rails whose values INDEX INTO THIS TABLE'S VERSION HISTORY — a
      * clone restarts history at 0, so they cannot travel: a carried
      * `clusterAt=50` on a clone whose files all land at v0 would
      * claim every file (and every append until the clone's own
      * version passes the source's) as already laid out, making the
      * incremental-clustering pass skip exactly the files the source
      * knew were pending. Orthogonal to the three carry classes above
      * (must be a subset of them); [[cloneAll]] resets these. */
    val historyBound: Set[String] = Set("clusterAt")

    // exhaustiveness at CLASS LOAD: adding a CommitMeta field without
    // classifying it here fails every Versioned-touching test at once
    {
      val classified = perCommit ++ appendSemantic.keySet ++ retrySafe
      val actual = empty.productElementNames.toSet
      require(classified == actual,
        s"CommitMeta rail registry out of date: unclassified=" +
          s"${(actual -- classified).mkString(",")} stale=" +
          s"${(classified -- actual).mkString(",")} — classify every " +
          "new rail as perCommit, appendSemantic, or retrySafe")
      require((perCommit & appendSemantic.keySet).isEmpty &&
        (perCommit & retrySafe).isEmpty &&
        (appendSemantic.keySet & retrySafe).isEmpty,
        "CommitMeta rail registry: classifications must be disjoint")
      require(historyBound.subsetOf(classified),
        "CommitMeta rail registry: historyBound names an unknown field")
    }

    /** True when any append-semantic rail differs — the derived form
      * of the retry guard, so a future rail is guarded by default. */
    def railsMoved(a: CommitMeta, b: CommitMeta): Boolean =
      appendSemantic.values.exists(get => get(a) != get(b))

    /** The table-property carry, copy-based: EVERYTHING carries except
      * the per-commit fields, which the caller resets explicitly. A new
      * rail added to CommitMeta is carried here by construction. */
    def carryAll(prev: CommitMeta, ts: Long, op: String,
        dels: Seq[String], newTxn: Option[(String, Long)]): CommitMeta =
      prev.copy(ts = Some(ts), txns = prev.txns ++ newTxn.toMap,
        dels = dels, op = Some(op), cdfInc = None)

    /** [[carryAll]] for a CLONE: additionally resets the
      * [[historyBound]] rails — a clone's history restarts at 0, so
      * version stamps indexed into the SOURCE's history are
      * meaningless on it (the first bare OPTIMIZE on the clone does a
      * full layout and stamps fresh). This copy must reset exactly
      * the fields `historyBound` names; RegistrySpec pins that. */
    def cloneAll(prev: CommitMeta, ts: Long, op: String): CommitMeta =
      carryAll(prev, ts, op, Nil, None).copy(clusterAt = None)
  }

  private def parseMeta(lines: Seq[String]): CommitMeta = {
    var ts: Option[Long] = None
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val dels = scala.collection.mutable.ArrayBuffer.empty[String]
    val chks = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var op: Option[String] = None
    var ver = 0
    var verFeats: Seq[String] = Nil
    var cdf: Option[Seq[String]] = None
    var cdfInc: Option[String] = None
    var pkeys: Option[Seq[String]] = None
    var cluster: Option[Seq[String]] = None
    var pinnedSchema: Option[String] = None
    var clusterAt: Option[Long] = None
    var anchorRef: Option[String] = None
    val gens = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val defaults = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val idents = scala.collection.mutable.LinkedHashMap.empty[String, IdentRule]
    val rens = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val drops = scala.collection.mutable.ArrayBuffer.empty[String]
    val adds = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    lines.takeWhile(_.startsWith("#")).foreach { l =>
      if (l.startsWith("#ts ")) ts = Some(l.stripPrefix("#ts ").trim.toLong)
      else if (l.startsWith("#op ")) op = Some(l.stripPrefix("#op ").trim)
      else if (l.startsWith("#ver ")) {
        val toks = l.stripPrefix("#ver ").trim.split(' ')
        ver = toks(0).toInt
        verFeats = if (toks.length > 1) toks(1).split(',').toSeq else Nil
      } else if (l.startsWith("#txn ")) {
        // the batch id is the LAST token; everything before it is the
        // txn id (ids with spaces round-trip)
        val toks = l.stripPrefix("#txn ").trim.split(' ')
        txns(toks.init.mkString(" ")) = toks.last.toLong
      } else if (l.startsWith("#del ")) dels += l.stripPrefix("#del ").trim
      else if (l.startsWith("#chk ")) {
        val toks = l.stripPrefix("#chk ").trim.split(' ')
        chks(toks.init.mkString(" ")) = b64d(toks.last)
      } else if (l.startsWith("#cdf ")) {
        cdf = Some(b64d(l.stripPrefix("#cdf ").trim)
          .split(',').toSeq.filter(_.nonEmpty))
      } else if (l.startsWith("#cdfinc ")) {
        cdfInc = Some(l.stripPrefix("#cdfinc ").trim)
      } else if (l.startsWith("#pkeys ")) {
        pkeys = Some(b64d(l.stripPrefix("#pkeys ").trim)
          .split(',').toSeq.filter(_.nonEmpty))
      } else if (l.startsWith("#gen ")) {
        val toks = l.stripPrefix("#gen ").trim.split(' ')
        gens(b64d(toks(0))) = b64d(toks(1))
      } else if (l.startsWith("#ren ")) {
        val toks = l.stripPrefix("#ren ").trim.split(' ')
        rens(b64d(toks(0))) = b64d(toks(1))
      } else if (l.startsWith("#dropcol ")) {
        drops += b64d(l.stripPrefix("#dropcol ").trim)
      } else if (l.startsWith("#addcol ")) {
        val toks = l.stripPrefix("#addcol ").trim.split(' ')
        adds += ((b64d(toks(0)), b64d(toks(1))))
      } else if (l.startsWith("#cluster ")) {
        cluster = Some(b64d(l.stripPrefix("#cluster ").trim)
          .split(',').toSeq.filter(_.nonEmpty))
      } else if (l.startsWith("#schema ")) {
        pinnedSchema = Some(l.stripPrefix("#schema ").trim)
      } else if (l.startsWith("#clusterat ")) {
        clusterAt = Some(l.stripPrefix("#clusterat ").trim.toLong)
      } else if (l.startsWith("#default ")) {
        val toks = l.stripPrefix("#default ").trim.split(' ')
        defaults(b64d(toks(0))) = b64d(toks(1))
      } else if (l.startsWith("#ident ")) {
        val toks = l.stripPrefix("#ident ").trim.split(' ')
        idents(b64d(toks(0))) = IdentRule(toks(1).toLong, toks(2).toLong,
          if (toks(3) == "-") None else Some(toks(3).toLong),
          toks(4).toBoolean)
      } else if (l.startsWith("#anchor ")) {
        anchorRef = Some(b64d(l.stripPrefix("#anchor ").trim))
      }
    }
    // the protocol guard: refuse a manifest demanding a level this
    // build does not implement, NAMING the features — proceeding would
    // silently misread semantics-bearing meta (Delta's reader-version
    // refusal). Manifests without #ver are level 0 (backward compat).
    require(ver <= SupportedProtocol,
      s"manifest requires reader protocol $ver" +
        (if (verFeats.nonEmpty) s" (features: ${verFeats.mkString(", ")})"
         else "") +
        s"; this build supports up to $SupportedProtocol — upgrade the engine")
    CommitMeta(ts, txns.toMap, dels.toSeq, chks.toMap, op,
      verFloor = ver, cdf = cdf, cdfInc = cdfInc,
      renames = rens.toMap, droppedCols = drops.toSeq, pkeys = pkeys,
      gens = gens.toMap, addCols = adds.toSeq, cluster = cluster,
      pinnedSchema = pinnedSchema, clusterAt = clusterAt,
      defaults = defaults.toMap, idents = idents.toMap,
      anchorRef = anchorRef)
  }

  private def metaAt(spark: SparkSession, dir: String, v: Long): CommitMeta =
    parseMeta(metaLinesAt(fsOf(spark, dir), dir, v))

  /** Meta for commit `prevV + 1`: carries the full txn map and the
    * constraint set forward (adding `newTxn`), replaces the tombstone
    * list with `dels`, stamps the committing OPERATION (per-commit,
    * never carried — DESCRIBE HISTORY's operation column), and clamps
    * the commit timestamp monotonically non-decreasing (the Delta
    * clock-skew adjustment — [[versionAsOf]] relies on it). */
  private def carryMeta(spark: SparkSession, dir: String, prevV: Long,
      commitTs: Long, newTxn: Option[(String, Long)],
      dels: Seq[String], op: String = "commit"): CommitMeta = {
    val prev = if (prevV >= 0) metaAt(spark, dir, prevV) else CommitMeta.empty
    val ts = math.max(commitTs, prev.ts.getOrElse(Long.MinValue))
    // table properties carry forward BY CONSTRUCTION (the rail
    // registry's copy-based carry); op, dels, ts, cdfInc are per-commit
    CommitMeta.carryAll(prev, ts, op, dels, newTxn)
  }

  // Resolved-listing cache (Delta's snapshot cache): a committed
  // version's manifest is immutable — vacuum either deletes it
  // (entries invalidated below) or rewrites it content-equivalently —
  // so one (dir, version) resolution serves every later read in this
  // driver. Without it, a single mergeInto resolves the same version
  // several times (live list, snapshot, tombstone check), each paying
  // the O(files) checkpoint read the delta-manifest design otherwise
  // avoids. Bounded LRU; a vacuum by ANOTHER process is outside this
  // JVM's view, the same caveat as any driver-side metadata cache.
  private val resolveCache =
    new java.util.LinkedHashMap[(String, Long), Seq[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Seq[String]]): Boolean =
        size > 256
    }
  private def cacheGet(dir: String, v: Long): Option[Seq[String]] =
    resolveCache.synchronized(Option(resolveCache.get((dir, v))))
  private def cachePut(dir: String, v: Long, files: Seq[String]): Unit =
    resolveCache.synchronized(resolveCache.put((dir, v), files))
  private def cacheDrop(dir: String): Unit = {
    resolveCache.synchronized {
      resolveCache.keySet.removeIf(_._1 == dir)
    }
    cacheDropHooks.forEach(h => h(dir))
  }

  /** Invalidation fan-out for DERIVED per-(dir, version) caches built
    * on top of this resolution layer (the format relation cache in
    * [[graft.sources.GraftFileIndex]]): whenever a table's resolutions
    * drop here (vacuum, clone localization, restore-with-reap), every
    * registered hook drops its entries for the same dir — one
    * invalidation discipline, defined once. */
  private[graft] val cacheDropHooks =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()

  /** SQL `DROP TABLE` (and CTAS-failure cleanup): remove a versioned
    * table — manifest log, data files, sidecars, the directory itself —
    * and drop every cached resolution/relation for it. Refuses
    * directories WITHOUT a manifest: this must never be a generic
    * `rm -rf` (the SQL surface hands it user-supplied paths). History
    * goes with the table (Delta path-table semantics — DROP is not a
    * soft delete). A SHALLOW CLONE of this table holds absolute foreign
    * refs into it and would dangle — same hazard Delta documents; clone
    * owners localize first (OPTIMIZE materializes foreign refs). */
  def dropTable(spark: SparkSession, dir: String): Unit = {
    require(currentVersion(spark, dir) >= 0,
      s"$dir is not a versioned graft table (no _manifest) — refusing to " +
        "delete a directory this protocol does not own")
    cacheDrop(dir)
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    require(fs.delete(p, true), s"DROP TABLE: could not delete $dir")
  }

  /** Relative data-file paths live at `version` (latest if -1),
    * resolved as newest-checkpoint-at-or-below plus its delta tail
    * (memoized per (dir, version) — see the cache note above). */
  def filesAt(spark: SparkSession, dir: String, version: Long = -1L): Seq[String] = {
    val fs = fsOf(spark, dir)
    val v =
      if (version >= 0) version
      else listManifests(fs, dir).map(_._1).foldLeft(-1L)(math.max)
    require(v >= 0, s"no manifest in $dir — call init() first")
    cacheGet(dir, v).getOrElse {
      val ms = listManifests(fs, dir)
      require(ms.exists(_._1 == v), s"version $v does not exist in $dir")
      // protocol guard on EVERY resolution path, not just meta readers:
      // parseMeta refuses a manifest demanding a reader level this
      // build lacks (v's meta is the strictest in its own history —
      // the #ver floor carries forward)
      parseMeta(metaLinesAt(fs, dir, v))
      val base = ms.collect { case (mv, false) if mv <= v => mv }
        .foldLeft(-1L)(math.max)
      require(base >= 0,
        s"version $v of $dir has no checkpoint manifest at or below it (vacuumed?)")
      val files = scala.collection.mutable.LinkedHashSet.empty[String]
      manifestLinesAt(fs, dir, base).filterNot(_.startsWith("#")).foreach(files += _)
      ((base + 1) to v).foreach { dv =>
        manifestLinesAt(fs, dir, dv).filterNot(_.startsWith("#")).foreach { l =>
          if (l.startsWith("+")) files += l.drop(1)
          else if (l.startsWith("-")) files -= l.drop(1)
          else throw new IllegalArgumentException(
            s"manifest v$dv of $dir between checkpoints is not in delta form: '$l'")
        }
      }
      val resolved = files.toSeq.sorted
      cachePut(dir, v, resolved)
      resolved
    }
  }

  /** Highest batch id committed under `txnId`, or -1 — the Delta
    * `txn` action: an idempotent writer (a streaming sink) stamps each
    * commit with `(txnId, batchId)` and skips batches at or below the
    * recorded high-water mark on replay. The full high-water map rides
    * EVERY manifest, so this reads only the latest one — O(1), and
    * immune to [[vacuum]] (a reaped manifest's markers live on in every
    * later manifest). Falls back to a newest-first scan of retained
    * manifests for lakes whose older commits predate the carry
    * discipline. */
  def lastTxn(spark: SparkSession, dir: String, txnId: String): Long = {
    val fs = fsOf(spark, dir)
    val ms = listManifests(fs, dir)
    val cur = ms.map(_._1).foldLeft(-1L)(math.max)
    if (cur < 0) return -1L
    metaAt(spark, dir, cur).txns.get(txnId) match {
      case Some(b) => b
      case None =>
        ms.map(_._1).filter(_ < cur).sorted.reverse.iterator
          .map(v => parseMeta(metaLinesAt(fs, dir, v)).txns.get(txnId))
          .collectFirst { case Some(b) => b }.getOrElse(-1L)
    }
  }

  /** Commit timestamp of `version` (absent only on legacy manifests
    * written before timestamps were recorded). */
  def commitTimeAt(spark: SparkSession, dir: String, version: Long): Option[Long] =
    metaAt(spark, dir, version).ts

  /** `TIMESTAMP AS OF`: the newest version whose commit timestamp is
    * at or before `tsMillis`. Commit timestamps are monotonically
    * non-decreasing (the commit path clamps clock skew), so the
    * newest-first scan stops at the first hit. */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val fs = fsOf(spark, dir)
    val ms = listManifests(fs, dir)
    require(ms.nonEmpty, s"no manifest in $dir — call init() first")
    ms.map(_._1).sorted.reverse.iterator
      .map(v => v -> parseMeta(metaLinesAt(fs, dir, v)).ts)
      .collectFirst { case (v, Some(t)) if t <= tsMillis => v }
      .getOrElse(throw new IllegalArgumentException(
        s"timestamp $tsMillis is before the earliest retained commit of $dir"))
  }

  /** [[snapshot]] at [[versionAsOf]] `tsMillis`. */
  def snapshotAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    snapshot(spark, dir, versionAsOf(spark, dir, tsMillis))

  // ---- manifest file references -----------------------------------
  // A manifest file entry is either a RELATIVE path (this table's own
  // data file) or a FOREIGN reference `@<root>\t<rel>` introduced by
  // [[cloneAt]] — a zero-copy pointer into another table's immutable
  // data files (Delta's shallow clone). Foreign refs read with their
  // OWN root as basePath (partition columns still parse from the
  // source's Hive paths) and are dropped partition-by-partition as
  // copy-on-write commits localize them.

  /** Is this manifest entry a foreign (cloned) reference? */
  def refIsForeign(ref: String): Boolean = ref.startsWith("@")

  /** The entry's path relative to its root (partition-dir logic —
    * touched-partition matching, layout grouping — runs on this). */
  def refRel(ref: String): String =
    if (refIsForeign(ref)) ref.drop(1).split('\t')(1) else ref

  /** The entry's root directory (`dir` for the table's own files). */
  def refRoot(dir: String, ref: String): String =
    if (refIsForeign(ref)) ref.drop(1).split('\t')(0) else dir

  /** The entry's full path. */
  def refPath(dir: String, ref: String): String =
    s"${refRoot(dir, ref)}/${refRel(ref)}"

  /** Read a set of manifest entries as ONE DataFrame: entries group by
    * root, each group reads with its root as `basePath` (so partition
    * columns parse from the correct Hive prefix), groups align by
    * column name (a clone may have evolved past its source).
    *
    * `pinned` (the version's `#schema`, when type widening is in
    * force) replaces footer inference entirely: every file reads under
    * the DECLARED physical data schema — parquet's vectorized reader
    * promotes narrow stored types (int32 under a bigint request) and
    * null-fills requested-but-absent columns, so pre-widen and
    * post-widen files coexist in one scan where a mergeSchema
    * inference would refuse to merge their footers. Partition columns
    * are not in the pin; Spark appends them from the Hive paths. */
  private def readRefs(spark: SparkSession, dir: String,
      refs: Seq[String], withPos: Boolean = false,
      pinned: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val byRoot = refs.groupBy(r => refRoot(dir, r)).toSeq.sortBy(_._1)
    byRoot.map { case (root, rs) =>
      val r0 = spark.read.option("basePath", root)
      val reader = pinned match {
        case Some(s) => r0.schema(s)
        // no pin: when every footer in the group carries the same
        // Spark schema (the common, un-evolved case), serve it
        // explicitly — same contract as the pin (partition columns
        // attach from the Hive paths), minus the per-read mergeSchema
        // inference job. Heterogeneous groups keep the distributed
        // merge, whose field ordering this must not re-derive.
        case None =>
          uniformSchemaLocal(spark,
            rs.map(r => new Path(s"$root/${refRel(r)}"))) match {
            case Some(s) => r0.schema(s)
            case None => r0.option("mergeSchema", "true")
          }
      }
      val d = reader.parquet(rs.map(r => s"$root/${refRel(r)}"): _*)
      // row positions for the deletion-vector anti-join must attach
      // PER ROOT: `_metadata.row_index` resolves only on a direct file
      // scan, never through the union below
      if (withPos) d.withColumn(DvSrcPos, col("_metadata.row_index")) else d
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Does `version` carry pending deletion vectors? (drives the
    * row-position attach on the raw read paths) */
  private def hasDvAt(spark: SparkSession, dir: String, version: Long): Boolean =
    metaAt(spark, dir, version).dels.exists(e => isDvRef(delParse(e)._1))

  /** Recursive data-file listing (relative, with byte length — the
    * listing's own statuses carry it, zero extra RPCs), excluding
    * metadata (`_manifest`, `_SUCCESS`, dotfiles). Driver-side,
    * bounded by file count — the same cost as the listing every
    * unversioned read does. */
  private def listDataFilesWithLen(fs: FileSystem, root: Path,
      sub: Path): Seq[(String, Long)] = {
    if (!fs.exists(sub)) return Nil
    val rootUri = root.toUri.getPath.stripSuffix("/")
    PathModel.walk(fs, sub).flatMap { st =>
      val f = st.getPath
      val rel = f.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      if (f.getName.endsWith(".parquet") &&
          !rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
        Some((rel, st.getLen))
      else None
    }.sortBy(_._1)
  }

  private def listDataFiles(fs: FileSystem, root: Path, sub: Path): Seq[String] =
    listDataFilesWithLen(fs, root, sub).map(_._1)

  // ---- manifest-recorded file sizes (`#bytes` trailing lines) ------
  // Writers KNOW each staged file's size at commit time: [[stage]]
  // returns it in its [[Staged]] value, read off the staging listing's
  // own statuses (zero extra RPCs), and the commit hands that map to
  // [[writeCommit]] as an argument — a CAS retry re-emits it by
  // passing the same value again; [[init]] passes its adoption
  // listing's sizes and [[cloneAt]] the source manifests' records.
  // Every commit records `#bytes <b64 ref> <len>` for the files it
  // adds, AFTER the file lines (meta readers stop at the first file
  // line, so the meta path stays O(meta); file-list readers skip
  // `#`-lines anywhere, so old builds and old manifests are
  // unaffected — the rail is advisory and needs no protocol bump).
  // DESCRIBE DETAIL and OPTIMIZE's binpack sizing then resolve sizes
  // from the manifests they already read instead of issuing one
  // driver getFileStatus per live file — at millions of files that is
  // minutes of sequential RPC wall-clock become a handful of text reads.

  /** Diagnostic counter: per-file byte-size fallback probes issued by
    * [[fileSizesAt]] — the seam the zero-FS-calls spec pins (mirrors
    * [[optimizeFileStatProbes]]). Thread-safe; readers take deltas of
    * `sum()`. */
  private[graft] val sizeStatProbes = new java.util.concurrent.atomic.LongAdder

  /** The per-file sizes the manifests THEMSELVES record for version
    * `version`'s live files — newest-first walk over the retained
    * manifests' trailing `#bytes` lines, stopping as soon as the live
    * set is covered (a file's size is an immutable fact; any record of
    * it is authoritative). Metadata-only: O(retained manifests) small
    * text reads, ZERO per-file RPCs. Files whose recording commit was
    * vacuumed (or predates the rail) are simply absent — callers fall
    * back ([[fileSizesAt]]) or skip. */
  def fileSizesKnown(spark: SparkSession, dir: String,
      version: Long = -1L): Map[String, Long] = {
    val fs = fsOf(spark, dir)
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val live = filesAt(spark, dir, v).toSet
    val acc = scala.collection.mutable.Map.empty[String, Long]
    // `#bytes <ref> -1` = RECORDED-UNKNOWABLE: a roll-up checkpoint
    // proved no retained manifest records this file's size (pre-rail
    // history). Counts as coverage so the walk terminates; excluded
    // from the returned map so callers fall back lazily as for any
    // absent file.
    val unknowable = scala.collection.mutable.Set.empty[String]
    val it = listManifests(fs, dir).map(_._1).filter(_ <= v)
      .sorted.reverse.iterator
    var sawRollup = false
    while ((acc.size + unknowable.size) < live.size && !sawRollup &&
        it.hasNext) {
      val mv = it.next()
      manifestSizeWalkReads.increment()
      manifestLinesAt(fs, dir, mv).foreach { l =>
        if (l.startsWith("#bytes ")) {
          val toks = l.stripPrefix("#bytes ").trim.split(' ')
          val r = b64d(toks(0))
          val n = toks(1).toLong
          if (live.contains(r) && !acc.contains(r) &&
              !unknowable.contains(r)) {
            if (n < 0) unknowable += r else acc(r) = n
          }
        } else if (l == "#bytesall") {
          // roll-up checkpoint: it carries EVERY size the rail knew at
          // its version — nothing older can add coverage, stop here
          // (pre-roll-up checkpoints lack the marker and keep walking)
          sawRollup = true
        }
      }
    }
    acc.toMap
  }

  /** Diagnostic counter: manifests TEXT-READ by [[fileSizesKnown]]'s
    * newest-first walk — the roll-up spec pins it at
    * ≤ CheckpointInterval + 1 on any history depth. Thread-safe;
    * readers take deltas of `sum()`. */
  private[lake] val manifestSizeWalkReads =
    new java.util.concurrent.atomic.LongAdder

  /** Diagnostic counter: manifests TEXT-READ by the CHECKPOINT
    * write-side roll-up walk — the `-1` sentinel spec pins it: once a
    * roll-up stamped pre-rail files recorded-unknowable, later
    * checkpoints stop at it instead of re-reading all history.
    * Thread-safe; readers take deltas of `sum()`. */
  private[lake] val rollupWalkReads =
    new java.util.concurrent.atomic.LongAdder

  /** Sizes for EVERY file live at `version`: manifest-recorded where
    * available, one `getFileStatus` per uncovered file otherwise (the
    * lazy fallback for pre-rail history — counted by
    * [[sizeStatProbes]]). */
  def fileSizesAt(spark: SparkSession, dir: String,
      version: Long = -1L): Map[String, Long] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    val known = fileSizesKnown(spark, dir, v)
    val fs = fsOf(spark, dir)
    filesAt(spark, dir, v).map { r =>
      r -> known.getOrElse(r, {
        sizeStatProbes.increment()
        fs.getFileStatus(new Path(refPath(dir, r))).getLen
      })
    }.toMap
  }

  /** Test seam: runs after a committing write path's data files land
    * in the staging directory, before they move into the table — the
    * window where a CONCURRENT writer's files appear in the shared
    * partition directories. The staged-write discipline below must
    * keep this writer's file identification immune to them. */
  private[lake] var afterDataWriteHook: () => Unit = () => ()

  /** What one [[stage]] call added to the table: the files (relative
    * refs, listing order), each file's byte length (for the committing
    * manifest's `#bytes` lines — pass `sizes` to [[writeCommit]]), and
    * whether the write held ZERO rows. */
  private final case class Staged(files: Seq[String],
      sizes: Map[String, Long], empty: Boolean) {
    /** Delete the staged files (a refused or dropped leg). */
    def discard(fs: FileSystem, dir: String): Unit =
      files.foreach(r => fs.delete(new Path(dir, r), false))
  }

  /** THE staged write: every file a commit adds goes through here, and
    * here alone decides what an empty staged write means.
    *
    * DATA mode (no `sidecar`): write `df` (already repartitioned /
    * clustered by the caller) Hive-partitioned into a WRITER-PRIVATE
    * `_staging_<nonce>` directory, then move each part file into its
    * partition directory. This is how a commit identifies its own
    * files. The obvious alternative — diffing a before/after listing
    * of the touched partition directories — is wrong under
    * concurrency: with two writers on the same partition, A's diff
    * captures B's data files written after B's Spark job but before
    * B's manifest CAS, so A's manifest would publish B's
    * possibly-uncommitted data (duplicates on B's replay, or stale
    * rows if B aborts). Listing the private staging dir makes the
    * identification exact by construction; the per-file rename is a
    * metadata op on HDFS-like stores, and Spark's task-UUID part names
    * cannot collide with concurrent writers' files. The staging dir is
    * `_`-prefixed, so readers and [[listDataFiles]] never see it.
    *
    * SIDECAR mode (`sidecar = Some(prefix)`): a tombstone or deletion
    * vector written under a fresh `prefix<nonce>` directory (a key
    * list is `coalesce(1)`d; a deletion vector keeps its scan's
    * partitions, one file each). A write that leaves no parquet file
    * is an FS/committer fault, never a no-match (an empty write stages
    * a schema-only file) — refused loudly.
    *
    * ONE zero-row rule for both modes: a file is kept only when it
    * holds rows. A PARTITIONED data write creates files only for rows
    * that exist, so no footer is read; every other write (an
    * unpartitioned write's first task creates a part file even when
    * its partition is empty, and so does every empty task of a
    * sidecar) reads each staged file's footer row count on the driver
    * (zero jobs). Zero-row files are deleted, never committed beside
    * real ones. When no file holds rows, `empty` is set: a sidecar
    * leaves nothing behind, and a data write keeps exactly one file as
    * the schema carrier a zero-row version reads its schema from —
    * callers that must not commit it [[Staged.discard]] it. */
  private def stage(spark: SparkSession, dir: String, df: DataFrame,
      partitionKeys: Seq[String] = Nil, maxRecordsPerFile: Option[Long] = None,
      sidecar: Option[String] = None): Staged = {
    val fs = fsOf(spark, dir)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    def holdsRows(p: Path) = countFooterRows(spark, Seq(p.toString)) > 0L
    sidecar match {
      case Some(prefix) =>
        val rel = prefix + nonce
        df.write.mode("errorifexists").parquet(s"$dir/$rel")
        val parts = PathModel.walk(fs, new Path(dir, rel), recursive = false)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(st => s"$rel/${st.getPath.getName}" -> st.getLen)
        require(parts.nonEmpty,
          s"staging write produced no parquet files under $rel")
        val (kept, zero) = parts.partition(p => holdsRows(new Path(dir, p._1)))
        if (kept.isEmpty) fs.delete(new Path(dir, rel), true)
        else zero.foreach(p => fs.delete(new Path(dir, p._1), false))
        Staged(kept.map(_._1), kept.toMap, empty = kept.isEmpty)
      case None =>
        val staging = new Path(dir, "_staging_" + nonce)
        try {
          val w0 = df.write.mode("append").partitionBy(partitionKeys: _*)
          maxRecordsPerFile.fold(w0)(n => w0.option("maxRecordsPerFile", n))
            .parquet(staging.toString)
          val listed = listDataFilesWithLen(fs, staging, staging)
          afterDataWriteHook()
          val withRows =
            if (partitionKeys.nonEmpty) listed
            else listed.filter(p => holdsRows(new Path(staging, p._1)))
          val kept = if (withRows.nonEmpty) withRows else listed.take(1)
          kept.foreach { case (rel, _) =>
            val src = new Path(staging, rel)
            val dst = new Path(dir, rel)
            fs.mkdirs(dst.getParent)
            require(fs.rename(src, dst), s"staged-file move failed: $src -> $dst")
          }
          Staged(kept.map(_._1), kept.toMap, empty = withRows.isEmpty)
        } finally fs.delete(staging, true)
    }
  }

  private def writeManifestFile(fs: FileSystem, dst: Path,
      body: Seq[String]): Path = {
    fs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, dst.getName + "." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((body.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    tmp
  }

  /** The ONE atomic metadata primitive the whole protocol rests on:
    * publish version `v`'s manifest body such that EXACTLY ONE writer
    * of a version succeeds and every other gets the
    * `concurrent commit` refusal — the compare-and-swap all commit
    * paths (append, merge, MOR merge, optimize, delete, restore,
    * properties) serialize through. Pluggable because the default
    * implementation's atomicity assumption — rename-onto-existing
    * fails — holds on HDFS-like stores but NOT on S3, the engine's
    * stated 100 TB habitat: there a deployment swaps in an owner
    * built on the store's conditional put (S3 `If-None-Match:*` /
    * GCS `ifGenerationMatch=0`) or an external reservation table
    * (Delta's S3 LogStore + DynamoDB discipline). Everything else in
    * the protocol is plain read/list/write of immutable objects. */
  trait CommitOwner {
    /** Publish `body` as version `v`'s manifest at `dst`, refusing
      * (IllegalArgumentException mentioning `concurrent commit`) if
      * version `v` exists in EITHER manifest form (`alternate` is the
      * other form's path). */
    def writeVersion(fs: FileSystem, dir: String, v: Long,
        dst: Path, alternate: Path, body: Seq[String]): Unit
  }

  /** Default owner: tmp write + exists-check + promote. The promote
    * is one atomic metadata op whose failure-on-existing is what makes
    * it a CAS: on HDFS-style stores that is `rename` (refuses an
    * existing destination); on LOCAL file systems POSIX `rename(2)`
    * silently REPLACES an existing destination — two racers passing
    * the exists check together would clobber one manifest and lose a
    * commit (the ConcurrencyStressSpec thread race catches exactly
    * this) — so the local promote is `link(2)` via
    * `Files.createLink`, which is atomic create-if-absent by POSIX
    * contract. */
  object RenameCommitOwner extends CommitOwner {
    private def isLocal(fs: FileSystem): Boolean = {
      val s = fs.getUri.getScheme
      s == null || s == "file"
    }
    override def writeVersion(fs: FileSystem, dir: String, v: Long,
        dst: Path, alternate: Path, body: Seq[String]): Unit = {
      val tmp = writeManifestFile(fs, dst, body)
      if (fs.exists(dst) || fs.exists(alternate)) {
        fs.delete(tmp, false)
        throw new IllegalArgumentException(
          s"concurrent commit detected: version $v already exists in $dir")
      }
      if (isLocal(fs)) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          fs.delete(tmp, false)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            fs.delete(tmp, false)
            throw new IllegalArgumentException(
              s"concurrent commit detected: version $v already exists in $dir")
        }
      } else if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        // a rename that refuses because dst appeared inside the
        // exists-check→rename window is a LOST CAS, not an IO fault —
        // it must carry the `concurrent commit` marker every retry/
        // rebase loop (append, mergeIntoRetry, mergeIntoMor, optimize)
        // matches on, or an HDFS-style store aborts the writer instead
        // of retrying
        if (fs.exists(dst) || fs.exists(alternate))
          throw new IllegalArgumentException(
            s"concurrent commit detected: version $v already exists in $dir")
        throw new IllegalStateException(s"manifest commit failed for $dst")
      }
    }
  }

  /** Conditional-put owner: models a store with NO atomic rename but
    * a put-if-absent primitive — the version CAS is a per-(dir, v)
    * reservation in a shared table (in production: the object store's
    * conditional PUT on the manifest key, or a DynamoDB row à la
    * Delta's S3 commit service), and the manifest bytes are written
    * plainly AFTER the reservation is won. A crash between
    * reservation and write leaves a reserved-but-absent version; a
    * production owner re-drives the write from its reservation log —
    * the in-memory table here exists so the concurrency spec can
    * prove the PROTOCOL (every race in the suite) needs nothing
    * stronger than put-if-absent. */
  object MemoryConditionalPutOwner extends CommitOwner {
    private val reserved =
      java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()
    def reset(): Unit = reserved.clear()
    override def writeVersion(fs: FileSystem, dir: String, v: Long,
        dst: Path, alternate: Path, body: Seq[String]): Unit = {
      // adopt pre-existing manifests (lakes built under the rename
      // owner): a version already on disk counts as reserved
      if (!reserved.add((dir, v)) || fs.exists(dst) || fs.exists(alternate))
        throw new IllegalArgumentException(
          s"concurrent commit detected: version $v already exists in $dir")
      // reservation won. The manifest must still APPEAR atomically —
      // an object store's conditional PUT gives that for free (the
      // object is invisible until complete); a plain fs.create here
      // would let a concurrent reader observe a half-written manifest
      // (and cache the truncated resolution — the stress spec caught
      // a lost row exactly this way). tmp + rename simulates the
      // atomic appearance; it is NOT the CAS — the reservation above
      // already arbitrated, so this rename can never race a sibling.
      val tmp = writeManifestFile(fs, dst, body)
      require(fs.rename(tmp, dst), s"manifest publish failed for $dst")
    }
  }

  /** The commit owner in force (a deployment-level choice, not
    * per-table). Swap before touching any table on a store whose
    * rename is not atomic. */
  @volatile var commitOwner: CommitOwner = RenameCommitOwner

  /** Write version `v`'s manifest — THE commit point, one atomic
    * metadata op through [[commitOwner]]. Delta form (`+file`/`-file`
    * vs `prevFiles`, bounded by the commit's own churn) unless the
    * checkpoint cadence — or v0, or `forceCheckpoint` — calls for a
    * full listing. The version-exists refusal is the
    * optimistic-concurrency guard (Delta's CAS-on-log-entry): a
    * racing writer that committed the same version first wins, and
    * this commit aborts with its data files unreferenced
    * (vacuum-able) rather than clobbering the winner's manifest.
    * `sizes` are the byte lengths of the files this commit adds
    * ([[Staged.sizes]]), recorded as `#bytes` lines. */
  private def writeCommit(fs: FileSystem, dir: String, v: Long,
      files: Seq[String], prevFiles: Seq[String], meta: CommitMeta,
      sizes: Map[String, Long] = Map.empty,
      forceCheckpoint: Boolean = false): Unit = {
    val baseCkpt = listManifests(fs, dir)
      .collect { case (mv, false) if mv < v => mv }.foldLeft(-1L)(math.max)
    val isCkpt = forceCheckpoint || v == 0L || baseCkpt < 0 ||
      (v - baseCkpt) >= CheckpointInterval
    // trailing `#bytes` lines for the files THIS commit adds (see the
    // sizes-rail note): after the file lines, so meta stays O(meta);
    // skipped by every file-list reader (`#` lines)
    // CHECKPOINTS additionally ROLL UP the rail: every live file's
    // size the retained manifests record bakes into the checkpoint
    // (plus a `#bytesall` completeness marker), so [[fileSizesKnown]]'s
    // newest-first walk STOPS at the newest checkpoint instead of
    // scanning O(retained manifests) of text — the walk here is itself
    // capped by the PREVIOUS roll-up, so the amortized cost is one
    // ~CheckpointInterval-manifest read per checkpoint, never O(history).
    val rolled = scala.collection.mutable.Map.empty[String, Long]
    if (isCkpt && v > 0L) {
      val liveSet = files.toSet
      // count ONLY entries that are live here — overcounting coverage
      // would stop the walk early and stamp #bytesall over a hole
      val stagedLive = sizes.keysIterator.count(liveSet.contains)
      val it = listManifests(fs, dir).filter(_._1 < v)
        .sortBy(-_._1).iterator
      // the WRITE-side walk does NOT stop at an older #bytesall: a
      // RESTORE can resurrect files whose only size record predates
      // the previous marker — the checkpoint is the one place that
      // heals such gaps (amortized: 1-in-CheckpointInterval commits,
      // and the walk ends as soon as coverage completes). A previous
      // roll-up's `-1` sentinels count as coverage here too, so a
      // pre-rail file with no record ANYWHERE stops the walk at the
      // last checkpoint instead of forcing a full-history re-read on
      // every checkpoint forever.
      while (it.hasNext && (rolled.size + stagedLive) < liveSet.size) {
        val (mv, _) = it.next()
        rollupWalkReads.increment()
        manifestLinesAt(fs, dir, mv).foreach { l =>
          if (l.startsWith("#bytes ")) {
            val toks = l.stripPrefix("#bytes ").trim.split(' ')
            val r = b64d(toks(0))
            if (liveSet.contains(r) && !rolled.contains(r) &&
                !sizes.contains(r)) rolled(r) = toks(1).toLong
          }
        }
      }
      // manifests EXHAUSTED with live files still uncovered: no
      // retained manifest records their size (pre-rail history).
      // Stamp them RECORDED-UNKNOWABLE (`-1`) so this checkpoint
      // completes the rail's coverage and every later walk terminates
      // here; a restore-resurrected file is unaffected (it was not
      // live at this checkpoint, so it gets no sentinel, and its real
      // record — wherever it is — still wins a later walk).
      if (!it.hasNext && (rolled.size + stagedLive) < liveSet.size) {
        liveSet.foreach { f =>
          if (!rolled.contains(f) && !sizes.contains(f)) rolled(f) = -1L
        }
      }
    }
    val sizeLines = (files.filter(sizes.contains).map(f => f -> sizes(f)) ++
      rolled.toSeq).sortBy(_._1)
      .map { case (f, n) => s"#bytes ${b64e(f)} $n" } ++
      (if (isCkpt) Seq("#bytesall") else Nil)
    val body =
      if (isCkpt) meta.render ++ files.sorted ++ sizeLines
      else {
        val prev = prevFiles.toSet
        val cur = files.toSet
        meta.render ++
          (cur -- prev).toSeq.sorted.map("+" + _) ++
          (prev -- cur).toSeq.sorted.map("-" + _) ++ sizeLines
      }
    val (dst, alt) =
      if (isCkpt) (ckptPath(dir, v), deltaPath(dir, v))
      else (deltaPath(dir, v), ckptPath(dir, v))
    commitOwner.writeVersion(fs, dir, v, dst, alt, body)
  }

  /** The raw CAS commit, exposed for the concurrency spec: commits
    * `files` as version `v` (always a full checkpoint), failing if
    * `v` already exists. Carries the previous version's meta forward. */
  private[lake] def commitManifest(spark: SparkSession, dir: String,
      v: Long, files: Seq[String]): Unit = {
    val fs = fsOf(spark, dir)
    val prevMeta =
      if (v > 0 && listManifests(fs, dir).exists(_._1 == v - 1))
        metaAt(spark, dir, v - 1)
      else CommitMeta.empty
    writeCommit(fs, dir, v, files, Nil, prevMeta.copy(op = Some("commit")),
      forceCheckpoint = true)
  }

  /** Equality-delete (tombstone) files live at `version` — relative
    * paths recorded as `#del <path>` manifest lines (carried in full
    * in every manifest). Empty for lakes that never used
    * [[deleteWhere]] (and after [[materializeDeletes]]). */
  def deleteFilesAt(spark: SparkSession, dir: String, version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    metaAt(spark, dir, v).dels
  }

  /** The data files an [[init]] (or SQL CONVERT) of `dir` would adopt,
    * WITHOUT writing anything — the pre-flight for adoption verbs: an
    * empty or mistyped directory must refuse before any manifest
    * artifact exists (a v0 written first would wedge the retry with
    * "already a graft table" and hide later-landing files behind an
    * empty listing). */
  def adoptableFiles(spark: SparkSession, dir: String): Seq[String] =
    listDataFiles(fsOf(spark, dir), new Path(dir), new Path(dir))

  /** Version an existing lake: v0 = its current files. Idempotent
    * (no-op if any manifest exists); returns the current version. */
  def init(spark: SparkSession, dir: String,
      commitTs: Long = System.currentTimeMillis(),
      anchorRef: Option[String] = None): Long = {
    val cur = currentVersion(spark, dir)
    if (cur >= 0) cur
    else {
      // a fresh v0 at this path means any cached resolutions belong to
      // a PREVIOUS lake that was wiped and rebuilt here (per-run
      // replicas do exactly this) — drop them
      cacheDrop(dir)
      val fs = fsOf(spark, dir)
      // adoption's own listing already has the sizes
      val adopted = listDataFilesWithLen(fs, new Path(dir), new Path(dir))
      writeCommit(fs, dir, 0L, adopted.map(_._1),
        Nil, CommitMeta(Some(commitTs), Map.empty, Nil, Map.empty,
          Some("init"), anchorRef = anchorRef), adopted.toMap)
      0L
    }
  }

  // ---- column mapping (Delta name-mapping / Iceberg field IDs) ----
  // RENAME/DROP COLUMN as METADATA-ONLY commits: data files keep their
  // original (PHYSICAL) column names forever — a physical name is
  // assigned once and never reused, which is exactly the field-ID
  // discipline, spelled with names. The manifest carries the mapping
  // (`#ren logical physical` + `#dropcol physical`), readers apply it
  // as a final select (rename in place, dropped physicals pruned away
  // — parquet never even reads them), writers reverse it before the
  // parquet write so every file shares the physical naming. Old
  // versions time-travel under their own meta, so pre-rename snapshots
  // keep their old names for free. Re-adding a column whose name was
  // dropped (or whose name is another column's live physical) auto-
  // assigns a fresh physical (`<name>__r<version>`) in the committing
  // manifest — old files' stale physical column can never resurrect.

  /** The logical view of a physically-named frame under `meta`. */
  private def applyColumnMapping(meta: CommitMeta, df: DataFrame): DataFrame = {
    if (meta.renames.isEmpty && meta.droppedCols.isEmpty) return df
    val physToLog = meta.renames.map(_.swap)
    val dropSet = meta.droppedCols.toSet
    val cols = df.columns.toSeq.flatMap { c =>
      if (dropSet.contains(c)) None
      else physToLog.get(c).map(l => col(c).as(l)).orElse(Some(col(c)))
    }
    df.select(cols: _*)
  }

  /** The physical view of a logically-named batch (the write side). */
  private def toPhysical(meta: CommitMeta, df: DataFrame): DataFrame =
    if (meta.renames.isEmpty) df
    else df.select(df.columns.toSeq.map { c =>
      meta.renames.get(c).map(p => col(c).as(p)).getOrElse(col(c)) }: _*)

  /** Columns the change-feed machinery adds around user rows — exempt
    * from column-mapping translation (they are protocol, not data). */
  private val CdfMetaCols = Set("_action", "_commit_version")

  /** Re-spell a frame whose user columns are LOGICAL under `from`'s
    * mapping into the logical names in force under `to` — the bridge
    * across RENAME/DROP commits. Physical names are the stable rail
    * (the field-ID discipline): logical-at-`from` → physical →
    * logical-at-`to`; a column whose physical is dropped at `to`
    * vanishes. Identity when the mappings agree, so the common
    * no-evolution path pays nothing. */
  private def translateLogical(from: CommitMeta, to: CommitMeta,
      df: DataFrame): DataFrame = {
    if (from.renames == to.renames && from.droppedCols == to.droppedCols)
      return df
    val physToLogTo = to.renames.map(_.swap)
    val dropTo = to.droppedCols.toSet
    val cols = df.columns.toSeq.flatMap { c =>
      if (CdfMetaCols.contains(c)) Some(col(c))
      else {
        val phys = from.renames.getOrElse(c, c)
        if (dropTo.contains(phys)) None
        else Some(col(c).as(physToLogTo.getOrElse(phys, phys)))
      }
    }
    df.select(cols: _*)
  }

  /** Auto-assigned renames for batch columns whose name is a retired
    * or occupied physical (re-added after DROP, or shadowing a live
    * rename target): each gets a fresh, never-reused physical name
    * stamped with the committing version. */
  private def autoRenames(meta: CommitMeta, batchCols: Seq[String],
      commitV: Long): Map[String, String] = {
    val occupied = meta.renames.values.toSet ++ meta.droppedCols
    batchCols.filter(c => occupied.contains(c) && !meta.renames.contains(c))
      .map(c => c -> s"${c}__r$commitV").toMap
  }

  /** Partition columns, parsed from the manifest refs' Hive path
    * segments — the mapping layer refuses to touch them (their names
    * are baked into every directory). */
  private def partitionColsOf(refs: Seq[String]): Set[String] =
    refs.headOption.map { r =>
      refRel(r).split('/').dropRight(1).filter(_.contains('='))
        .map(_.split('=')(0)).toSet
    }.getOrElse(Set.empty)

  /** RENAME COLUMN — metadata-only: zero files rewritten, the new
    * name takes effect for reads and writes at this version; earlier
    * versions keep the old name under time travel. Refused for
    * partition columns, for names a CHECK constraint references, and
    * for collisions with visible columns. The change-feed property's
    * rowKey follows the rename (replicas key by logical names). */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String, commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    val visible = snapshot(spark, dir, v).columns.toSeq
    require(visible.contains(from), s"no column $from in $dir")
    require(!visible.contains(to), s"column $to already exists in $dir")
    // the visible-collision check above cannot see the HIDDEN row id,
    // so a rename TO __graft_rid on a row-tracked table would pass it
    // and map two physical columns onto one engine-owned name
    require(!to.startsWith("__graft_"),
      s"column name $to: the __graft_ prefix is engine-owned " +
        "(row tracking ids live there) — pick another name")
    val parts = partitionColsOf(filesAt(spark, dir, v))
    require(!parts.contains(from) && !parts.contains(to),
      s"cannot rename a partition column ($from): partition names are " +
        "baked into every directory path")
    meta.chks.foreach { case (n, e) =>
      require(!e.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(from)}\\b.*"),
        s"CHECK constraint $n references $from — drop the constraint first") }
    require(!meta.gens.contains(from),
      s"$from is GENERATED — dropGeneratedColumn() first")
    meta.gens.foreach { case (n, e) =>
      require(!e.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(from)}\\b.*"),
        s"generated column $n references $from — dropGeneratedColumn() first") }
    // the #default and #addcol rails address columns by their STABLE
    // spelling: a rename would strand the rule under the old name (a
    // phantom column resurrects on the next omitting write; nested
    // fields silently vanish) — refuse with the repair, like gens
    require(!meta.defaults.contains(from),
      s"$from carries a DEFAULT — dropColumnDefault() first, rename, " +
        "then re-declare under the new name")
    require(!meta.idents.contains(from),
      s"$from is an IDENTITY column — dropIdentity() first (the " +
        "#ident rail addresses columns by their stable spelling)")
    require(!meta.addCols.exists(_._1.startsWith(from + ".")),
      s"$from carries metadata-added nested field(s) " +
        s"${meta.addCols.map(_._1).filter(_.startsWith(from + "."))
          .mkString(", ")} — they address the struct by its stable " +
        "spelling; write a batch that materializes them (or recreate " +
        "the table) before renaming")
    val phys = meta.renames.getOrElse(from, from)
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
          "rename-column")
        .copy(renames = meta.renames - from + (to -> phys),
          cdf = meta.cdf.map(_.map(k => if (k == from) to else k))))
    v + 1
  }

  /** DROP COLUMN — metadata-only: the physical column stays in the
    * files (old versions still travel to it) but vanishes from reads
    * and is refused in writes; its name may be re-added later (a fresh
    * physical is auto-assigned). Refused for partition columns,
    * constraint-referenced columns, and change-feed key columns. */
  def dropColumn(spark: SparkSession, dir: String, name: String,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    val visible = snapshot(spark, dir, v).columns.toSeq
    require(visible.contains(name), s"no column $name in $dir")
    val parts = partitionColsOf(filesAt(spark, dir, v))
    require(!parts.contains(name), s"cannot drop a partition column ($name)")
    meta.chks.foreach { case (n, e) =>
      require(!e.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(name)}\\b.*"),
        s"CHECK constraint $n references $name — drop the constraint first") }
    meta.cdf.foreach(key => require(!key.contains(name),
      s"$name is part of the change-feed row identity — disable the feed first"))
    meta.gens.foreach { case (n, e) =>
      require(n == name ||
        !e.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(name)}\\b.*"),
        s"generated column $n references $name — dropGeneratedColumn() first") }
    val phys = meta.renames.getOrElse(name, name)
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
          "drop-column")
        .copy(renames = meta.renames - name,
          droppedCols = (meta.droppedCols :+ phys).distinct,
          gens = meta.gens - name,
          // the dropped column's DEFAULT and pending nested #addcol
          // entries go with it: a surviving default would RESURRECT
          // the column on the next omitting write (applyDefaults),
          // and a stale nested entry under a re-added non-struct name
          // would poison every read (withField on a non-struct)
          defaults = meta.defaults - name,
          idents = meta.idents - name,
          addCols = meta.addCols.filterNot { case (n, _) =>
            n == name || n.startsWith(name + ".") }))
    v + 1
  }

  /** ADD COLUMN — METADATA-ONLY (protocol level 5): one commit records
    * `#addcol name type`; no data file is touched. Reads null-fill the
    * column until a write physically carries it (then the ordinary
    * mergeSchema/evolution machinery takes over — the `#addcol` line
    * stays as the type authority for files that still lack it). The
    * SQL spelling is `ALTER TABLE ... ADD COLUMN` through
    * [[graft.sources.GraftCatalog]]. Refused: names already visible,
    * names equal to a live column's PHYSICAL name (the new column's
    * physical spelling would be misread as the renamed column), and
    * non-nullable types (existing rows have no value to satisfy them).
    * Re-adding a DROPPED name is fine — the write path auto-assigns a
    * fresh physical exactly as for appends. Time travel: versions
    * before the add read without the column (their meta has no
    * `#addcol`).
    *
    * NESTED fields evolve with a DOTTED name (`meta.fps`): every
    * prefix must resolve to an existing STRUCT column and the final
    * field must be absent — the read side splices a null field into
    * the struct ([[applyAddedColumns]]'s `withField`), rows whose
    * struct is NULL stay null whole, and a later write carrying the
    * evolved struct shape takes over physically. Type CHANGES inside
    * structs still refuse (widening is top-level only). */
  def addColumn(spark: SparkSession, dir: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    require(!name.split('.').exists(_.startsWith("__graft_")),
      s"column name $name: the __graft_ prefix is engine-owned " +
        "(row tracking ids live there) — pick another name")
    val snapSchema = snapshot(spark, dir, v).schema
    val visible = snapSchema.fieldNames.toSeq
    if (!name.contains('.')) {
      require(!visible.contains(name), s"column $name already exists in $dir")
      require(!meta.renames.values.toSet.contains(name),
        s"$name is the PHYSICAL name of a renamed live column — files " +
          "carrying the new column would be misread as the renamed one; " +
          "pick another name (or rename the mapped column back first)")
    } else {
      val segs = name.split('.').toSeq
      require(segs.forall(_.nonEmpty), s"malformed nested name: $name")
      require(visible.contains(segs.head),
        s"no column ${segs.head} in $dir to evolve ($name)")
      // walk every intermediate segment: each must be a struct field
      var cur: org.apache.spark.sql.types.DataType =
        snapSchema(segs.head).dataType
      segs.tail.init.foreach { s =>
        cur = cur match {
          case st: org.apache.spark.sql.types.StructType =>
            st.find(_.name == s).map(_.dataType).getOrElse(
              throw new IllegalArgumentException(
                s"no field $s under ${segs.head} in $dir ($name)"))
          case other => throw new IllegalArgumentException(
            s"$s of $name is not a struct (${other.simpleString}) — " +
              "only struct fields can gain nested columns")
        }
      }
      cur match {
        case st: org.apache.spark.sql.types.StructType =>
          require(!st.fieldNames.contains(segs.last),
            s"field $name already exists in $dir")
        case other => throw new IllegalArgumentException(
          s"${segs.init.mkString(".")} of $dir is not a struct " +
            s"(${other.simpleString}) — only struct columns can gain " +
            "nested fields")
      }
      require(!meta.renames.contains(segs.head),
        s"cannot evolve the renamed column ${segs.head}: the #addcol " +
          "rail addresses columns by their stable spelling — rename " +
          "it back first")
    }
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
          "add-column")
        .copy(addCols = meta.addCols :+ (name -> dataType.json)))
    v + 1
  }

  // ---- type widening (Delta's ALTER COLUMN TYPE, protocol level 6) --
  // A widen is METADATA-ONLY: one commit pins the table's full
  // PHYSICAL data schema (`#schema`, partition columns excluded) with
  // the column's new wider type. No data file is touched — parquet's
  // vectorized reader promotes narrow stored types under a wider
  // requested schema (int32 under bigint, float under double, decimal
  // re-scale), so every read path simply swaps footer INFERENCE for
  // the DECLARED schema from the widen onward. Old versions
  // time-travel under their own (unpinned, narrow) meta for free;
  // writers keep committing whatever width their batch carries, cast
  // UP to the pin so post-widen files converge on the wide type.

  /** The lossless widening matrix — exactly the promotions the
    * vectorized parquet reader executes natively (probed on this
    * Spark): integral up-chains, float→double, int→double,
    * decimal scale/precision growth, integral→decimal with enough
    * integer digits. Everything else (narrowing, string↔numeric,
    * long→double's precision loss) refuses by name. */
  private[lake] def widenOk(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(d: DataType): Option[Int] = d match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(19)
      case _ => None
    }
    (from, to) match {
      case (a, b) if a == b => true // idempotent re-declare
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (f, t: DecimalType) =>
        intDigits(f).exists(d => t.precision - t.scale >= d)
      // STRUCTS widen field-wise (same names, same order, each leaf a
      // lossless widen) — what a NESTED `ALTER COLUMN meta.width TYPE
      // LONG` pins, and what lets a pre-widen writer's struct batch
      // cast up through conformToPinned
      case (f: StructType, t: StructType) =>
        f.length == t.length && f.fields.zip(t.fields).forall {
          case (a, b) => a.name == b.name && widenOk(a.dataType, b.dataType)
        }
      case (f: ArrayType, t: ArrayType) =>
        f.containsNull == t.containsNull &&
          widenOk(f.elementType, t.elementType)
      case _ => false
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN name TYPE newType` — the
    * metadata-only widen (see the section note). Refusals: unknown or
    * partition columns, and any (current, new) pair outside
    * [[widenOk]]'s lossless matrix. Repeated widens re-pin (the pin
    * always holds the CURRENT widest declaration). */
  def widenColumn(spark: SparkSession, dir: String, name: String,
      newType: org.apache.spark.sql.types.DataType,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    // the ID-BEARING schema: the pin rebuilt below must keep a
    // row-tracked table's hidden __graft_rid (a rid-less pin would
    // hide the ids from every read and the next rewrite would commit
    // files without them — permanent id loss). Widening the rid
    // itself is refused by the IDENTITY guard below.
    val snapSchema = snapshotAll(spark, dir, v).schema
    // NESTED fields widen by dotted path (`meta.width`) — the same
    // addressing the #addcol rail uses; every prefix must resolve to
    // a struct and the leaf must exist
    val segs = name.split('.').toSeq
    val top = segs.head
    require(snapSchema.fieldNames.contains(top),
      s"no column $top in $dir")
    val parts = partitionColsOf(filesAt(spark, dir, v)) ++
      meta.pkeys.getOrElse(Nil)
    require(!parts.contains(top),
      s"cannot widen partition column $top: its values are baked into " +
        "directory paths — changePartitionSpec to a data column first")
    require(!meta.idents.contains(name),
      s"cannot change the type of IDENTITY column $name: identities " +
        "are BIGINT by contract (dropIdentity() first)")
    require(!meta.addCols.exists(_._1 == name),
      s"cannot widen metadata-added column $name: no data file carries " +
        "it — drop and re-add it with the wider type instead")
    def leafType(dt: org.apache.spark.sql.types.DataType,
        path: Seq[String]): org.apache.spark.sql.types.DataType =
      if (path.isEmpty) dt
      else dt match {
        case st: org.apache.spark.sql.types.StructType =>
          val f = st.fields.find(_.name == path.head).getOrElse(
            throw new IllegalArgumentException(
              s"no nested field ${path.head} under $top in $dir"))
          leafType(f.dataType, path.tail)
        case other => throw new IllegalArgumentException(
          s"cannot widen $name: ${path.head}'s parent is " +
            s"${other.simpleString}, not a struct")
      }
    def swapLeaf(dt: org.apache.spark.sql.types.DataType,
        path: Seq[String]): org.apache.spark.sql.types.DataType =
      if (path.isEmpty) newType
      else dt match {
        case st: org.apache.spark.sql.types.StructType =>
          org.apache.spark.sql.types.StructType(st.fields.map { f =>
            if (f.name == path.head)
              f.copy(dataType = swapLeaf(f.dataType, path.tail))
            else f
          })
        case other => other // unreachable: leafType validated the path
      }
    val cur = leafType(snapSchema(top).dataType, segs.tail)
    require(widenOk(cur, newType),
      s"cannot change column $name of $dir from ${cur.simpleString} to " +
        s"${newType.simpleString}: only LOSSLESS widenings are " +
        "metadata-only (byte/short/int -> long, byte/short/int/float -> " +
        "double, decimal scale/precision growth, integral -> decimal " +
        "with enough digits) — narrowing or string<->numeric changes " +
        "need an explicit rewrite (CREATE TABLE ... AS SELECT CAST)")
    val newTopType = swapLeaf(snapSchema(top).dataType, segs.tail)
    // the pin: every visible DATA column (partition columns excluded)
    // under its PHYSICAL name, with the widened type swapped in
    val pin = org.apache.spark.sql.types.StructType(
      snapSchema.fields.toSeq
        .filterNot(f => parts.contains(f.name))
        .map { f =>
          val t = if (f.name == top) newTopType else f.dataType
          org.apache.spark.sql.types.StructField(
            meta.renames.getOrElse(f.name, f.name), t, f.nullable)
        })
    val live = filesAt(spark, dir, v)
    val fs = fsOf(spark, dir)
    // BLOOM sidecars are TYPE-BOUND (xxhash64 of int 42 != xxhash64 of
    // long 42): a pre-widen bloom on this column would answer
    // post-widen probes with FALSE NEGATIVES — pruned reads would
    // silently LOSE matching rows. Re-base the family WITHOUT the
    // widened column at the widen version (the other columns keep
    // their coverage; re-run ANALYZE ... COMPUTE BLOOM to re-establish
    // this one); when it was the ONLY tracked column the re-based full
    // is ZERO-ROW — the EMPTY-FAMILY MARKER [[resolveSidecarRefs]] and
    // [[maybeWriteIncBlooms]] read as "discipline dropped here". The
    // historical sidecars stay in place, so pre-widen versions keep
    // their time-traveled bloom coverage; deleting the root here (the
    // pre-r16 behavior) destroyed that history BEFORE the CAS — a lost
    // CAS wiped coverage for a commit that never landed. Stats boxes
    // store lo/hi as DOUBLE — type-agnostic, they carry.
    val physName = meta.renames.getOrElse(name, name)
    val rebasedBloom: Option[Path] =
      if (segs.length > 1) None // nested fields are never bloom-tracked
      else try resolveSidecarRefs(spark, dir, "bloom", v) match {
        case Some(rows) if !rows.filter(col("col") === physName).isEmpty =>
          val dst = fullSidecarPath(dir, "bloom", v + 1)
          rows.filter(col("col") =!= physName)
            .coalesce(1).write.mode("overwrite").parquet(dst.toString)
          Some(dst)
        case _ => None // no bloom discipline on this column
      } catch { case _: IllegalArgumentException => None } // broken coverage: bloomsAt already refuses loudly
    try writeCommit(fs, dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
          "widen-column")
        .copy(pinnedSchema = Some(b64e(pin.json))))
    catch { case e: Throwable =>
      // a lost CAS must not leave the re-based sidecar poisoning
      // whatever commit actually takes v+1
      rebasedBloom.foreach(p => fs.delete(p, true))
      throw e
    }
    v + 1
  }

  /** Conform a PHYSICAL write batch to the pinned schema: pinned
    * columns cast UP to their declared width (a writer still speaking
    * the pre-widen type is promoted losslessly; a batch whose type
    * cannot widen to the pin refuses — that is a schema change, not a
    * write), genuinely new columns EXTEND the pin (additive evolution
    * keeps working under pinning; without this the pinned read would
    * silently drop the evolved column). Partition columns stay out of
    * the pin. Returns the conformed batch and the pin to commit.
    * Identity when no pin is in force. */
  private def conformToPinned(meta: CommitMeta, df: DataFrame,
      partitionKeys: Seq[String], what: String)
      : (DataFrame, Option[String]) = meta.pinned match {
    case None => (df, None)
    case Some(pin) =>
      val pinMap = pin.fields.map(f => f.name -> f.dataType).toMap
      val out = df.schema.fields.foldLeft(df) { case (d, f) =>
        pinMap.get(f.name) match {
          case Some(t) if t != f.dataType =>
            require(widenOk(f.dataType, t),
              s"$what carries column ${f.name} as " +
                s"${f.dataType.simpleString} but the table's pinned " +
                s"schema declares ${t.simpleString} — cast the batch, " +
                "or ALTER COLUMN ... TYPE to widen the table")
            d.withColumn(f.name, col(f.name).cast(t))
          case _ => d
        }
      }
      val extra = df.schema.fields.toSeq.filterNot(f =>
        pinMap.contains(f.name) || partitionKeys.contains(f.name))
      val newPin = org.apache.spark.sql.types.StructType(
        pin.fields.toSeq ++ extra)
      (out, Some(b64e(newPin.json)))
  }

  /** The pinned physical data schema at `version` (type widening in
    * force), or None — the fast relation reads under it instead of
    * footer inference, exactly like [[readRefs]]. */
  private[graft] def pinnedSchemaAt(spark: SparkSession, dir: String,
      version: Long): Option[org.apache.spark.sql.types.StructType] =
    metaAt(spark, dir, version).pinned

  /** The `#addcol` columns in force at `version`, parsed — the fast
    * relation extends its inferred file schema with the ones no file
    * carries yet (parquet null-fills requested-but-absent columns on
    * the vectorized path already). */
  private[graft] def addedColumnsAt(spark: SparkSession, dir: String,
      version: Long): Seq[(String, org.apache.spark.sql.types.DataType)] =
    metaAt(spark, dir, version).addCols.map { case (n, tJson) =>
      (n, org.apache.spark.sql.types.DataType.fromJson(tJson))
    }

  /** The column mapping in force at `version`: (logical, physical,
    * dropped flag) — DESCRIBE-style introspection. */
  def columnMapping(spark: SparkSession, dir: String,
      version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    import spark.implicits._
    (meta.renames.toSeq.map { case (l, p) => (l, p, false) } ++
      meta.droppedCols.map(p => ("", p, true))).sortBy(r => (r._1, r._2))
      .toDF("logical", "physical", "dropped")
  }

  /** The raw mapping of `version` for layers that need it as data, not
    * a DataFrame: (logical→physical renames, dropped physicals). */
  private[graft] def columnMappingRaw(spark: SparkSession, dir: String,
      version: Long): (Map[String, String], Set[String]) = {
    val meta = metaAt(spark, dir, version)
    (meta.renames, meta.droppedCols.toSet)
  }

  // ---- partition spec as a table property --------------------------
  // Iceberg evolves partition specs per-file; Delta repartitions by
  // rewriting. This protocol takes the Delta road with Iceberg's
  // declared-spec discipline: `#pkeys` carries the table's partition
  // spec in every manifest, EVERY partition-keyed write path verifies
  // the caller's keys against it (a writer using a stale spec after a
  // re-partition would silently fork the directory layout — refused
  // by name instead), and [[changePartitionSpec]] is the one sanctioned
  // transition: a single commit that rewrites the FULL live set under
  // the new layout. The full rewrite is what keeps every VERSION
  // single-spec — reads, pruning, clone localization and the COW
  // partition swap all reason about one layout per manifest, and time
  // travel reads old versions under their own spec for free. The
  // property bumps the reader protocol floor to 3: an old build that
  // ignored `#pkeys` would pass its own keys unchecked and fork the
  // layout — it must refuse instead.

  /** The declared partition spec at `version`, if the table has one.
    * Undeclared (legacy) tables return None and writes stay unchecked
    * — [[changePartitionSpec]] with the CURRENT keys declares without
    * rewriting. */
  def partitionSpec(spark: SparkSession, dir: String,
      version: Long = -1L): Option[Seq[String]] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    metaAt(spark, dir, v).pkeys
  }

  /** Refuse a write whose partition keys disagree with the declared
    * spec — the guard that makes the spec a property, not a comment. */
  private def checkPartitionSpec(meta: CommitMeta, keys: Seq[String],
      op: String): Unit =
    meta.pkeys.foreach(spec => require(spec == keys,
      s"$op partitions by (${keys.mkString(", ")}) but the table's declared " +
        s"spec is (${spec.mkString(", ")}) — pass the declared keys, or " +
        "changePartitionSpec() to move the table"))

  /** CHANGE (or first declare) the table's partition spec. When
    * `newKeys` matches the current physical layout, this is a
    * METADATA-ONLY declaration; otherwise ONE commit rewrites the full
    * live set under the new layout — the honest cost of re-keying a
    * hive-partitioned table (Delta's road; there is no lazy-migration
    * middle that keeps per-version reads single-spec). The rewrite
    * reads the tombstone-filtered snapshot, so pending MOR deletes
    * materialize away in the same commit; row-neutral for the change
    * feed. Refuses keys that are not visible columns and keys under a
    * column-mapping rename (partition names are baked into every
    * directory path — the mapping layer refuses to touch them, so a
    * mapped column must be renamed back, or left a data column). */
  def changePartitionSpec(spark: SparkSession, dir: String,
      newKeys: Seq[String],
      commitTs: Long = System.currentTimeMillis()): Long = {
    require(newKeys.nonEmpty, "changePartitionSpec needs at least one key")
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta0 = metaAt(spark, dir, v)
    val visible = snapshot(spark, dir, v).columns.toSeq
    val missing = newKeys.filterNot(visible.contains)
    require(missing.isEmpty,
      s"partition keys not in $dir: ${missing.mkString(", ")}")
    val mapped = newKeys.filter(meta0.renames.contains)
    require(mapped.isEmpty,
      s"cannot partition by renamed column(s) ${mapped.mkString(", ")}: " +
        "partition names are baked into directory paths and the mapping " +
        "layer refuses to touch them")
    val live = filesAt(spark, dir, v)
    val fs = fsOf(spark, dir)
    // layout already matches (same keys, same directory nesting
    // order): declare without rewriting. A reorder of the same keys
    // re-nests every directory — that is the rewrite below.
    val sameLayout = partitionColsOf(live) == newKeys.toSet &&
      live.headOption.forall { r =>
        refRel(r).split('/').dropRight(1).filter(_.contains('='))
          .map(_.split('=')(0)).toSeq == newKeys
      }
    if (sameLayout) {
      writeCommit(fs, dir, v + 1, live, live,
        carryMeta(spark, dir, v, commitTs, None,
          deleteFilesAt(spark, dir, v), "change-partition-spec")
          .copy(pkeys = Some(newKeys)))
      return v + 1
    }
    // full rewrite under the new layout: MOR tombstones fold away
    // (snapshotAll: the hidden row-tracking id must survive the rewrite)
    val rows = snapshotAll(spark, dir, v)
    val staged = stage(spark, dir,
      toPhysical(meta0, rows).repartition(newKeys.map(col): _*), newKeys)
    writeCommit(fs, dir, v + 1, staged.files, live,
      carryMeta(spark, dir, v, commitTs, None, Nil,
        "change-partition-spec").copy(pkeys = Some(newKeys)), staged.sizes)
    maybeWriteIncStats(spark, dir, v, staged.files, Nil)
    v + 1
  }

  // ---- generated columns (Delta's GENERATED ALWAYS AS) ------------
  // `#gen name expr` is a carried table property: every write batch
  // either OMITS the column (the write path computes it — which,
  // combined with [[changePartitionSpec]] onto the generated column,
  // is Iceberg's hidden partitioning: writers never spell the bucket)
  // or carries it and is VALIDATED cell-by-cell against the expression
  // (Delta's semantics — a writer that disagrees with the rule is
  // refused, not silently trusted). Rides protocol level 3: an old
  // build ignoring `#gen` would commit batches with the column null.

  /** Enrich/validate `batch` under `meta`'s generated columns: absent
    * columns are computed, present ones must null-safely equal their
    * expression on every row. */
  private def applyGenerated(spark: SparkSession, meta: CommitMeta,
      batch: DataFrame, what: String): DataFrame =
    meta.gens.foldLeft(batch) { case (b, (name, exprSql)) =>
      if (!b.columns.contains(name)) b.withColumn(name, expr(exprSql))
      else {
        val bad = b.filter(!(col(name) <=> expr(exprSql))).count()
        require(bad == 0L,
          s"$what: column $name is GENERATED ALWAYS AS ($exprSql) but " +
            s"$bad row(s) disagree with the expression")
        b
      }
    }

  // `#ident name start step hw allowExplicit` — IDENTITY COLUMNS
  // (protocol level 7, Delta's GENERATED [ALWAYS | BY DEFAULT] AS
  // IDENTITY): the engine assigns monotonic BIGINT ids to write
  // batches that OMIT the column. The SQL/Delta contract is UNIQUE and
  // MONOTONIC per the declared step — NOT gap-free and NOT an
  // assignment order promise (a distributed writer that promised
  // gap-free consecutive ids would serialize every batch through one
  // counter). Assignment is dense WITHIN a commit (zipWithIndex — one
  // count job over the batch, bounded by batch size), and the commit
  // carries the ADVANCED high-water, so the next writer continues past
  // it; a concurrent identity-advancing commit forces the loser to
  // re-run (the id ranges were minted against a stale high-water —
  // the rules-moved bail every write path already implements).
  // ALWAYS refuses supplied values; BY DEFAULT accepts them and SYNCS
  // the high-water past their extreme so later engine-assigned ids
  // never collide. Merges require the column SUPPLIED (BY DEFAULT
  // only): a merge's output cannot attribute which rows are inserts.

  /** Assign/validate `meta`'s IDENTITY columns on `batch`; returns the
    * (possibly extended) batch and the advanced rules the commit must
    * carry. `forMerge` demands the column be present. */
  private def applyIdentity(spark: SparkSession, meta: CommitMeta,
      batch: DataFrame, what: String,
      forMerge: Boolean = false): (DataFrame, Map[String, IdentRule]) = {
    if (meta.idents.isEmpty) return (batch, meta.idents)
    var out = batch
    var rules = meta.idents
    // a merge batch's __delete rows REMOVE rows — they carry keys, not
    // values, so the identity discipline (null refusal, hw sync) reads
    // the upsert rows only, exactly like enforceConstraints
    def upserts(d: DataFrame): DataFrame =
      if (d.columns.contains("__delete"))
        d.filter(!coalesce(col("__delete"), lit(false)))
      else d
    def overflow(name: String): Nothing =
      throw new IllegalArgumentException(
        s"$what: IDENTITY column $name overflowed BIGINT — the " +
          "start/step declaration has exhausted the 64-bit id space")
    meta.idents.foreach { case (name, r) =>
      if (!out.columns.contains(name)) {
        // the ENGINE-HIDDEN row-tracking id is exempt from the merge
        // refusal: the engine owns it outright, so a merge batch gets
        // FRESH ids upfront (matched rows are whole-row replacements —
        // id reassignment — which is why the rid-keyed change feed
        // emits delete+insert instead of update pairs)
        require(!forMerge || name == RowIdCol,
          s"$what: a merge into an IDENTITY table must carry $name " +
            "explicitly — a merge's output cannot attribute which rows " +
            "are inserts (assign ids upstream on a BY DEFAULT identity, " +
            "or append the new rows instead)")
        // DENSE in-commit assignment, ONE count job over the
        // (caller-persisted) batch: per-partition counts collected
        // once, then a lazy per-partition map assigns from cumulative
        // offsets — no single-partition window, no shuffle, no second
        // pass (zipWithIndex would re-run the count internally).
        // The pass stays at the InternalRow layer (queryExecution.toRdd
        // + internalCreateDataFrame): `out.rdd` deserialized every
        // field Catalyst→Scala and back per row — the r16-ledgered
        // identity-append overhead (VERDICT #8), pure conversion cost
        val next = r.hw.map(h =>
          try Math.addExact(h, r.step)
          catch { case _: ArithmeticException => overflow(name) })
          .getOrElse(r.start)
        val schema2 = out.schema.add(name,
          org.apache.spark.sql.types.LongType, nullable = false)
        val fieldTypes = out.schema.map(_.dataType).toArray
        val src = out.queryExecution.toRdd
        val counts = src.mapPartitionsWithIndex { case (i, it) =>
          Iterator((i, it.size.toLong)) }.collect().toMap
        val n = counts.values.sum
        val last =
          try Math.addExact(next, Math.multiplyExact(r.step, math.max(0L, n - 1)))
          catch { case _: ArithmeticException => overflow(name) }
        val offsets: Map[Int, Long] = {
          var acc = 0L
          counts.toSeq.sortBy(_._1).map { case (i, c) =>
            val o = acc; acc += c; i -> o }.toMap
        }
        val step = r.step
        val rdd = src.mapPartitionsWithIndex { case (i, it) =>
          val base = offsets(i)
          var j = 0L
          it.map { ir0 =>
            // copy() first: scan iterators REUSE the backing row buffer
            val ir = ir0.copy()
            val arr = new Array[Any](fieldTypes.length + 1)
            var k = 0
            while (k < fieldTypes.length) {
              arr(k) = ir.get(k, fieldTypes(k)); k += 1
            }
            arr(fieldTypes.length) = next + step * (base + j)
            j += 1
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(arr): org.apache.spark.sql.catalyst.InternalRow
          }
        }
        out = org.apache.spark.sql.GraftColumnBridge
          .internalDataFrame(spark, rdd, schema2)
        if (n > 0L) rules += name -> r.copy(hw = Some(last))
      } else {
        // the engine-hidden row-tracking id is supplied BY THE ENGINE
        // on replica application (a CDF increment's rows carry the
        // source's ids, and the replica must store exactly those) —
        // the hw-sync below keeps later local assignments collision-free
        require(r.allowExplicit || name == RowIdCol,
          s"$what: column $name is GENERATED ALWAYS AS IDENTITY — the " +
            "engine owns its values; omit the column (BY DEFAULT " +
            "identities accept supplied values)")
        // BY DEFAULT with supplied values: nulls refuse on UPSERT rows
        // (an identity is a key), and the high-water SYNCS past the
        // supplied extreme in the step's direction — one aggregate job
        val agg0 = upserts(out).agg(
          (if (r.step > 0) max(col(name).cast("long"))
           else min(col(name).cast("long"))).as("ext"),
          sum(when(col(name).isNull, 1L).otherwise(0L)).as("nulls")).head()
        require(agg0.isNullAt(1) || agg0.getLong(1) == 0L,
          s"$what: supplied IDENTITY column $name contains NULLs")
        if (!agg0.isNullAt(0)) {
          val ext = agg0.getLong(0)
          val floor = // "one step before start": next-from-here == start
            try Math.subtractExact(r.start, r.step)
            catch { case _: ArithmeticException => ext }
          val moved = r.hw match {
            case Some(h) if r.step > 0 => math.max(h, ext)
            case Some(h) => math.min(h, ext)
            case None =>
              if (r.step > 0) math.max(floor, ext)
              else math.min(floor, ext)
          }
          rules += name -> r.copy(hw = Some(moved))
        }
      }
    }
    (out, rules)
  }

  /** Declare `name` GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY
    * (START WITH `start` INCREMENT BY `step`). Declared at CREATE —
    * refused once the table holds rows (existing values would need a
    * scan to anchor the high-water; create the table with the rule).
    * BIGINT only, step != 0; generated/defaulted columns refuse. */
  def declareIdentity(spark: SparkSession, dir: String, name: String,
      start: Long = 1L, step: Long = 1L, allowExplicit: Boolean = false,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    require(step != 0L, "IDENTITY needs INCREMENT BY != 0")
    require(!meta.gens.contains(name) && !meta.defaults.contains(name),
      s"$name already carries a GENERATED/DEFAULT rule on $dir")
    require(!meta.idents.contains(name),
      s"$name is already an IDENTITY column of $dir")
    require(!name.startsWith("__graft_"),
      s"column name $name: the __graft_ prefix is engine-owned — " +
        "enableRowTracking() declares the hidden id")
    val snapSchema = snapshot(spark, dir, v).schema
    require(snapSchema.fieldNames.contains(name), s"no column $name in $dir")
    require(snapSchema(name).dataType ==
        org.apache.spark.sql.types.LongType,
      s"IDENTITY columns must be BIGINT (got " +
        s"${snapSchema(name).dataType.simpleString})")
    require(!meta.renames.contains(name),
      s"cannot declare IDENTITY on the renamed column $name: the " +
        "#ident rail addresses columns by their stable spelling — " +
        "rename it back first")
    val live = filesAt(spark, dir, v)
    require(live.isEmpty,
      s"IDENTITY declares at CREATE: $dir already holds data — the " +
        "high-water cannot anchor without a scan (recreate the table " +
        "with the rule, seeding START WITH past the existing ids)")
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None,
        deleteFilesAt(spark, dir, v), "declare-identity")
        .copy(idents = meta.idents +
          (name -> IdentRule(start, step, None, allowExplicit))))
    v + 1
  }

  /** Lift the IDENTITY rule from `name` (metadata-only; the column
    * stays with its values, the engine just stops assigning). */
  def dropIdentity(spark: SparkSession, dir: String, name: String,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    require(meta.idents.contains(name), s"$name is not IDENTITY on $dir")
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None,
        deleteFilesAt(spark, dir, v), "drop-identity")
        .copy(idents = meta.idents - name))
    v + 1
  }

  /** Columns whose values the WRITE PATH owns at the current version —
    * generated ∪ identity — in ONE meta resolution (the SQL insert
    * probe's hot path would otherwise pay two). */
  private[graft] def engineOwnedColumns(spark: SparkSession,
      dir: String): Set[String] = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val m = metaAt(spark, dir, v)
    m.gens.keySet ++ m.idents.keySet
  }

  /** The IDENTITY rules in force at `version`:
    * name → (start, step, lastAssigned, allowExplicit). */
  def identityColumns(spark: SparkSession, dir: String,
      version: Long = -1L): Map[String, (Long, Long, Option[Long], Boolean)] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    metaAt(spark, dir, v).idents.map { case (n, r) =>
      n -> (r.start, r.step, r.hw, r.allowExplicit) }
  }

  /** Fill `meta`'s COLUMN DEFAULTS into `batch`: a default fires ONLY
    * when the batch OMITS the column entirely — a supplied column
    * always wins, explicit NULL cells included (the SQL-standard split
    * from GENERATED ALWAYS AS, which validates supplied values). The
    * stored expression already carries its CAST to the declared type
    * ([[setColumnDefault]] bakes it), so the filled column lands with
    * the column's type, not the literal's. */
  private def applyDefaults(meta: CommitMeta, batch: DataFrame): DataFrame =
    meta.defaults.foldLeft(batch) { case (b, (name, exprSql)) =>
      if (b.columns.contains(name)) b else b.withColumn(name, expr(exprSql))
    }

  /** The version's partition keys, declared (`#pkeys`) or parsed from
    * the live layout's directory nesting order. */
  private def layoutKeys(meta: CommitMeta, live: Seq[String]): Seq[String] =
    meta.pkeys.getOrElse(live.headOption.map { r =>
      refRel(r).split('/').dropRight(1).filter(_.contains('='))
        .map(_.split('=')(0)).toSeq
    }.getOrElse(Nil))

  /** Declare `name` GENERATED ALWAYS AS `exprSql`. If the column
    * already exists, current data must satisfy the rule (validated,
    * metadata-only commit — [[addConstraint]]'s discipline); if it
    * does not, ONE commit rewrites the live set computing it for the
    * existing rows (pending tombstones fold away, as in any rewrite
    * from the snapshot). Refused for mapped (renamed) names — the
    * property addresses columns by their stable spelling. */
  def addGeneratedColumn(spark: SparkSession, dir: String, name: String,
      exprSql: String, commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    require(!meta.gens.contains(name),
      s"$name is already a generated column of $dir")
    require(!meta.idents.contains(name),
      s"$name is an IDENTITY column — it cannot also be GENERATED")
    require(!meta.renames.contains(name),
      s"cannot generate the renamed column $name: rename it back first")
    require(!name.startsWith("__graft_"),
      s"column name $name: the __graft_ prefix is engine-owned " +
        "(row tracking ids live there) — pick another name")
    val fs = fsOf(spark, dir)
    val live = filesAt(spark, dir, v)
    // the ID-BEARING view: on a row-tracked table the rewrite branch
    // must carry __graft_rid through (snapshot() hides it — a rewrite
    // from the public view would WIPE every row id), and the change
    // feed's images must carry the ids too (keyless replicas key on
    // them). The extra hidden column is invisible to the validation
    // branch (name can never be engine-owned, refused above).
    val snap = snapshotAll(spark, dir, v)
    if (snap.columns.contains(name)) {
      val bad = snap.filter(!(col(name) <=> expr(exprSql))).count()
      require(bad == 0L,
        s"cannot declare $name GENERATED ALWAYS AS ($exprSql): $bad " +
          "existing row(s) disagree — fix the data or the expression")
      writeCommit(fs, dir, v + 1, live, live,
        carryMeta(spark, dir, v, commitTs, None,
          deleteFilesAt(spark, dir, v), "add-generated")
          .copy(gens = meta.gens + (name -> exprSql)))
    } else {
      val keys = layoutKeys(meta, live)
      require(keys.nonEmpty, s"cannot infer the partition layout of $dir")
      val rows = snap.withColumn(name, expr(exprSql))
      val staged = stage(spark, dir,
        toPhysical(meta, rows).repartition(keys.map(col): _*), keys)
      // the REWRITE variant is NOT row-neutral: every existing row
      // gains the computed value. With a change feed attached, publish
      // the update pre/post images (crash-atomic via the `#cdfinc`
      // pointer, like every mutating commit) so replicas receive the
      // computed values — a feed consumer that skipped this commit
      // would keep nulls and silently diverge from the source. The
      // metadata-only branch above stays row-neutral (it validated
      // that the rows already agree).
      val autoInc = meta.cdf.map { _ =>
        writeChangeInc(spark, dir,
          snap.withColumn("_action", lit("update_preimage")).unionByName(
            rows.withColumn("_action", lit("update_postimage")),
            allowMissingColumns = true))
      }
      writeCommit(fs, dir, v + 1, staged.files, live,
        carryMeta(spark, dir, v, commitTs, None, Nil, "add-generated")
          .copy(gens = meta.gens + (name -> exprSql), cdfInc = autoInc),
        staged.sizes)
      maybeWriteIncStats(spark, dir, v, staged.files, Nil)
    }
    v + 1
  }

  /** Lift the generated-column rule from `name` (metadata-only; the
    * column stays, it just stops being managed). */
  def dropGeneratedColumn(spark: SparkSession, dir: String, name: String,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    require(meta.gens.contains(name),
      s"$name is not a generated column of $dir")
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None,
        deleteFilesAt(spark, dir, v), "drop-generated")
        .copy(gens = meta.gens - name))
    v + 1
  }

  /** The generated-column rules in force at `version`. */
  def generatedColumns(spark: SparkSession, dir: String,
      version: Long = -1L): Map[String, String] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    metaAt(spark, dir, v).gens
  }

  // `#default name expr` — SQL COLUMN DEFAULTS (protocol level 7,
  // Delta's allowColumnDefaults): a declared per-column expression
  // that fires ONLY when a write batch OMITS the column entirely.
  // Supplied values — explicit NULLs included — always win: that is
  // the SQL-standard line between DEFAULT (fills absence, overridable)
  // and GENERATED ALWAYS AS (computes or validates, never overridable),
  // and why one column cannot carry both. Declared at CREATE TABLE
  // (`c T DEFAULT expr`) or ALTER COLUMN ... SET DEFAULT; the catalog
  // also reports the rule through the column metadata Spark's own
  // analyzer consults, so a SQL INSERT that omits the column gets the
  // default filled at ANALYSIS time (plan-side, zero probes) while
  // library writers omitting the column get it filled at COMMIT time
  // by [[applyDefaults]]. Existing rows are untouched at declare time
  // — defaults are write-time semantics, never a read-time rewrite.

  /** Declare (or re-declare) DEFAULT `exprSql` for column `name` —
    * metadata-only commit. Declare-time validation: the expression
    * must analyze WITHOUT any row context (no column references — a
    * default that reads other columns is a GENERATED column) and cast
    * to the column's declared type under ANSI rules; the CAST is baked
    * into the stored rule so every filled value lands typed. Refused
    * for generated and renamed columns. */
  def setColumnDefault(spark: SparkSession, dir: String, name: String,
      exprSql: String, commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    require(!meta.gens.contains(name),
      s"$name is GENERATED ALWAYS AS — a generated column computes " +
        "itself on every write; it cannot also carry a DEFAULT")
    require(!meta.idents.contains(name),
      s"$name is an IDENTITY column — the engine assigns it; it " +
        "cannot also carry a DEFAULT")
    require(!meta.renames.contains(name),
      s"cannot default the renamed column $name: rename it back first")
    val snapSchema = snapshot(spark, dir, v).schema
    require(snapSchema.fieldNames.contains(name),
      s"no column $name in $dir")
    val t = snapSchema(name).dataType
    val stored = s"CAST(($exprSql) AS ${t.sql})"
    // validate on a ONE-ROW, ZERO-COLUMN frame: any column reference
    // (range(1) would falsely resolve `id`) fails analysis here
    try spark.range(1).drop("id").select(expr(stored)).collect()
    catch { case e: Exception =>
      throw new IllegalArgumentException(
        s"DEFAULT ($exprSql) for $name must be a row-free expression " +
          s"castable to ${t.simpleString} (a default reading other " +
          "columns is a GENERATED column): ${e.getMessage}")
    }
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None,
        deleteFilesAt(spark, dir, v), "set-default")
        .copy(defaults = meta.defaults + (name -> stored)))
    v + 1
  }

  /** Lift the DEFAULT from `name` (metadata-only; omitted writes go
    * back to null). */
  def dropColumnDefault(spark: SparkSession, dir: String, name: String,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val meta = metaAt(spark, dir, v)
    require(meta.defaults.contains(name),
      s"$name has no DEFAULT on $dir")
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None,
        deleteFilesAt(spark, dir, v), "drop-default")
        .copy(defaults = meta.defaults - name))
    v + 1
  }

  /** The column-default rules in force at `version` (name → stored
    * expression, CAST included). */
  def columnDefaults(spark: SparkSession, dir: String,
      version: Long = -1L): Map[String, String] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    metaAt(spark, dir, v).defaults
  }

  /** `fileV`'s files and tombstones viewed under `metaV`'s COLUMN
    * MAPPING — what restore needs: the restored commit takes the
    * target's files but keeps the current mapping (protocol rules,
    * like constraints, survive a rollback). */
  // ---- schema anchor for EMPTY tables ------------------------------
  // `CREATE TABLE` declares a schema before any row exists, but the
  // manifest protocol carries schema IN the data files — so an empty
  // table writes one zero-row parquet under `_schema/` (underscore:
  // never listed as data, never referenced by a manifest, never
  // vacuumed) and zero-file versions read a typed empty frame from it.
  // The first real write makes the anchor irrelevant (files win).
  //
  // Anchors are ATTEMPT-UNIQUE (`_schema/anchor_<uuid>`) and the
  // committing definition RECORDS its own anchor's relative path on
  // the `#anchor` rail (protocol 8), which then CARRIES like every
  // table property: a zero-file read at meta version M serves exactly
  // metaAt(M).anchorRef — time travel across TRUNCATE/REPLACE
  // definition changes for free, and NO shared path exists for two
  // racing definitions to clobber (the former `anchor_v{N}` scheme
  // had a TOCTOU: a replace could reclaim a CONCURRENT replace's
  // staged anchor as a crashed attempt's orphan and overwrite it, so
  // the winner's committed version served the loser's schema).
  // Writing the anchor BEFORE the manifest CAS stays crash-safe BY
  // CONSTRUCTION: a CAS that never lands leaves an unreferenced file
  // invisible to every read. Legacy resolution (versioned
  // `anchor_v%06d`, then the un-versioned `anchor`) remains the
  // fallback for tables written before the rail.
  private def legacyAnchorPath(dir: String) = s"$dir/_schema/anchor"
  private def anchorPathV(dir: String, v: Long) =
    f"$dir/_schema/anchor_v$v%06d"
  private def newAnchorRel(): String =
    s"_schema/anchor_${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}"

  /** Writes the anchor parquet under an attempt-unique `_schema/`
    * path and returns its RELATIVE path — the caller must record it
    * on the committing meta's `anchorRef` rail (or delete it on a
    * failed commit; unreferenced anchors are invisible either way). */
  private[graft] def writeSchemaAnchor(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    // anchors store PHYSICAL names, exactly like data files, so the
    // version's column mapping applies uniformly on read — a
    // logical-named anchor under a live mapping would dodge (or be
    // mangled by) the rename select (caught by the SQL model spec:
    // TRUNCATE under a rename, then rename back, read the empty table)
    val v = currentVersion(spark, dir)
    val phys =
      if (v < 0) schema
      else {
        val ren = metaAt(spark, dir, v).renames
        org.apache.spark.sql.types.StructType(
          schema.map(f => f.copy(name = ren.getOrElse(f.name, f.name))))
      }
    writeSchemaAnchorRaw(spark, dir, phys)
  }

  /** Anchor write WITHOUT the current-meta physical mapping — for
    * [[replaceTable]], whose committing meta RESETS the mapping: the
    * new definition's names ARE its physical names, and mapping them
    * through the outgoing table's renames would mangle any name the
    * old table had remapped. Returns the relative path for the
    * `#anchor` rail. */
  private def writeSchemaAnchorRaw(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    val rel = newAnchorRel()
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .repartition(1).write.mode("errorifexists").parquet(s"$dir/$rel")
    rel
  }

  /** Read a schema anchor. An anchor is an EMPTY parquet file that
    * exists only for its schema, so the fast path reads the Spark
    * schema JSON out of the footer key-value metadata on the DRIVER
    * and serves an empty local relation — `spark.read.parquet` would
    * launch a schema-inference job per zero-file read (guide §2.4).
    * Nullability is forced like a file-source read reports it. Any
    * miss (no part file, foreign footer without the Spark key) falls
    * back to the ordinary read. */
  private def readAnchor(spark: SparkSession, path: String): DataFrame =
    parquetSchemaLocal(spark, path) match {
      case Some(schema) => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      case None => spark.read.parquet(path)
    }

  /** The Spark schema a parquet file was WRITTEN with, read off its
    * footer key-value metadata on the driver — what spark.read's
    * schema-inference job would conclude, without the job. None for
    * foreign-written files (no Spark key) or on any IO surprise;
    * nullability forced like a file-source read reports it. */
  private def parquetSchemaLocal(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      val fs = fsOf(spark, path)
      val parts = LocalParquet.dataFiles(fs, new Path(path))
      if (parts.isEmpty) return None
      footerSchemaJson(spark, parts.head._1).map(parseFooterSchema)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Bounded driver-side cache of per-file footer Spark-schema JSON,
    * keyed by (path, length, mtime). Data files under this protocol
    * are immutable (task-UUID part names, never rewritten in place),
    * so a matching identity is authoritative — and a re-created file
    * at the same path gets a fresh length/mtime and misses. Caps the
    * repeated footer opens the schema-serving paths pay on re-read
    * file sets (up to footerLocalMaxFiles sequential opens per
    * snapshot-group read; on an object store those dwarf the ~40 ms
    * inference job they replace). One FS stat replaces one footer
    * open+parse on a hit; entries are a path plus a schema JSON
    * string, LRU-bounded. Foreign files (no Spark key) cache their
    * None — an immutable file never gains the key. */
  private val footerSchemaCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), Option[String]](
          256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), Option[String]])
            : Boolean = size() > 8192
      })

  /** The Spark schema JSON a parquet file's footer carries (the
    * `org.apache.spark.sql.parquet.row.metadata` key), read on the
    * driver through [[footerSchemaCache]]. None for foreign-written
    * files or on any IO surprise. */
  private def footerSchemaJson(spark: SparkSession,
      part: Path): Option[String] =
    try {
      val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(part)
      val key = (part.toUri.toString, st.getLen, st.getModificationTime)
      val hit = footerSchemaCache.get(key)
      if (hit != null) return hit
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          part, spark.sparkContext.hadoopConfiguration))
      val json =
        try fr.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally fr.close()
      val out = Option(json)
      footerSchemaCache.put(key, out)
      out
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Footer Spark-schema JSON → StructType with nullability forced
    * like a file-source read reports it. */
  private def parseFooterSchema(json: String)
      : org.apache.spark.sql.types.StructType = {
    def forceNullable(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case st: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType(st.map(f =>
          f.copy(dataType = forceNullable(f.dataType), nullable = true)))
      case at: org.apache.spark.sql.types.ArrayType =>
        at.copy(elementType = forceNullable(at.elementType),
          containsNull = true)
      case mt: org.apache.spark.sql.types.MapType =>
        mt.copy(valueType = forceNullable(mt.valueType),
          valueContainsNull = true)
      case other => other
    }
    forceNullable(
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** The ONE Spark schema shared by every listed parquet part file,
    * read off their footers on the driver — exactly what the
    * `mergeSchema` inference JOB would conclude when the footers all
    * agree, without the job (guide §2.4: a `spark.read.parquet` with
    * `mergeSchema` launches a distributed footer pass per call, ~40 ms
    * of fixed overhead on metadata-sized reads, and snapshot
    * resolution pays one per root group). None when any footer misses
    * the Spark key (foreign files), the JSONs genuinely differ (an
    * evolved file set keeps the distributed merge — bit-identical
    * result order is only guaranteed for the uniform case), or the
    * file count exceeds `spark.graft.footer.localMaxFiles`. */
  private[graft] def uniformSchemaLocal(spark: SparkSession,
      parts: Seq[Path]): Option[org.apache.spark.sql.types.StructType] =
    try {
      if (parts.isEmpty || parts.size > footerLocalMaxFiles(spark))
        return None
      var json: String = null
      parts.foreach { p =>
        footerSchemaJson(spark, p) match {
          case Some(j) if json == null => json = j
          case Some(j) if j == json =>
          case _ => return None
        }
      }
      Some(parseFooterSchema(json))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The anchor in force at `metaV`: the `#anchor` rail (foreign-ref
    * aware — a clone's anchor lives under its source), else the
    * legacy newest `anchor_v*` at or below `metaV`, else the
    * un-versioned `anchor`. */
  private def anchorDf(spark: SparkSession, dir: String,
      metaV: Long): Option[DataFrame] = {
    metaAt(spark, dir, metaV).anchorRef.foreach { ref =>
      return Some(readAnchor(spark, refPath(dir, ref)))
    }
    val fs = fsOf(spark, dir)
    val root = new Path(dir, "_schema")
    if (!fs.exists(root)) return None
    val versioned = fs.listStatus(root).map(_.getPath.getName).collect {
      case n if n.matches("anchor_v\\d+") =>
        n.stripPrefix("anchor_v").toLong
    }.filter(_ <= metaV)
    if (versioned.nonEmpty)
      Some(readAnchor(spark, anchorPathV(dir, versioned.max)))
    else {
      val p = new Path(legacyAnchorPath(dir))
      if (fs.exists(p)) Some(readAnchor(spark, p.toString)) else None
    }
  }

  private def snapshotUnderMeta(spark: SparkSession, dir: String,
      fileV: Long, metaV: Long): DataFrame = {
    val meta = metaAt(spark, dir, metaV)
    val files = filesAt(spark, dir, fileV)
    if (files.isEmpty) {
      val anchor0 = anchorDf(spark, dir, metaV).getOrElse(throw
        new IllegalArgumentException(
          s"version $fileV of $dir has no files (and no _schema anchor " +
            "a CREATE TABLE would have left)"))
      // a pre-widen anchor still declares the narrow type: the pin is
      // the authority, cast up (name-matched physical columns only)
      val anchor = meta.pinned.fold(anchor0)(pin =>
        pin.fields.foldLeft(anchor0) { case (d, f) =>
          if (d.columns.contains(f.name) &&
              d.schema(f.name).dataType != f.dataType)
            d.withColumn(f.name, col(f.name).cast(f.dataType))
          else d
        })
      return applyAddedColumns(meta, applyColumnMapping(meta, anchor))
    }
    applyAddedColumns(meta, applyColumnMapping(meta,
      applyTombstones(spark, dir, fileV,
        readRefs(spark, dir, files, withPos = hasDvAt(spark, dir, fileV),
          pinned = meta.pinned))
        .drop(DvSrcPos)))
  }

  /** Null-fill `#addcol` columns no data file carries yet (the read
    * side of the METADATA-ONLY [[addColumn]]): once a write physically
    * carries the column, the mergeSchema read surfaces it and this is
    * the identity. NESTED names (`meta.fps`) splice a null field into
    * the parent struct via `withField` — codegen'd struct surgery, no
    * shuffle, no UDF; rows whose struct is NULL stay null whole
    * (reading `meta.fps` under a null `meta` is null either way). */
  private def applyAddedColumns(meta: CommitMeta, df: DataFrame): DataFrame =
    meta.addCols.foldLeft(df) { case (d, (n, tJson)) =>
      lazy val t = org.apache.spark.sql.types.DataType.fromJson(tJson)
      if (!n.contains('.')) {
        if (d.columns.contains(n)) d
        else d.withColumn(n, lit(null).cast(t))
      } else {
        val segs = n.split('.').toSeq
        def present(dt: org.apache.spark.sql.types.DataType,
            path: Seq[String]): Boolean = dt match {
          case st: org.apache.spark.sql.types.StructType =>
            st.find(_.name == path.head).exists(f =>
              path.tail.isEmpty || present(f.dataType, path.tail))
          case _ => false
        }
        if (!d.columns.contains(segs.head)) d // parent dropped since
        else if (present(d.schema(segs.head).dataType, segs.tail)) d
        else d.withColumn(segs.head,
          col(segs.head).withField(segs.tail.mkString("."),
            lit(null).cast(t)))
      }
    }

  /** The table at `version` (latest if -1): reads EXACTLY the
    * manifest's files; partition columns come from the Hive paths via
    * basePath. Immune to concurrent commits by construction.
    * MERGE-ON-READ: any equality-delete tombstones recorded at this
    * version ([[deleteWhere]]) are applied as one anti-join on the
    * tombstone's key columns — readers never see deleted rows even
    * though the data files still physically hold them. Column
    * mapping: the version's `#ren`/`#dropcol` meta applies as a final
    * select, so renamed columns read under their logical names and
    * dropped columns never surface (or get scanned). */
  def snapshot(spark: SparkSession, dir: String, version: Long = -1L): DataFrame = {
    val s = snapshotAll(spark, dir, version)
    // ROW TRACKING's engine-owned id is a physical column users never
    // see — every mutation path reads [[snapshotAll]] so the id
    // CARRIES through rewrites; only this public read boundary (and
    // the catalog schema derived from it) hides it
    if (s.columns.contains(RowIdCol)) s.drop(RowIdCol) else s
  }

  /** [[snapshot]] INCLUDING engine-hidden columns (the row-tracking
    * id) — the read every rewrite path uses, so engine-owned state
    * survives COW updates, merges, re-specs and OPTIMIZE. */
  private[graft] def snapshotAll(spark: SparkSession, dir: String,
      version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    snapshotUnderMeta(spark, dir, v, v)
  }

  /** Files ADDED in versions `[fromV, toV]`, read from the manifests:
    * a delta manifest lists its additions as `+` lines (bounded by the
    * commit's churn); a checkpoint version in range diffs against the
    * previous resolution (amortized: one per [[CheckpointInterval]]).
    * This is how a SCOPED tombstone's exemption set resolves — files
    * added at or after the tombstone's bound post-date the delete and
    * are never filtered by it. Refuses (naming the repair) when the
    * range's manifests were vacuumed. */
  private def filesAddedSince(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): Set[String] = {
    val fs = fsOf(spark, dir)
    val forms = listManifests(fs, dir).toMap
    (fromV to toV).iterator.flatMap { dv =>
      require(forms.contains(dv),
        s"version $dv of $dir was vacuumed but a pending scoped tombstone " +
          "needs its additions: materializeDeletes() before vacuuming past " +
          "a merge-on-read bound")
      if (forms(dv)) // delta form: additions are the `+` lines
        manifestLinesAt(fs, dir, dv).filterNot(_.startsWith("#"))
          .collect { case l if l.startsWith("+") => l.drop(1) }
      else {
        val prev = if (dv == 0) Nil else filesAt(spark, dir, dv - 1)
        filesAt(spark, dir, dv).diff(prev)
      }
    }.toSet
  }

  /** Pending tombstones of `version` grouped by scope bound:
    * (bound, tombstone keys as ONE logical-or-physical df per group,
    * exempt file set for the bound). */
  private def tombstoneGroups(spark: SparkSession, dir: String,
      version: Long): Seq[(Option[Long], DataFrame, Set[String], Boolean)] = {
    val (dvEs, eqEs) = metaAt(spark, dir, version).dels.map(delParse)
      .partition(e => isDvRef(e._1))
    val eq = eqEs.groupBy(_._2).toSeq.sortBy(_._1.getOrElse(-1L))
      .map { case (bound, es) =>
        // a group's tombstones share one key schema (the mergeIntoMor
        // key discipline): under the metadata byte budget the whole
        // key list is read on the DRIVER into a LocalRelation — the
        // consumers' anti-joins get an in-memory build side with zero
        // scan stages (guide §2.4; key lists are metadata, the same
        // class as the DV/stats sidecars). Over budget or on any
        // surprise, the footer-served (or plain) file read stays.
        val paths = es.map(e => s"$dir/${e._1}")
        val schemaOpt = parquetSchemaLocal(spark, paths.head)
        val tomb = schemaOpt.flatMap(sc =>
            tombstoneRowsLocal(spark, dir, es.map(_._1), sc)).getOrElse {
          schemaOpt match {
            case Some(s) => spark.read.schema(s).parquet(paths: _*)
            case None => spark.read.parquet(paths: _*)
          }
        }
        val exempt = bound.fold(Set.empty[String])(b =>
          filesAddedSince(spark, dir, b, version)
            .map(r => encodedLeafPath(refPath(dir, r))))
        (bound, tomb, exempt, false)
      }
    // every DV file shares one schema (file, pos): ONE group, ONE
    // anti-join regardless of how many DV commits pend; the file
    // reference is the scope, so no version bound applies. The schema
    // is PROTOCOL, so it is passed explicitly — and under the metadata
    // budget the (file, pos) rows are DRIVER-read into a LocalRelation
    // like every other metadata sidecar: a query whose plan consults
    // the DV set k times pays k LocalTableScans of in-memory rows, not
    // k file-scan stages (guide §2.4)
    val dv =
      if (dvEs.isEmpty) Nil
      else {
        val frame = tombstoneRowsLocal(spark, dir, dvEs.map(_._1),
            dvReadSchema).getOrElse(
          spark.read.schema(dvReadSchema)
            .parquet(dvEs.map(e => s"$dir/${e._1}"): _*))
        Seq((None, frame, Set.empty[String], true))
      }
    eq ++ dv
  }

  /** Budget-gated driver-side read of metadata-sized tombstone / DV
    * parquet into a LocalRelation (guide §2.4 — the Delta discipline:
    * deletion vectors and equality-delete key lists are METADATA).
    * None over [[metaLocalMaxBytes]], when any field's type is outside
    * what [[LocalParquet.readRows]] reproduces exactly (primitives and
    * strings/binary — tombstone keys in practice), or on any IO
    * surprise: callers keep the distributed read as the fallback. */
  private def tombstoneRowsLocal(spark: SparkSession, dir: String,
      rels: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val budget = metaLocalMaxBytes(spark)
    if (budget <= 0L) return None
    val supported = schema.fields.forall(_.dataType match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.DoubleType
         | org.apache.spark.sql.types.FloatType
         | org.apache.spark.sql.types.BooleanType
         | org.apache.spark.sql.types.StringType
         | org.apache.spark.sql.types.BinaryType => true
      case _ => false
    })
    if (!supported) return None
    try {
      val fs = fsOf(spark, dir)
      val parts = rels.flatMap(r =>
        LocalParquet.dataFiles(fs, new Path(dir, r)))
      if (parts.isEmpty || parts.map(_._2).sum > budget) return None
      val rows = LocalParquet.readRows(
        spark.sparkContext.hadoopConfiguration, parts.map(_._1))
      val data: Seq[org.apache.spark.sql.Row] = rows.map { m =>
        org.apache.spark.sql.Row.fromSeq(
          schema.fields.toSeq.map(f => m.get(f.name).orNull))
      }
      Some(spark.createDataFrame(
        java.util.Arrays.asList(data: _*), schema))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The fixed deletion-vector schema ([[DvFileCol]], [[DvPosCol]]) —
    * what [[deleteWhereVectors]] writes, declared so DV reads never
    * pay a schema-inference job. */
  private val dvReadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(DvFileCol,
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(DvPosCol,
      org.apache.spark.sql.types.LongType)))

  /** A manifest/driver path string in the SAME representation
    * `input_file_name()` yields after [[encodedLeafPathCol]]: the
    * URI-ENCODED path component, scheme and authority dropped.
    * `input_file_name` returns `SparkPath.urlEncoded` (percent-escaped
    * space/non-ASCII), while manifest refs hold the raw characters —
    * comparing the raw strings silently misses every path a URI would
    * encode, which for a scoped-tombstone exempt set means a merge's
    * own fresh rows get filtered (data loss). `Path.toUri` applies
    * exactly Spark's encoding, so both sides land on one form. */
  private[lake] def encodedLeafPath(p: String): String =
    new Path(p).toUri.getRawPath

  /** Strip scheme+authority from an `input_file_name()` value, keeping
    * its percent-encoding — the column-side twin of
    * [[encodedLeafPath]]. Handles `file:///p`, `file:/p` and
    * `scheme://host:port/p` forms. */
  private[lake] def encodedLeafPathCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:/", "/")

  /** Rows of `df` hit (scope-aware) or kept by `version`'s pending
    * tombstones — the shared core of the MOR read ([[snapshot]], the
    * pruned paths) and the materialization probes. `df` must read
    * straight off the version's parquet files (scoped groups bind each
    * row to its source file via `input_file_name`). Key matches are
    * null-safe (`<=>`) like every other merge-key comparison; a scoped
    * group additionally requires the row's file to PRE-DATE the bound
    * (rows in files added at or after it are the upsert's own fresh
    * data — never filtered). */
  private def tombstoneFilter(spark: SparkSession, dir: String,
      version: Long, df: DataFrame, keep: Boolean,
      liftTomb: DataFrame => DataFrame = identity): DataFrame = {
    // `liftTomb` re-spells the tombstone keys for the frame being
    // filtered: identity when `df` reads PHYSICAL columns (the
    // snapshot core), the physical→logical mapping when `df` is the
    // mapped fast relation (the vectorized MOR upgrade)
    // the logical lift applies ONLY to equality groups: a DV's
    // (file, pos) columns are protocol, not data — mapping them could
    // collide with a user column that happened to rename to "file"
    val groups = tombstoneGroups(spark, dir, version)
      .map { case (b, t, e, dv) => (b, if (dv) t else liftTomb(t), e, dv) }
    if (groups.isEmpty) return if (keep) df else df.limit(0)
    val anyScope = groups.exists(_._1.isDefined)
    val anyDv = groups.exists(_._4)
    val srcCol = "__graft_src_file"
    // DV groups join on the row's FILE + ORDINAL: the file comes from
    // input_file_name (a runtime function, union-safe), the ordinal
    // from `_metadata.row_index`, which only resolves on a direct file
    // scan — the raw read paths pre-attach it (readRefs withPos); a
    // direct-relation frame (pruned reads, the vectorized fast path)
    // gets it attached here
    val selfPos = anyDv && !df.columns.contains(DvSrcPos)
    val withPos =
      if (!selfPos) df
      else try df.withColumn(DvSrcPos, col("_metadata.row_index"))
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalStateException(
          s"$dir@v$version has pending deletion vectors but this frame " +
            "cannot resolve _metadata.row_index — read through a path " +
            "that attaches row positions (snapshot/pruned reads do)", e)
      }
    val base =
      if (anyScope || anyDv) withPos.withColumn(srcCol,
        encodedLeafPathCol(input_file_name()))
      else withPos
    def cond(l: DataFrame, tomb: DataFrame, exempt: Set[String],
        dv: Boolean) = {
      val keys =
        if (dv) (l(srcCol) <=> tomb(DvFileCol)) &&
          (l(DvSrcPos) <=> tomb(DvPosCol))
        else tomb.columns.toSeq
          .map(k => l(k) <=> tomb(k)).reduce(_ && _)
      if (exempt.isEmpty) keys
      else keys && !l(srcCol).isInCollection(exempt.toSeq)
    }
    val out =
      if (keep)
        groups.foldLeft(base) { case (acc, (_, tomb, exempt, dv)) =>
          acc.join(tomb, cond(acc, tomb, exempt, dv), "left_anti")
        }
      else
        // hit rows per group, unioned (a row hit by several groups
        // repeats — callers reduce to distinct partition values)
        groups.map { case (_, tomb, exempt, dv) =>
          base.join(tomb, cond(base, tomb, exempt, dv), "left_semi")
        }.reduce(_ unionByName _)
    val dropped = if (anyScope || anyDv) out.drop(srcCol) else out
    if (selfPos) dropped.drop(DvSrcPos) else dropped
  }

  /** Apply `version`'s pending equality-delete tombstones (if any) to
    * `df` — the merge-on-read filter shared by [[snapshot]] and the
    * pruned read paths. Global tombstones apply as one anti-join per
    * tombstone commit; SCOPED tombstones ([[mergeIntoMor]]) only
    * filter rows whose source file pre-dates their bound. */
  private def applyTombstones(spark: SparkSession, dir: String,
      version: Long, df: DataFrame): DataFrame =
    tombstoneFilter(spark, dir, version, df, keep = true)

  /** [[applyTombstones]] for a frame that reads the version's files
    * under LOGICAL names (the mapped vectorized relation): tombstone
    * keys lift physical→logical before the anti-join. `df` must still
    * read straight off the version's parquet files (scoped groups bind
    * rows to source files via `input_file_name`) — the fast-path
    * relation does. No-op when the version has no pending deletes. */
  private[graft] def applyTombstonesLogical(spark: SparkSession,
      dir: String, version: Long, df: DataFrame): DataFrame = {
    val meta = metaAt(spark, dir, version)
    tombstoneFilter(spark, dir, version, df, keep = true,
      liftTomb = t => applyColumnMapping(meta, t))
  }

  /** DESCRIBE HISTORY: one row per retained version, newest first —
    * version, commit timestamp, the committing OPERATION (merge /
    * append / delete / materialize / optimize / restore / clone /
    * init / add-constraint / drop-constraint; null on manifests
    * written before operations were recorded), manifest form, live
    * file count, pending tombstone file count, and the carried txn
    * high-water map rendered `id:batch`. Driver cost is bounded by
    * retained versions × manifest resolution (checkpoint + delta
    * tail). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    val ms = listManifests(fs, dir)
    require(ms.nonEmpty, s"no manifest in $dir — call init() first")
    val rows = ms.sortBy(-_._1).map { case (v, isDelta) =>
      val meta = parseMeta(metaLinesAt(fs, dir, v))
      (v, meta.ts, meta.op, !isDelta, filesAt(spark, dir, v).size.toLong,
        meta.dels.size.toLong,
        meta.txns.toSeq.sortBy(_._1)
          .map { case (id, b) => s"$id:$b" }.mkString(","))
    }
    import spark.implicits._
    rows.toDF("version", "commit_ts", "operation", "is_checkpoint",
      "n_files", "n_pending_delete_files", "txns")
  }

  /** RESTORE TABLE ... TO VERSION AS OF — Delta's RESTORE: commits a
    * NEW version whose live-file list and pending-tombstone set are
    * exactly `toVersion`'s. METADATA-ONLY: zero data files are moved
    * or rewritten — the protocol's immutable data files mean the old
    * version's files are still on disk (verified; refused loudly if
    * [[vacuum]] already reaped any of them). History is preserved:
    * the rolled-back commits stay time-travelable, and the restore is
    * itself one more commit (a delta manifest bounded by the file-list
    * diff between the two versions, never the lake).
    *
    * With the change feed enabled, the commit publishes the ROW-LEVEL
    * diff current→target ([[restoreDiff]]) as its increment, so feed
    * consumers converge across the restore; that diff is the only
    * non-metadata work, and only runs on a feed-enabled table.
    * Returns the committed version — or the current version unchanged
    * when it already equals the target state (idempotent replay). */
  def restore(spark: SparkSession, dir: String, toVersion: Long,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    require(toVersion >= 0 && toVersion <= v,
      s"cannot restore $dir to version $toVersion (current is $v)")
    val live = filesAt(spark, dir, v)
    val target = filesAt(spark, dir, toVersion)
    val targetDels = deleteFilesAt(spark, dir, toVersion)
    if (target == live && targetDels == deleteFilesAt(spark, dir, v))
      return v // already the target state — nothing to commit
    val fs = fsOf(spark, dir)
    // a SCOPED tombstone's exemption is defined by file ADD-versions,
    // and a restore RE-ADDS files in its own commit — the re-added
    // files would post-date the bound and resurrect their tombstoned
    // rows. Materialize first (the scoped window is meant to be
    // short-lived); global tombstones are version-independent and
    // restore fine.
    require(!(targetDels ++ deleteFilesAt(spark, dir, v))
      .exists(e => delParse(e)._2.isDefined),
      s"cannot restore $dir across pending SCOPED tombstones (their " +
        "file-age exemption does not survive re-added files): " +
        "materializeDeletes() first")
    val missing = (target ++ targetDels.map(delParse(_)._1))
      .filterNot(f => fs.exists(new Path(refPath(dir, f))))
    require(missing.isEmpty,
      s"cannot restore $dir to version $toVersion: ${missing.size} of its " +
        s"files were vacuumed (first: ${missing.headOption.getOrElse("")})")
    // a restore ACROSS a partition re-spec would commit old-layout
    // files under the current spec's meta — refuse; re-spec back (or
    // to the target's spec) first, then restore
    require(metaAt(spark, dir, toVersion).pkeys ==
      metaAt(spark, dir, v).pkeys,
      s"cannot restore $dir across a partition-spec change: " +
        "changePartitionSpec() to the target's spec first")
    // constraints survive a restore (protocol rules, not data, outlive
    // a rollback) — so the TARGET data must satisfy the CURRENT rules:
    // a constraint added after toVersion never validated those rows,
    // and skipping this check would commit a table in violation
    enforceConstraints(spark, dir, v, snapshotUnderMeta(spark, dir, toVersion, v),
      s"restore to version $toVersion")
    // change feed: crash-atomic increment published by the CAS,
    // keyed by the property's row identity
    val autoInc = metaAt(spark, dir, v).cdf.map { key =>
      writeChangeInc(spark, dir, restoreDiff(spark, dir, v, toVersion, key))
    }
    writeCommit(fs, dir, v + 1, target, live,
      carryMeta(spark, dir, v, commitTs, None, targetDels, "restore")
        .copy(cdfInc = autoInc))
    v + 1
  }

  /** The ROW-LEVEL Delta-CDF diff of restoring `dir` from version `v`
    * back to `toVersion`, classed by `rowKey` (keys only in the
    * current state → delete, only in the target → insert, in both
    * with changed rows → update_preimage/update_postimage — a feed
    * batch replays as ONE merge batch, where a same-key delete+insert
    * pair would collide). Aligns schemas across evolution (each side
    * gains the other's missing columns as typed nulls). */
  private def restoreDiff(spark: SparkSession, dir: String, v: Long,
      toVersion: Long, rowKey: Seq[String]): DataFrame =
    // the target's files under the CURRENT column mapping — the diff
    // must compare like-named columns even across a rename
    rowDiff(snapshotAll(spark, dir, v),
      snapshotUnderMeta(spark, dir, toVersion, v), rowKey)

  /** The Delta-CDF action rows that turn `cur0` into `tgt0`, classed
    * by `rowKey` — shared by [[restoreDiff]] (version → version) and
    * [[overwrite]] (version → incoming batch). */
  private def rowDiff(cur0: DataFrame, tgt0: DataFrame,
      rowKey: Seq[String]): DataFrame = {
    def align(d: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.filterNot(f => d.columns.contains(f.name))
        .foldLeft(d)((acc, f) => acc.withColumn(f.name, lit(null).cast(f.dataType)))
    val cur = align(cur0, tgt0)
    val tgt = align(tgt0, cur0).select(cur.columns.map(col): _*)
    // rename the right side of every join — the two snapshots share
    // file lineage (untouched partitions), which makes bare
    // column-apply conditions a self-join ambiguity class
    def tagged(d: DataFrame): DataFrame =
      d.columns.foldLeft(d)((a, c) => a.withColumnRenamed(c, "__r_" + c))
    def keyCond(l: DataFrame, r: DataFrame) =
      rowKey.map(k => l(k) <=> r("__r_" + k)).reduce(_ && _)
    val tgtT = tagged(tgt)
    val curT = tagged(cur)
    val dels = cur.join(tgtT, keyCond(cur, tgtT), "left_anti")
      .withColumn("_action", lit("delete"))
    val ins = tgt.join(curT, keyCond(tgt, curT), "left_anti")
      .withColumn("_action", lit("insert"))
    // a key-only table has no non-key columns, hence no update class
    val nonKey = cur.columns.filterNot(rowKey.contains).toSeq
    val changedPred =
      if (nonKey.isEmpty) lit(false)
      else nonKey.map(c => !(cur(c) <=> tgtT("__r_" + c))).reduce(_ || _)
    val changedKeys = cur.join(tgtT, keyCond(cur, tgtT) && changedPred,
        "inner")
      .select(rowKey.map(cur(_)): _*).distinct()
    val changedT = tagged(changedKeys)
    def changedSide(d: DataFrame, action: String) =
      d.join(changedT,
          rowKey.map(k => d(k) <=> changedT("__r_" + k)).reduce(_ && _),
          "left_semi")
        .withColumn("_action", lit(action))
    dels.unionByName(ins)
      .unionByName(changedSide(cur, "update_preimage"))
      .unionByName(changedSide(tgt, "update_postimage"))
  }

  // ---- CHECK constraints (Delta's table constraints) --------------

  /** Enforcement shared by the committing write paths: a row violates
    * when the expression evaluates to FALSE (SQL CHECK semantics —
    * NULL passes). ONE aggregate pass over the batch counts every
    * constraint's violations; refused with per-name counts BEFORE any
    * data file is written. */
  private def enforceConstraints(spark: SparkSession, dir: String,
      v: Long, batch: DataFrame, what: String): Unit = {
    val chks = if (v >= 0) metaAt(spark, dir, v).chks else Map.empty[String, String]
    if (chks.isEmpty) return
    val names = chks.keys.toSeq.sorted
    val aggs = names.map { n =>
      sum(when(!coalesce(expr(chks(n)), lit(true)), 1L).otherwise(0L)).as(n)
    }
    val row = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    val bad = names.zipWithIndex
      .map { case (n, i) => n -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }
      .filter(_._2 > 0)
    require(bad.isEmpty,
      s"$what violates CHECK constraint(s) of $dir: " +
        bad.map { case (n, c) => s"$n ($c rows: ${chks(n)})" }.mkString("; "))
  }

  /** ALTER TABLE ADD CONSTRAINT: validates the EXISTING rows satisfy
    * `exprStr` (one scan — Delta does the same), then commits
    * METADATA-ONLY. From then on every merge/append batch is validated
    * before its data writes (fail fast, nothing to vacuum), and the
    * constraint rides every manifest like the txn map — vacuum can
    * never erase it, clones do not inherit it (a clone starts its own
    * meta), restore keeps the CURRENT constraint set (protocol rules,
    * not data, survive a rollback). */
  def addConstraint(spark: SparkSession, dir: String, name: String,
      exprStr: String, commitTs: Long = System.currentTimeMillis()): Long = {
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"constraint names are [A-Za-z0-9_.-]+, got '$name'")
    val v = init(spark, dir, commitTs)
    val prior = metaAt(spark, dir, v).chks
    require(!prior.contains(name), s"constraint $name already exists on $dir")
    val nViol = snapshot(spark, dir, v)
      .filter(!coalesce(expr(exprStr), lit(true))).count()
    require(nViol == 0L,
      s"cannot add constraint $name to $dir: $nViol existing rows " +
        s"violate (${exprStr})")
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
          "add-constraint").copy(chks = prior + (name -> exprStr)))
    v + 1
  }

  /** Declare (or clear, with `Nil`) the table's CLUSTERING COLUMNS —
    * the liquid-clustering discipline: a `#cluster` metadata-only
    * commit records which columns the table should be z-ordered on,
    * and every later `OPTIMIZE` WITHOUT an explicit ZORDER clusters
    * on them automatically (the SQL command builds the
    * [[Maintenance.mortonKeyN]] key with grid domains from the
    * table's own min/max). ADVISORY layout metadata: readers are
    * unaffected, the protocol level does not move, and unlike
    * `#pkeys` nothing is checked at write time — clustering is an
    * OPTIMIZE-time promise, not a layout invariant (Delta's liquid
    * position exactly). Columns must exist and be numeric or string:
    * numerics bucket by quantile, strings by lexicographic rank (the
    * SQL OPTIMIZE's [[graft.sources.GraftOptimizeCommand.clusterKey]]
    * builds both from the table's own distribution — Delta's liquid
    * clustering accepts strings the same way). */
  def setClusterBy(spark: SparkSession, dir: String, cols: Seq[String],
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = init(spark, dir, commitTs)
    if (cols.nonEmpty) {
      val snap = snapshot(spark, dir, v)
      val missing = cols.filterNot(snap.columns.contains)
      require(missing.isEmpty,
        s"CLUSTER BY column(s) not in $dir: ${missing.mkString(", ")}")
      val badType = cols.filterNot { c =>
        val t = snap.schema(c).dataType
        t.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          t == org.apache.spark.sql.types.StringType ||
          t == org.apache.spark.sql.types.DateType ||
          t == org.apache.spark.sql.types.TimestampType
      }
      require(badType.isEmpty,
        s"CLUSTER BY needs numeric, string, date or timestamp " +
          s"columns, got: ${badType.mkString(", ")} — cluster on a " +
          "derived column (hash, id, bucket) instead")
      require(cols.size <= 4,
        s"CLUSTER BY supports 1 to 4 columns (got ${cols.size}): past " +
          "~4 interleaved dimensions no per-file box stays tight")
    }
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
          "cluster-by")
        .copy(cluster = if (cols.isEmpty) None else Some(cols),
          clusterAt = None))
    v + 1
  }

  /** The declared clustering columns at `version` (empty = none). */
  def clusterByOf(spark: SparkSession, dir: String,
      version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir")
    metaAt(spark, dir, v).cluster.getOrElse(Nil)
  }

  /** The version stamped by the last SELF-CLUSTERING OPTIMIZE
    * (`#clusterat`), if any — the incremental-clustering boundary:
    * files added at or before it are already laid out, files added
    * after it are the next incremental stripe. Advisory (like the
    * `#cluster` declaration itself): no reader semantics, no protocol
    * move. */
  def clusterStampOf(spark: SparkSession, dir: String,
      version: Long = -1L): Option[Long] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir")
    metaAt(spark, dir, v).clusterAt
  }

  /** Files ADDED strictly after `sinceV` and still live at the
    * current version — the incremental-clustering stripe. Throws
    * (like [[filesAddedSince]]) when the range's manifests were
    * vacuumed; callers fall back to a full pass. */
  private[graft] def filesAddedAfter(spark: SparkSession, dir: String,
      sinceV: Long): Set[String] = {
    val v = currentVersion(spark, dir)
    if (sinceV >= v) return Set.empty
    filesAddedSince(spark, dir, sinceV + 1, v)
      .intersect(filesAt(spark, dir, v).toSet)
  }

  /** The LOGICAL view of a SUBSET of the current live files (mapping,
    * added columns and the pinned schema applied; NO tombstone filter
    * — for layout computations like incremental-cluster cut points,
    * where a deleted row's value still describes the file holding
    * it). */
  private[graft] def snapshotOfFiles(spark: SparkSession, dir: String,
      refs: Seq[String]): DataFrame = {
    val v = currentVersion(spark, dir)
    val meta = metaAt(spark, dir, v)
    applyAddedColumns(meta, applyColumnMapping(meta,
      readRefs(spark, dir, refs, pinned = meta.pinned)))
  }

  /** ALTER TABLE DROP CONSTRAINT — metadata-only. */
  def dropConstraint(spark: SparkSession, dir: String, name: String,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val prior = metaAt(spark, dir, v).chks
    require(prior.contains(name), s"no constraint $name on $dir")
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
          "drop-constraint").copy(chks = prior - name))
    v + 1
  }

  /** The CHECK constraints in force at `version` — (name, expr),
    * name-sorted. Time-travels like everything else in the meta. */
  def constraints(spark: SparkSession, dir: String,
      version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    import spark.implicits._
    metaAt(spark, dir, v).chks.toSeq.sortBy(_._1).toDF("name", "expr")
  }

  /** INSERT OVERWRITE: ONE commit whose live set is exactly `rows` —
    * the full-replace write (reference `merge-data.py`'s regenerate
    * mode, Delta's `mode("overwrite")`), on the protocol: old files
    * stay for time travel until [[vacuum]], pending tombstones drop
    * (the new state is defined entirely by the batch), constraints /
    * generated columns / partition spec all enforce as on any write.
    * With a change feed attached, the increment is the ROW DIFF old
    * snapshot → batch classed by the feed key (an overwrite is
    * usually a regenerate — most rows unchanged, and the diff keeps
    * replicas incremental instead of re-shipping the table).
    * Refuses an empty batch: an empty live set would strand readers
    * (deleteWhere/mergeInto express deletions). No commit-retry: two
    * concurrent full-replaces are a semantic conflict — the loser
    * surfaces `concurrent commit` and the caller decides. */
  def overwrite(spark: SparkSession, dir: String, rows: DataFrame,
      partitionKeys: Seq[String],
      txn: Option[(String, Long)] = None,
      commitTs: Long = System.currentTimeMillis(),
      statsCols: Seq[String] = Nil): Long = {
    val v = init(spark, dir, commitTs)
    txn match {
      case Some((id, batchId)) if lastTxn(spark, dir, id) >= batchId =>
        return currentVersion(spark, dir) // replayed batch
      case _ =>
    }
    val fs = fsOf(spark, dir)
    val meta0 = metaAt(spark, dir, v)
    checkPartitionSpec(meta0, partitionKeys, "overwrite")
    val batch0 = rows.persist()
    try {
      val (batch, advIdents) = applyIdentity(spark, meta0,
        applyGenerated(spark, meta0,
          applyDefaults(meta0, batch0), "overwrite batch"), "overwrite batch")
      enforceConstraints(spark, dir, v, batch, "overwrite batch")
      val autoRen = autoRenames(meta0, batch.columns.toSeq, v + 1)
      val writeMeta = meta0.copy(renames = meta0.renames ++ autoRen)
      val (physBatch, pinOut) = conformToPinned(writeMeta,
        toPhysical(writeMeta, batch), partitionKeys, "overwrite batch")
      val (shapedOw, rowCapOw) =
        shapeForWrite(spark, dir, physBatch, partitionKeys)
      val staged = stage(spark, dir, shapedOw, partitionKeys, rowCapOw)
      // emptiness is read off the staged write, as in [[append]]
      if (staged.empty) {
        staged.discard(fs, dir)
        require(requirement = false,
          "overwrite got an empty batch — an empty live set would strand " +
            "readers; express deletions with deleteWhere/mergeInto")
      }
      val autoInc = meta0.cdf.map { key =>
        writeChangeInc(spark, dir, rowDiff(snapshotAll(spark, dir, v),
          batch, key))
      }
      val live = filesAt(spark, dir, v)
      val cm = carryMeta(spark, dir, v, commitTs, txn, Nil, "overwrite")
      writeCommit(fs, dir, v + 1, staged.files, live,
        cm.copy(cdfInc = autoInc, renames = cm.renames ++ autoRen,
          pinnedSchema = pinOut.orElse(cm.pinnedSchema),
          idents = advIdents), staged.sizes)
      maybeWriteIncStats(spark, dir, v, staged.files, statsCols)
      v + 1
    } finally batch0.unpersist()
  }

  /** `REPLACE TABLE` / `CREATE OR REPLACE TABLE [AS SELECT]` — the
    * HISTORY-PRESERVING definition swap (Delta's REPLACE on a path
    * table): ONE atomic commit publishes a whole NEW table definition
    * — schema (a fresh `_schema` anchor), declared partition spec,
    * declared clustering, contents (`rows`, or empty) — while every
    * pre-replace version keeps time-traveling under its own meta and
    * files (vacuum owns their retirement, exactly as for overwrite).
    *
    * Definition-level state RESETS to the new declaration: column
    * mapping, metadata-added columns, generated columns, CHECK
    * constraints and the change-feed property all belong to the
    * definition being replaced (carrying a CHECK the new schema never
    * declared, or a feed key naming a dropped column, would be wrong
    * by construction — re-declare what the new table needs with ALTER
    * TABLE). The `#txn` high-water map and the protocol floor CARRY:
    * idempotence markers fence replayed writers against double-commit
    * whatever the schema, and the floor never lowers.
    *
    * Failure atomicity: data files stage first (a failed SELECT leaves
    * the original table byte-identical), and a lost commit CAS
    * restores the pre-replace schema anchor before rethrowing — the
    * one shared-artifact window (the anchor only serves zero-file
    * versions). No commit retry: racing a replace is a semantic
    * conflict, the loser surfaces `concurrent commit`. */
  def replaceTable(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionKeys: Seq[String],
      clusterCols: Seq[String] = Nil,
      rows: Option[DataFrame] = None,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0,
      s"no table at $dir to replace — CREATE TABLE (or init) first")
    val missing = partitionKeys.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"PARTITIONED BY column(s) not in the replacing schema: " +
        missing.mkString(", "))
    val badCluster = clusterCols.filterNot(schema.fieldNames.contains)
    require(badCluster.isEmpty,
      s"CLUSTER BY column(s) not in the replacing schema: " +
        badCluster.mkString(", "))
    val meta0 = metaAt(spark, dir, v)
    val live = filesAt(spark, dir, v)
    val fs = fsOf(spark, dir)
    // the new definition's anchor is ATTEMPT-UNIQUE and recorded on
    // the committing meta's `#anchor` rail: until the CAS lands it is
    // invisible to every read (crash-safe by construction — see the
    // anchor section note), a failed replace leaves the original
    // definition fully intact, and a CONCURRENT replace's staged
    // anchor shares no path with this one — the old versioned-path
    // scheme let this attempt reclaim a racer's staged anchor as a
    // crashed orphan and overwrite it, serving the winner's committed
    // version under the loser's schema
    val aRef = writeSchemaAnchorRaw(spark, dir, schema)
    try {
      // stage the new contents: a failed query/write aborts with the
      // original table untouched (the staged files are unreferenced
      // debris, reaped by vacuum)
      val staged = rows.map { r =>
        val aligned = r.select(schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
        stage(spark, dir, clusterByKeys(aligned, partitionKeys), partitionKeys)
      }.getOrElse(Staged(Nil, Map.empty, empty = true))
      val newMeta = CommitMeta(
        Some(math.max(commitTs, meta0.ts.getOrElse(Long.MinValue))),
        meta0.txns, Nil, Map.empty, Some("replace"),
        verFloor = meta0.verFloor, cdf = None,
        renames = Map.empty, droppedCols = Nil,
        pkeys = if (partitionKeys.nonEmpty) Some(partitionKeys) else None,
        gens = Map.empty, addCols = Nil,
        cluster = if (clusterCols.nonEmpty) Some(clusterCols) else None,
        anchorRef = Some(aRef))
      writeCommit(fs, dir, v + 1, staged.files, live, newMeta, staged.sizes)
    } catch { case e: Throwable =>
      // a failed replace — staging OR a lost commit CAS — deletes its
      // own staged anchor: the path is attempt-unique, so this can
      // never touch a racing winner's anchor, and an unreferenced
      // anchor left by a crash is invisible to every read anyway
      try fs.delete(new Path(dir, aRef), true)
      catch { case _: java.io.IOException => } // surfacing e matters more
      throw e
    }
    v + 1
  }

  /** The table's partition keys: the declared `#pkeys` spec, or the
    * live layout's directory nesting — what a writer that was not
    * handed keys (the `graft` format's write path) partitions by. */
  def layoutPartitionKeys(spark: SparkSession, dir: String): Seq[String] = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    layoutKeys(metaAt(spark, dir, v), filesAt(spark, dir, v))
  }

  /** Blind APPEND commit — the event-ingest write at 100 TB: rows land
    * as NEW files in their partitions (no resolution, no rewrite, no
    * read of existing data), and the commit is a delta manifest of
    * `+file` lines bounded by the batch. Schema may evolve additively
    * (new columns null-fill on read via mergeSchema, as in merge
    * evolution). Supports the same `txn` idempotence marker as
    * [[mergeInto]] (a replaying streaming sink appends exactly once
    * per batch) and the commit-time stats discipline (explicit
    * `statsCols` or inherited).
    *
    * Refused when the batch's keys collide with PENDING equality
    * deletes — without Iceberg sequence numbers the tombstone's
    * anti-join would silently hide the fresh rows; use [[mergeInto]]
    * (which materializes the conflict) instead. Returns the committed
    * version. */
  def append(spark: SparkSession, dir: String, rows: DataFrame,
      partitionKeys: Seq[String],
      txn: Option[(String, Long)] = None,
      commitTs: Long = System.currentTimeMillis(),
      statsCols: Seq[String] = Nil,
      maxAttempts: Int = 5): Long = {
    require(maxAttempts >= 1, "need maxAttempts >= 1")
    val v = init(spark, dir, commitTs)
    txn match {
      case Some((id, batchId)) if lastTxn(spark, dir, id) >= batchId =>
        return currentVersion(spark, dir) // replayed batch
      case _ =>
    }
    val fs = fsOf(spark, dir)
    val dels = deleteFilesAt(spark, dir, v)
    // the append consumes the batch up to four times (constraint
    // aggregate, tombstone semi-join, empty check, write) — materialize
    // it ONCE; it is bounded by batch size, never lake size, and a
    // batch derived from an expensive upstream (a curation funnel)
    // would otherwise recompute per consumption
    val batch0 = rows.persist()
    try {
      val meta0 = metaAt(spark, dir, v)
      checkPartitionSpec(meta0, partitionKeys, "append")
      // generated columns: compute absent ones, validate present ones
      val (batch, advIdents) = applyIdentity(spark, meta0,
        applyGenerated(spark, meta0,
          applyDefaults(meta0, batch0), "append batch"), "append batch")
      val entryChks = meta0.chks
      enforceConstraints(spark, dir, v, batch, "append batch")
      def checkTombstones(ds: Seq[String]): Unit = {
        // only GLOBAL tombstones can hide an append's fresh rows —
        // a SCOPED one ([[mergeIntoMor]]) exempts files added after
        // its bound, which this append's files are by construction
        // deletion vectors name exact EXISTING files — an append's
        // fresh files can never be referenced, so no collision check
        val global = ds.map(delParse)
          .collect { case (p, None) if !isDvRef(p) => p }
        if (global.nonEmpty) {
          // tombstones are physical; compare in the logical view
          // (key schema served from the first footer, driver-side)
          val paths = global.map(d => s"$dir/$d")
          val raw = parquetSchemaLocal(spark, paths.head) match {
            case Some(s) => spark.read.schema(s).parquet(paths: _*)
            case None => spark.read.parquet(paths: _*)
          }
          val tomb = applyColumnMapping(meta0, raw)
          val hit = batch.join(tomb, tomb.columns.toSeq
            .map(k => batch(k) <=> tomb(k)).reduce(_ && _), "left_semi")
          require(hit.isEmpty,
            "append under a pending equality delete on the same key would " +
              "hide the fresh rows: mergeInto handles the conflict, or " +
              "materializeDeletes() first")
        }
      }
      checkTombstones(dels)
      // logical batch -> physical files (fresh physicals for re-added
      // dropped names, committed below)
      val autoRen = autoRenames(meta0, batch.columns.toSeq, v + 1)
      val writeMeta = meta0.copy(renames = meta0.renames ++ autoRen)
      val (physBatch, pinOut) = conformToPinned(writeMeta,
        toPhysical(writeMeta, batch), partitionKeys, "append batch")
      val (shapedAp, rowCapAp) =
        shapeForWrite(spark, dir, physBatch, partitionKeys)
      val staged = stage(spark, dir, shapedAp, partitionKeys, rowCapAp)
      val newFiles = staged.files
      // EMPTINESS is read off the staged write ([[stage]]) instead of a
      // separate `batch.isEmpty` job (executeTake escalates through
      // every empty partition of a small batch — one full extra pass
      // per append; guide §2.4). The refused batch's staged files are
      // unreferenced by any manifest; they are deleted here rather
      // than left for vacuum.
      if (staged.empty) {
        staged.discard(fs, dir)
        require(requirement = false, "append got an empty batch")
      }
      // table-property CDF: a blind append's increment is its own rows
      // as inserts; published by whichever CAS attempt wins below
      val autoInc = meta0.cdf.map { _ =>
        writeChangeInc(spark, dir, batch.withColumn("_action", lit("insert")))
      }
      // blind appends COMMUTE: a lost manifest CAS never invalidates the
      // already-written data files, so the retry is COMMIT-ONLY — re-read
      // the winner's live list, re-check tombstone collisions against any
      // new tombstones AND re-run any constraint the winner added (the
      // batch was never validated against it), CAS again. N concurrent
      // ingest writers serialize at the manifest (one tiny metadata op
      // each), never at the data — the property that makes a
      // multi-writer firehose cheap.
      var attempt = 1
      var curV = v
      var curDels = dels
      var committed = -1L
      while (committed < 0) {
        beforeCommitHook()
        try {
          val cm = carryMeta(spark, dir, curV, commitTs, txn, curDels, "append")
          writeCommit(fs, dir, curV + 1, filesAt(spark, dir, curV) ++ newFiles,
            filesAt(spark, dir, curV),
            cm.copy(cdfInc = autoInc, renames = cm.renames ++ autoRen,
              pinnedSchema = pinOut.orElse(cm.pinnedSchema),
              idents = advIdents), staged.sizes)
          committed = curV + 1
        } catch {
          case e: IllegalArgumentException
              if e.getMessage != null &&
                e.getMessage.contains("concurrent commit") &&
                attempt < maxAttempts =>
            attempt += 1
            curV = currentVersion(spark, dir)
            txn match { // the winner may have been this txn's own replay
              case Some((id, batchId)) if lastTxn(spark, dir, id) >= batchId =>
                return curV
              case _ =>
            }
            val retryMeta = metaAt(spark, dir, curV)
            // the winner may have re-specced the table: this append's
            // already-written files would fork the layout — refuse
            checkPartitionSpec(retryMeta, partitionKeys, "append (retry)")
            if (retryMeta.chks != entryChks)
              enforceConstraints(spark, dir, curV, batch, "append batch (retry)")
            // SEMANTICS-BEARING table properties must not have moved
            // under this append (mergeInto's retry discipline): the
            // batch's files are already written under meta0's rules —
            // if the winner enabled a change feed, this retry would
            // commit op=append with no `#cdfinc` (a permanent feed
            // hole); a new generated column would commit files without
            // it (silent nulls); a changed mapping (incl. a colliding
            // auto-rename the winner minted) would clobber the
            // winner's `#ren` lines and expose physical names raw.
            // Bail to a caller-level re-run instead of re-CASing.
            // derived from the rail registry, not an ad-hoc field
            // list — a rail added tomorrow is guarded by default
            // (this list forgot `defaults` once and `idents` nearly
            // twice; see CommitMeta.appendSemantic)
            val rulesMoved = CommitMeta.railsMoved(retryMeta, meta0) ||
              autoRen.keySet.intersect(retryMeta.renames.keySet).nonEmpty
            if (rulesMoved) throw new IllegalArgumentException(
              s"concurrent commit changed table properties of $dir " +
                "(change feed / generated columns / identity / column " +
                "defaults / column mapping / pinned schema) under this " +
                "append — re-run the append against the new version", e)
            val newDels = deleteFilesAt(spark, dir, curV)
            if (newDels != curDels) checkTombstones(newDels)
            curDels = newDels
        }
      }
      maybeWriteIncStats(spark, dir, committed - 1, newFiles, statsCols)
      // cross-batch small-file folding (the firehose path) — a no-op
      // unless spark.graft.write.autoCompact asks for it
      maybeAutoCompact(spark, dir, partitionKeys)
      committed
    } finally batch0.unpersist()
  }

  /** Rows ADDED between two versions (`fromV` exclusive → `toV`
    * inclusive), resolved from the manifests alone — the table-follow
    * read (Delta's streaming-from-a-table contract): valid ONLY when
    * every commit in the range was append-only, refused loudly when
    * any commit removed files or changed tombstones (a rewrite's
    * added files are NOT added rows — follow the change feed for
    * those). Metadata cost: two listing resolutions; data cost: a
    * scan of exactly the added files. */
  def appendsBetween(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): DataFrame = {
    require(0 <= fromV && fromV <= toV,
      s"need 0 <= fromV <= toV, got ($fromV, $toV)")
    require(deleteFilesAt(spark, dir, fromV) == deleteFilesAt(spark, dir, toV),
      s"versions $fromV..$toV of $dir changed equality deletes — not " +
        "append-only: consume the change feed instead")
    val from = filesAt(spark, dir, fromV).toSet
    val to = filesAt(spark, dir, toV)
    val removed = from -- to.toSet
    require(removed.isEmpty,
      s"versions $fromV..$toV of $dir removed ${removed.size} files — not " +
        "append-only: consume the change feed instead")
    val added = to.filterNot(from)
    if (added.isEmpty) snapshotAll(spark, dir, toV).limit(0)
    else applyColumnMapping(metaAt(spark, dir, toV),
      readRefs(spark, dir, added,
        pinned = metaAt(spark, dir, toV).pinned))
  }

  // ---- change feed as a TABLE PROPERTY ----------------------------
  // Delta's `delta.enableChangeDataFeed`, on the manifest protocol:
  // once enabled (`#cdf <rowKey>` carried in every manifest), EVERY
  // mutating commit path — mergeInto, append, deleteWhere, restore —
  // publishes its row-level increment WITHOUT any per-call argument,
  // so no writer can "forget" and leave a silent hole for feed
  // consumers. Publication is crash-atomic by construction: the
  // increment's rows land under `_changes/inc_<nonce>` (invisible —
  // nothing references them), and the committing manifest records the
  // dir as a `#cdfinc` line — the manifest CAS IS the publication, so
  // a lost CAS or a crash orphans the nonce dir ([[vacuum]] reaps it)
  // instead of ever exposing a stale increment. No staging/promote
  // dance, no two-phase window. Old engine builds are fenced by the
  // `#ver 1` protocol floor the property sets: they refuse to read —
  // and therefore to commit — rather than commit feed-less mutations.

  /** Write one table-property CDF increment (every emitter passes
    * through here). EMITTER INVARIANT — preimages are PAIRED: an
    * `update_preimage` row is always written together with its
    * `update_postimage` (both legs union from the same resolved
    * frame in every emitter: resolveActions, the COW merge's feed
    * resolution, updateWhere*'s pre∪post, deleteWhere's delete-only).
    * [[incrementRowsLocal]]'s footer-count emptiness — "zero TOTAL
    * rows ⇔ nothing left after dropping preimages" — is sound ONLY
    * under this pairing; an emitter that ever writes a preimage-only
    * increment must also revisit that probe. */
  private def writeChangeInc(spark: SparkSession, dir: String,
      actions: DataFrame): String = {
    val rel = "_changes/inc_" + java.util.UUID.randomUUID().toString.take(12)
    actions.write.mode("errorifexists").parquet(s"$dir/$rel")
    rel
  }

  /** ROW TRACKING (Delta's row tracking on this protocol): declares
    * the engine-hidden [[RowIdCol]] identity and BACKFILLS every
    * existing row with a unique id in ONE rewrite commit (the same
    * one-time cost Delta's row-tracking backfill pays). From here on
    * every write path assigns ids to new rows (the `#ident`
    * machinery), every rewrite path carries them ([[snapshotAll]]),
    * and [[enableChangeFeed]] with an EMPTY rowKey keys the change
    * feed by them — keyless CDF. The id is invisible to [[snapshot]]
    * and the SQL schema. Refuses under pending MOR deletes (the
    * backfill rewrite would materialize them with surprise scope —
    * materializeDeletes() first, explicitly). Idempotent. */
  def enableRowTracking(spark: SparkSession, dir: String,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = init(spark, dir, commitTs)
    val meta0 = metaAt(spark, dir, v)
    if (meta0.idents.contains(RowIdCol)) return v // already tracking
    require(deleteFilesAt(spark, dir, v).isEmpty,
      s"enableRowTracking on $dir under pending MOR deletes would fold " +
        "them into the backfill rewrite: materializeDeletes() first")
    val rule = IdentRule(1L, 1L, None, allowExplicit = false)
    val live = filesAt(spark, dir, v)
    val fs = fsOf(spark, dir)
    if (live.isEmpty) {
      // empty table: the rule alone — the first write assigns from 1
      writeCommit(fs, dir, v + 1, Nil, Nil,
        carryMeta(spark, dir, v, commitTs, None, Nil,
          "enable-row-tracking").copy(idents =
            meta0.idents + (RowIdCol -> rule)))
      return v + 1
    }
    // the backfill: ONE rewrite assigning dense ids to every existing
    // row, through the same assignment pass every later write uses
    val keys = layoutKeys(meta0, live)
    val snap = snapshotAll(spark, dir, v).persist()
    try {
      val (withIds, adv) = applyIdentity(spark,
        meta0.copy(idents = Map(RowIdCol -> rule)), snap,
        "enable-row-tracking backfill")
      val (phys, pinOut) = conformToPinned(meta0,
        toPhysical(meta0, withIds), keys, "row-tracking backfill")
      val staged = stage(spark, dir, clusterByKeys(phys, keys), keys)
      writeCommit(fs, dir, v + 1, staged.files, live,
        carryMeta(spark, dir, v, commitTs, None, Nil,
          "enable-row-tracking").copy(
            idents = meta0.idents ++ adv,
            pinnedSchema = pinOut.orElse(meta0.pinnedSchema)), staged.sizes)
      // the backfill REPLACES every live file: without extending the
      // stats/bloom sidecars to the new files, established coverage
      // breaks at this version forever (prunedScan refuses,
      // metadataAggregate and optimizeWrite calibration silently bail
      // until a manual re-backfill) — the same discipline every other
      // full-rewrite commit path follows
      maybeWriteIncStats(spark, dir, v, staged.files, Nil)
      v + 1
    } finally snap.unpersist()
  }

  /** Is the engine-hidden row id in force at `version`? */
  def rowTrackingEnabled(spark: SparkSession, dir: String,
      version: Long = -1L): Boolean = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    metaAt(spark, dir, v).idents.contains(RowIdCol)
  }

  /** Enable the change feed as a table property: `rowKey` is the row
    * identity every increment resolves against (and the key replicas
    * apply with). An EMPTY rowKey enables KEYLESS CDF: the engine's
    * own row ids key the feed ([[enableRowTracking]] runs first —
    * including its one-time backfill rewrite — if not already on).
    * Metadata-only commit otherwise; bumps the reader protocol floor
    * to 1 so pre-CDF builds refuse rather than commit holes. */
  def enableChangeFeed(spark: SparkSession, dir: String,
      rowKey: Seq[String] = Nil,
      commitTs: Long = System.currentTimeMillis()): Long = {
    if (rowKey.isEmpty) {
      // refuse BEFORE the row-tracking backfill: enableRowTracking is
      // a full-table rewrite commit — running it first would mutate
      // the table and only then hit the already-enabled refusal below
      require(metaAt(spark, dir, init(spark, dir, commitTs)).cdf.isEmpty,
        s"change feed already enabled on $dir")
      enableRowTracking(spark, dir, commitTs)
      return enableChangeFeed(spark, dir, Seq(RowIdCol), commitTs)
    }
    val v = init(spark, dir, commitTs)
    val prev = metaAt(spark, dir, v)
    require(prev.cdf.isEmpty, s"change feed already enabled on $dir")
    val missing = rowKey
      .filterNot(snapshotAll(spark, dir, v).columns.contains)
    require(missing.isEmpty,
      s"enableChangeFeed rowKey columns not in $dir: ${missing.mkString(", ")}")
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
        "enable-cdf").copy(cdf = Some(rowKey)))
    v + 1
  }

  /** Disable the table-property change feed (metadata-only). Already-
    * published increments stay readable for the retained history. */
  def disableChangeFeed(spark: SparkSession, dir: String,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    require(metaAt(spark, dir, v).cdf.isDefined,
      s"change feed is not enabled on $dir")
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, deleteFilesAt(spark, dir, v),
        "disable-cdf").copy(cdf = None))
    v + 1
  }

  /** The change-feed row identity in force at `version`, if enabled. */
  def changeFeedKey(spark: SparkSession, dir: String,
      version: Long = -1L): Option[Seq[String]] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    metaAt(spark, dir, v).cdf
  }

  /** Commits that change layout or metadata but no logical rows — a
    * follower/replica skips them; every OTHER op without a `#cdfinc`
    * is a hole and refused. (`init`/`clone` mint v0 and are never
    * inside a change range.) */
  private val RowNeutralOps = Set("optimize", "materialize",
    "add-constraint", "drop-constraint", "enable-cdf", "disable-cdf",
    "rename-column", "drop-column", "change-partition-spec",
    "add-generated", "drop-generated",
    // the row-tracking backfill rewrites every file but changes no
    // logical row — a follower skips it like any OPTIMIZE
    "enable-row-tracking")

  /** Version `v`'s published change increment: Some(CDF action rows)
    * when the commit carried one, None when the commit was row-neutral
    * (layout/metadata only), refused loudly when the commit mutated
    * rows without an increment (it predates [[enableChangeFeed]] —
    * re-seed the consumer from a snapshot instead). */
  def changeIncrementAt(spark: SparkSession, dir: String,
      v: Long): Option[DataFrame] = {
    val m = metaAt(spark, dir, v)
    m.cdfInc match {
      case Some(rel) =>
        // an increment dir is written by ONE job, so its footers agree:
        // serve the schema driver-side and skip the per-read
        // mergeSchema inference job (guide §2.4); the distributed
        // merge stays as the fallback for any surprise
        val p = s"$dir/$rel"
        val parts =
          try LocalParquet.dataFiles(fsOf(spark, dir), new Path(p)).map(_._1)
          catch { case scala.util.control.NonFatal(_) => Nil }
        Some(uniformSchemaLocal(spark, parts) match {
          case Some(s) => spark.read.schema(s).parquet(p)
          case None => spark.read.option("mergeSchema", "true").parquet(p)
        })
      case None if m.op.exists(RowNeutralOps) => None
      case None => throw new IllegalArgumentException(
        s"version $v of $dir (op ${m.op.getOrElse("unknown")}) carries no " +
          "change increment — it predates enableChangeFeed: serve that " +
          "range from a snapshot instead")
    }
  }

  /** Footer-only row count of version `v`'s change increment, read on
    * the driver — the job-free twin of the apply loops' per-increment
    * `isEmpty` probe (guide §2.4). Sound because an increment's
    * `update_preimage` rows are always written PAIRED with their
    * postimages (every emitter unions both legs of the same resolved
    * frame), so "zero total rows" is the only case where filtering
    * preimages away leaves nothing. None above the footer budget or
    * on any IO surprise (callers fall back to the Spark probe). */
  private def incrementRowsLocal(spark: SparkSession, dir: String,
      v: Long): Option[Long] =
    try metaAt(spark, dir, v).cdfInc.flatMap { rel =>
      val parts = LocalParquet.dataFiles(fsOf(spark, dir),
        new Path(dir, rel)).map(_._1)
      if (parts.size > footerLocalMaxFiles(spark)) None
      else Some(LocalParquet.recordCount(
        spark.sparkContext.hadoopConfiguration, parts))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The CDF rows of versions `fromV` (exclusive) → `toV` (inclusive),
    * each tagged `_commit_version` — the batch read of the table
    * property feed (Delta's `table_changes`). Metadata cost: one meta
    * read per version in range; data cost: exactly the increments.
    *
    * Every increment is served under the COLUMN MAPPING in force at
    * `toV` (Delta's `table_changes` returns the latest schema): an
    * increment written before a RENAME in range carries its commit's
    * own names on disk, and [[translateLogical]] re-spells it along
    * the stable physical rail — so the union below never forks one
    * physical column across two logical names. */
  def changesBetween(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): DataFrame = {
    require(0 <= fromV && fromV <= toV,
      s"need 0 <= fromV <= toV, got ($fromV, $toV)")
    val mTo = metaAt(spark, dir, toV)
    val parts = ((fromV + 1) to toV).flatMap { v =>
      changeIncrementAt(spark, dir, v)
        .map(inc => translateLogical(metaAt(spark, dir, v), mTo, inc)
          .withColumn("_commit_version", lit(v)))
    }
    if (parts.isEmpty)
      snapshotAll(spark, dir, toV).limit(0)
        .withColumn("_action", lit(""))
        .withColumn("_commit_version", lit(0L))
    else parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Collapse a contiguous, name-consistent run of CDF increments
    * (each still carrying `_action`, preimages included) into ONE
    * merge batch whose application reproduces the sequential
    * per-version merges exactly. Soundness: a merge batch's state
    * transform is `base' = (base − batch keys) ∪ upserts`
    * ([[graft.ops.MergeData.resolveMerge]] — EVERY batch key leaves
    * via the survivors anti-join, then non-delete rows land), so
    * sequential application leaves, for every key, exactly the rows
    * of the LAST version that touched it. The reduction therefore
    * keeps each key's newest touching version — ALL of its rows, so
    * within-version duplicates reach the merge unchanged. Rows with a
    * NULL key column are exempt: the survivors anti-join is plain
    * equality (null never matches), so a later version can never
    * displace them — they pass through unreduced, exactly as the
    * sequential merges would leave them. Guide §2.4/§3: k merge
    * commits' fixed cost (resolve, staged write, commit, stats)
    * collapses to one, paid for with one window over the unioned
    * increments — bounded by the range's churn, never the lake. */
  private def reduceIncrementRun(parts: Seq[(Long, DataFrame)],
      key: Seq[String]): DataFrame = {
    if (parts.size == 1)
      return parts.head._2.filter(col("_action") =!= "update_preimage")
        .withColumn("__delete", col("_action") === "delete")
        .drop("_action")
    val vcol = "__graft_inc_v"
    val tagged = parts.map { case (v, inc) =>
      inc.filter(col("_action") =!= "update_preimage")
        .withColumn(vcol, lit(v))
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val keyNull = key.map(col(_).isNull).reduce(_ || _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key.map(col): _*)
    val vmax = "__graft_inc_vmax"
    val reduced = tagged.filter(!keyNull)
      .withColumn(vmax, max(col(vcol)).over(w))
      .filter(col(vcol) === col(vmax))
      .drop(vmax)
    reduced.unionByName(tagged.filter(keyNull))
      .withColumn("__delete", col("_action") === "delete")
      .drop("_action", vcol)
  }

  /** Replicate `srcDir`'s committed changes onto the versioned replica
    * `replicaDir` (seeded from a snapshot at version `sinceV`, then
    * [[init]]ed): the replica converges to `untilV` (current if -1) no
    * matter which MIX of merge/append/delete/restore commits produced
    * the history. A consumer persists the returned version as its
    * high-water mark and passes it back as the next `sinceV`. Driver
    * cost is bounded by the version range; each merge touches only its
    * increments' partitions.
    *
    * RENAME/DROP commits in range mirror onto the replica as
    * [[renameColumn]]/[[dropColumn]] (metadata-only on both sides), and
    * each run of increments BETWEEN those barriers collapses into one
    * [[mergeInto]] under that run's names — which the just-mirrored
    * replica speaks ([[reduceIncrementRun]]).
    * Mirroring reads the source's `#op` label and diffs adjacent
    * metas: a rename commit moves exactly one physical between
    * logical names, a drop retires exactly one physical; auto-renames
    * minted inside merge commits are NOT schema changes (the re-added
    * column arrives through the increment itself). Returns the source
    * version the replica now reflects. */
  def applyTableChanges(spark: SparkSession, srcDir: String,
      replicaDir: String, partitionKeys: Seq[String],
      sinceV: Long, untilV: Long = -1L): Long = {
    val cur = if (untilV >= 0) untilV else currentVersion(spark, srcDir)
    require(changeFeedKey(spark, srcDir, cur).isDefined,
      s"$srcDir has no change-feed table property: enableChangeFeed() first")
    // Increments between two RENAME/DROP barriers all speak the same
    // names (names only change at those commits), so each such run
    // collapses into ONE merge ([[reduceIncrementRun]], guide §2.4/§3).
    // A feed-key change mid-range (a re-enable, or enable-row-tracking
    // switching the key to the hidden id) also flushes: every batch
    // must merge under the key its versions published with.
    var run = List.empty[(Long, DataFrame)]
    var runKey: Option[Seq[String]] = None
    def flushRun(): Unit = if (run.nonEmpty) {
      mergeInto(spark, replicaDir,
        reduceIncrementRun(run.reverse, runKey.get), partitionKeys,
        runKey.get)
      run = Nil
      runKey = None
    }
    ((sinceV + 1) to cur).foreach { v =>
      val op = metaAt(spark, srcDir, v).op
      if (op.contains("rename-column")) {
        flushRun()
        val mPrev = metaAt(spark, srcDir, v - 1)
        val mV = metaAt(spark, srcDir, v)
        val (to, phys) = (mV.renames.toSet -- mPrev.renames.toSet).head
        val from = mPrev.renames.find(_._2 == phys).map(_._1).getOrElse(phys)
        renameColumn(spark, replicaDir, from, to)
      } else if (op.contains("drop-column")) {
        flushRun()
        val mPrev = metaAt(spark, srcDir, v - 1)
        val mV = metaAt(spark, srcDir, v)
        val physDropped =
          (mV.droppedCols.toSet -- mPrev.droppedCols.toSet).head
        val name = mPrev.renames.find(_._2 == physDropped)
          .map(_._1).getOrElse(physDropped)
        dropColumn(spark, replicaDir, name)
      } else changeIncrementAt(spark, srcDir, v).foreach { inc =>
        val key = changeFeedKey(spark, srcDir, v).getOrElse(
          sys.error(s"version $v published an increment without a feed key"))
        if (!runKey.forall(_ == key)) flushRun()
        // emptiness off the increment's footers (driver-side, no job)
        val empty = incrementRowsLocal(spark, srcDir, v) match {
          case Some(n) => n == 0L
          case None =>
            inc.filter(col("_action") =!= "update_preimage").isEmpty
        }
        if (!empty) {
          runKey = Some(key)
          run ::= (v -> inc)
        }
      }
    }
    flushRun()
    cur
  }

  // ---- commit-time file statistics (Iceberg-style) ----------------
  // Per-file (col, lo, hi, rows) boxes live in the METADATA layer as
  // parquet sidecars under `_manifest/stats/`: `v<N>.full.parquet`
  // covers every file live at N ([[backfillStats]] — the bootstrap,
  // one distributed footer pass), `v<N>.inc.parquet` covers ONLY the
  // files commit N introduced — bounded by the batch, written by the
  // commit itself. Once a lake has stats, every later merge/optimize/
  // materialize INHERITS the tracked column set automatically and
  // extends coverage for free (Iceberg's "stats are part of the
  // commit", minus any separate index build or refresh discipline).
  // [[statsAt]] resolves newest-full + incremental tail — the same
  // checkpoint+delta shape as the manifest — and [[prunedScan]]
  // routes range and null predicates straight to it. Data files
  // are immutable, so a file's stats never change and any sidecar
  // holding them is authoritative.

  // Sidecar plumbing shared by the STATS ("stats") and BLOOM ("bloom")
  // metadata families: both store per-file rows keyed by manifest REF
  // under `_manifest/<kind>/`, a FULL sidecar at backfill plus an
  // INCREMENTAL sidecar per commit bounded by the commit's own files,
  // resolved newest-full + tail like the manifest itself.
  private def sidecarRoot(dir: String, kind: String) =
    new Path(dir, s"_manifest/$kind")
  private def fullSidecarPath(dir: String, kind: String, v: Long) =
    new Path(sidecarRoot(dir, kind), f"v$v%06d.full.parquet")
  private def incSidecarPath(dir: String, kind: String, v: Long) =
    new Path(sidecarRoot(dir, kind), f"v$v%06d.inc.parquet")

  private def listSidecars(fs: FileSystem, dir: String,
      kind: String): Seq[(Long, Boolean)] = {
    val sr = sidecarRoot(dir, kind)
    if (!fs.exists(sr)) return Nil
    fs.listStatus(sr).map(_.getPath.getName).toSeq.collect {
      case n if n.matches("v\\d+\\.full\\.parquet") =>
        (n.stripPrefix("v").stripSuffix(".full.parquet").toLong, true)
      case n if n.matches("v\\d+\\.inc\\.parquet") =>
        (n.stripPrefix("v").stripSuffix(".inc.parquet").toLong, false)
    }.sorted
  }

  /** Byte budget under which sidecar / deletion-vector METADATA
    * parquet is read on the DRIVER (zero Spark jobs; [[LocalParquet]])
    * instead of through `spark.read` — the Delta discipline: the log
    * and its per-file stats are driver-parsed, and every consumer here
    * already COLLECTS the same O(files × cols) rows, so the budget
    * changes where bytes are parsed, never the memory class. Above it
    * the original distributed read runs unchanged (the 100 TB /
    * million-file regime). 0 disables the local path (spec seam). */
  private def metaLocalMaxBytes(spark: SparkSession): Long =
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.graft.meta.localReadMaxBytes", "64m"))
    catch { case _: NumberFormatException => 0L }

  /** Driver-side twin of [[resolveSidecarRefs]]. Outer None = sidecar
    * bytes exceed [[metaLocalMaxBytes]] (caller must use the
    * distributed path); Left(()) = family absent or ended by an
    * empty-family marker (= the distributed path's None); Right(rows)
    * = resolved rows, REF-keyed, deduped on (file, col), restricted to
    * `v`'s live files, with the same `nulls`/`bytes` back-compat
    * defaults and the same coverage require() (message included — the
    * metadata-aggregate bail matches on its type). */
  private def resolveSidecarRowsLocal(spark: SparkSession, dir: String,
      kind: String, v: Long): Option[Either[Unit, Seq[Map[String, Any]]]] = {
    val budget = metaLocalMaxBytes(spark)
    if (budget <= 0L) return None
    val fs = fsOf(spark, dir)
    val sidecars = listSidecars(fs, dir, kind)
    val fulls = sidecars.collect { case (sv, true) if sv <= v => sv }
    if (fulls.isEmpty) return Some(Left(()))
    val base = fulls.max
    val baseParts = LocalParquet.dataFiles(fs, fullSidecarPath(dir, kind, base))
    val incParts = sidecars
      .collect { case (sv, false) if sv > base && sv <= v =>
        incSidecarPath(dir, kind, sv) }
      .flatMap(p => LocalParquet.dataFiles(fs, p))
    if ((baseParts ++ incParts).map(_._2).sum > budget) return None
    val conf = spark.sparkContext.hadoopConfiguration
    // zero-row full = the empty-family marker: footer-only probe
    if (LocalParquet.recordCount(conf, baseParts.map(_._1)) == 0L)
      return Some(Left(()))
    val raw = LocalParquet.readRows(conf, (baseParts ++ incParts).map(_._1))
    val live = filesAt(spark, dir, v)
    val liveSet = live.toSet
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    val rows = raw.flatMap { m =>
      val key = (m("file").asInstanceOf[String], m("col").asInstanceOf[String])
      if (!liveSet.contains(key._1) || !seen.add(key)) None
      else if (kind != "stats") Some(m)
      else Some(m
        .updated("nulls", m.getOrElse("nulls", -1L))
        .updated("bytes", m.getOrElse("bytes", -1L)))
    }
    // coverage: every live file present, uniform per-file column count
    val perFile = rows.groupBy(_("file")).view.mapValues(_.size).toMap
    val colSets = perFile.values.toSeq.distinct
    require(perFile.size == live.size && colSets.length <= 1,
      s"$kind sidecars do not cover version $v of $dir " +
        s"(${live.size - perFile.size} of ${live.size} files missing, " +
        s"${colSets.length} distinct column-set sizes): backfill to " +
        "re-establish coverage")
    Some(Right(rows))
  }

  /** The fixed frame schemas the local sidecar path materializes —
    * field-for-field what the distributed read resolves to after its
    * back-compat defaults. */
  private val statsSidecarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("col",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lo",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("hi",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("nulls",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bytes",
      org.apache.spark.sql.types.LongType)))
  private val bloomSidecarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("col",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bloom",
      org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("expected",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("fpp",
      org.apache.spark.sql.types.DoubleType)))

  private def sidecarRowsToDf(spark: SparkSession, kind: String,
      rows: Seq[Map[String, Any]]): DataFrame = {
    val schema = if (kind == "stats") statsSidecarSchema else bloomSidecarSchema
    val rws: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(rows.map { m =>
        org.apache.spark.sql.Row.fromSeq(
          schema.fields.map(f => m.getOrElse(f.name, null)).toSeq)
      }: _*)
    spark.createDataFrame(rws, schema)
  }

  /** The ref-keyed sidecar rows covering exactly version `v`'s live
    * files (newest full at or below `v` + incremental tail, deduped —
    * a file's sidecar rows are immutable facts about an immutable
    * file). None when the lake has no `kind` sidecar at or below `v`;
    * refuses on broken coverage (a live file missing, or per-file
    * column sets diverging). */
  private def resolveSidecarRefs(spark: SparkSession, dir: String,
      kind: String, v: Long): Option[DataFrame] = {
    resolveSidecarRowsLocal(spark, dir, kind, v) match {
      case Some(Left(())) => return None
      case Some(Right(rows)) =>
        return Some(sidecarRowsToDf(spark, kind, rows))
      case None => // over budget: distributed resolution below
    }
    val live = filesAt(spark, dir, v)
    val fs = fsOf(spark, dir)
    val sidecars = listSidecars(fs, dir, kind)
    val fulls = sidecars.collect { case (sv, true) if sv <= v => sv }
    if (fulls.isEmpty) return None
    val base = fulls.max
    // a ZERO-ROW full is the EMPTY-FAMILY MARKER (widenColumn drops a
    // single-column family without destroying older versions' sidecars):
    // the discipline ends at `base` — exactly as if never established.
    // Incs cannot follow a marker (inheritance stops at it), and a later
    // re-backfill writes a newer full that becomes the base instead.
    // take(1): a LIMIT-1 probe of one tiny sidecar, never a full read
    if (spark.read.parquet(fullSidecarPath(dir, kind, base).toString)
        .take(1).isEmpty)
      return None
    val parts = fullSidecarPath(dir, kind, base).toString +:
      sidecars.collect { case (sv, false) if sv > base && sv <= v =>
        incSidecarPath(dir, kind, sv).toString }
    // mergeSchema: sidecars written before the null-count column sit
    // next to newer ones; missing counts read as null -> -1 (unknown)
    val raw0 = spark.read.option("mergeSchema", "true").parquet(parts: _*)
      .dropDuplicates("file", "col")
    // back-compat defaults for columns the sidecar format grew later:
    // -1 = unknown (old sidecars sit next to new ones via mergeSchema)
    val raw1 =
      if (kind != "stats") raw0
      else if (raw0.columns.contains("nulls"))
        raw0.withColumn("nulls", coalesce(col("nulls"), lit(-1L)))
      else raw0.withColumn("nulls", lit(-1L))
    val raw =
      if (kind != "stats") raw1
      else if (raw1.columns.contains("bytes"))
        raw1.withColumn("bytes", coalesce(col("bytes"), lit(-1L)))
      else raw1.withColumn("bytes", lit(-1L))
    val liveDf = spark.createDataFrame(live.map(Tuple1(_))).toDF("__live_ref")
    val filtered = raw.join(liveDf, raw("file") === col("__live_ref"), "left_semi")
    // coverage: every live file present, uniform per-file column count
    val perFile = filtered.groupBy("file").count().collect()
    val colSets = perFile.map(_.getLong(1)).distinct
    require(perFile.length == live.size && colSets.length <= 1,
      s"$kind sidecars do not cover version $v of $dir " +
        s"(${live.size - perFile.length} of ${live.size} files missing, " +
        s"${colSets.length} distinct column-set sizes): backfill to " +
        "re-establish coverage")
    Some(filtered)
  }

  /** Ref→absolute-path mapping frame for joining sidecar rows to the
    * skip/bloom pruning machinery (which keys by full path). */
  private def refAbsMap(spark: SparkSession, dir: String,
      refs: Seq[String]): DataFrame =
    spark.createDataFrame(
        refs.map(r => (r, SkipIndex.normalizePath(refPath(dir, r)))))
      .toDF("__ref", "__abs")

  /** The newest `kind` sidecar at or below `v`, if any — how commits
    * inherit a discipline's parameters. At a version holding BOTH an
    * inc (the commit's own) and a full (an explicit backfill ran
    * after the commit, re-columning the discipline), the FULL wins:
    * it is the newer write and the re-columning authority — the next
    * commit must inherit the NEW column set. */
  private def newestSidecarAt(spark: SparkSession, dir: String,
      kind: String, v: Long): Option[DataFrame] = {
    val fs = fsOf(spark, dir)
    listSidecars(fs, dir, kind).filter(_._1 <= v)
      .sortBy { case (sv, isFull) => (-sv, !isFull) }.headOption
      .map { case (sv, isFull) =>
        val p = if (isFull) fullSidecarPath(dir, kind, sv)
                else incSidecarPath(dir, kind, sv)
        spark.read.parquet(p.toString)
      }
  }

  /** Driver-side projection read of the newest `kind` sidecar at or
    * below `v` — the inheritance probes ([[inheritedStatsCols]],
    * [[maybeWriteIncBlooms]]) need a few distinct values, not a
    * distributed scan; runs per COMMIT on every stats-tracked table.
    * None when absent or over the local byte budget. */
  private def newestSidecarRowsLocal(spark: SparkSession, dir: String,
      kind: String, v: Long, projection: Seq[String])
    : Option[Seq[Map[String, Any]]] = {
    val budget = metaLocalMaxBytes(spark)
    if (budget <= 0L) return None
    val fs = fsOf(spark, dir)
    listSidecars(fs, dir, kind).filter(_._1 <= v)
      .sortBy { case (sv, isFull) => (-sv, !isFull) }.headOption
      .flatMap { case (sv, isFull) =>
        val p = if (isFull) fullSidecarPath(dir, kind, sv)
                else incSidecarPath(dir, kind, sv)
        val parts = LocalParquet.dataFiles(fs, p)
        if (parts.map(_._2).sum > budget) None
        else Some(LocalParquet.readRows(
          spark.sparkContext.hadoopConfiguration, parts.map(_._1),
          projection))
      }
  }

  /** The column set this lake's stats sidecars track (decided by the
    * newest sidecar at or below `v`; empty = no stats discipline). */
  private def inheritedStatsCols(spark: SparkSession, dir: String,
      v: Long): Seq[String] =
    newestSidecarRowsLocal(spark, dir, "stats", v, Seq("col"))
      .map(_.map(_("col").asInstanceOf[String]).distinct.sorted)
      .getOrElse(newestSidecarAt(spark, dir, "stats", v)
        .map(_.select("col").distinct()
          .collect().map(_.getString(0)).toSeq.sorted)
        .getOrElse(Nil))

  /** File count at or under which a commit's footer pass runs on the
    * DRIVER (sequential footer reads + one [[LocalParquet]] parquet
    * write — zero Spark jobs) instead of as a distributed job. A
    * footer read is ~1 ms of metadata IO; scheduling a cluster job for
    * a 1–32-file commit costs more than doing the reads (guide §1.2).
    * Backfills over whole tables stay distributed above it. */
  private def footerLocalMaxFiles(spark: SparkSession): Int =
    try spark.conf.get("spark.graft.footer.localMaxFiles", "64").toInt
    catch { case _: NumberFormatException => 0 }

  /** One distributed footer pass over `refs`, written as a sidecar
    * keyed by manifest REF (relative path — the lake can move; foreign
    * clone refs read at their own root). */
  private def writeStatsSidecar(spark: SparkSession, dir: String,
      dst: Path, refs: Seq[String], cols: Seq[String]): Unit = {
    if (refs.size <= footerLocalMaxFiles(spark)) {
      val conf = spark.sparkContext.hadoopConfiguration
      val rows = refs.flatMap { r =>
        SkipIndex.footerEntriesOf(
            SkipIndex.normalizePath(refPath(dir, r)), conf, cols)
          .map(e => (r, e.col, e.lo, e.hi, e.rows, e.nulls, e.bytes))
      }
      LocalParquet.writeStatsRows(conf, fsOf(spark, dir), dst, rows)
      return
    }
    val built = SkipIndex.buildFromFooterFiles(spark,
      refs.map(r => refPath(dir, r)), cols)
    val mapDf = spark.createDataFrame(
        refs.map(r => (SkipIndex.normalizePath(refPath(dir, r)), r)))
      .toDF("abs", "ref")
    built.join(mapDf, built("file") === mapDf("abs"))
      .select(mapDf("ref").as("file"), built("col").as("col"),
        built("lo").as("lo"), built("hi").as("hi"),
        built("rows").as("rows"), built("nulls").as("nulls"),
        built("bytes").as("bytes"))
      .coalesce(1).write.mode("overwrite").parquet(dst.toString)
  }

  /** Post-commit stats hook shared by the committing write paths:
    * extends coverage to the commit's new files when `statsCols` is
    * given or the lake already tracks stats (inheritance). Runs AFTER
    * the manifest commit — the version is reserved, so the sidecar
    * path is owned; a crash in between leaves [[statsAt]] refusing
    * (loudly, with the repair) rather than pruning wrongly. */
  private def maybeWriteIncStats(spark: SparkSession, dir: String,
      prevV: Long, newRefs: Seq[String], statsCols: Seq[String]): Unit = {
    val cols =
      if (statsCols.nonEmpty) {
        // explicit tracked columns arrive logical; footers are physical
        val rens = metaAt(spark, dir, prevV + 1).renames
        statsCols.map(c => rens.getOrElse(c, c))
      } else inheritedStatsCols(spark, dir, prevV)
    if (cols.nonEmpty && newRefs.nonEmpty)
      writeStatsSidecar(spark, dir, incSidecarPath(dir, "stats", prevV + 1),
        newRefs, cols)
    maybeWriteIncBlooms(spark, dir, prevV, newRefs)
  }

  /** Bloom inheritance twin of the stats hook: once the lake has a
    * bloom sidecar, every commit extends coverage for its own new
    * files with the same (cols, expectedPerFile, fpp) parameters. */
  private def maybeWriteIncBlooms(spark: SparkSession, dir: String,
      prevV: Long, newRefs: Seq[String]): Unit = {
    if (newRefs.isEmpty) return
    // driver-side projection probe (col/expected/fpp, never the bloom
    // bytes) — the per-commit inheritance question costs zero jobs
    newestSidecarRowsLocal(spark, dir, "bloom", prevV,
        Seq("col", "expected", "fpp")) match {
      case Some(rows) =>
        // zero rows = absent family OR the empty-family marker
        // (widenColumn dropped the last tracked column): no inheritance
        rows.headOption.foreach { head =>
          val cols = rows.map(_("col").asInstanceOf[String]).distinct.sorted
          writeBloomSidecar(spark, dir,
            incSidecarPath(dir, "bloom", prevV + 1), newRefs, cols,
            head("expected").asInstanceOf[Long],
            head("fpp").asInstanceOf[Double])
        }
      case None =>
        newestSidecarAt(spark, dir, "bloom", prevV).foreach { prev =>
          // a zero-row newest full is the empty-family marker.
          // take(1) = LIMIT-1 — never a full collect of the sidecar
          prev.select("expected", "fpp").take(1).headOption.foreach { head =>
            val cols = prev.select("col").distinct()
              .collect().map(_.getString(0)).toSeq.sorted
            writeBloomSidecar(spark, dir,
              incSidecarPath(dir, "bloom", prevV + 1),
              newRefs, cols, head.getLong(0), head.getDouble(1))
          }
        }
    }
  }

  /** Bootstrap (or re-establish) commit-time stats: one distributed
    * footer pass over every file live at `version`, stored as that
    * version's FULL sidecar. From here on commits maintain stats
    * automatically (see the section note). Run it again to change the
    * tracked column set, or to repair coverage after a crash between
    * a commit and its stats write. */
  def backfillStats(spark: SparkSession, dir: String, cols: Seq[String],
      version: Long = -1L): Long = {
    require(cols.nonEmpty, "backfillStats needs at least one column")
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val rens = metaAt(spark, dir, v).renames
    writeStatsSidecar(spark, dir, fullSidecarPath(dir, "stats", v),
      filesAt(spark, dir, v), cols.map(c => rens.getOrElse(c, c)))
    v
  }

  /** The `kind` sidecar rows live at `v`, keyed by full path (`file` =
    * the abs-normalized path of [[filesAt]]'s entries) — None when the
    * lake has no `kind` discipline at or below `v`; refuses on broken
    * coverage. */
  private def sidecarAt(spark: SparkSession, dir: String, kind: String,
      v: Long): Option[DataFrame] =
    resolveSidecarRefs(spark, dir, kind, v).map { raw =>
      val mapDf = refAbsMap(spark, dir, filesAt(spark, dir, v))
      val cols =
        if (kind == "stats") Seq("col", "lo", "hi", "rows", "nulls", "bytes")
        else Seq("col", "bloom", "rows")
      raw.join(mapDf, raw("file") === mapDf("__ref"))
        .select(mapDf("__abs").as("file") +: cols.map(c => raw(c).as(c)): _*)
    }

  /** The stats index live at `version` — (file = full path, col, lo,
    * hi, rows, nulls, bytes) for exactly [[filesAt]]'s files, resolved
    * from the newest full sidecar at or below the version plus its
    * incremental tail. Metadata-only (sidecar parquet reads; zero data
    * files or footers touched). Time-travels: version N's stats keep
    * serving N after later commits. Refuses unless every live file is
    * covered on a uniform column set — [[backfillStats]] establishes
    * or repairs. */
  def statsAt(spark: SparkSession, dir: String, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    sidecarAt(spark, dir, "stats", v).getOrElse(
      throw new IllegalArgumentException(
        s"no stats sidecar at or below version $v of $dir: backfillStats() first"))
  }

  /** Build + write a bloom sidecar for `refs` (one scan of exactly
    * those files), keyed by manifest REF with the sizing parameters
    * stored per row so commits can inherit them. */
  private def writeBloomSidecar(spark: SparkSession, dir: String,
      dst: Path, refs: Seq[String], cols: Seq[String],
      expectedPerFile: Long, fpp: Double): Unit = {
    require(!refs.exists(refIsForeign),
      "bloom sidecars need a single basePath: OPTIMIZE the clone first " +
        "to localize its foreign file references")
    val built = BloomIndex.buildForFiles(spark, dir,
      refs.map(r => s"$dir/$r"), cols, expectedPerFile, fpp,
      pinned = metaAt(spark, dir, currentVersion(spark, dir)).pinned)
    val mapDf = refAbsMap(spark, dir, refs)
    built.join(mapDf,
        regexp_replace(built("file"), "^file:/+", "/") === mapDf("__abs"))
      .select(mapDf("__ref").as("file"), built("col").as("col"),
        built("bloom").as("bloom"), built("rows").as("rows"),
        lit(expectedPerFile).as("expected"), lit(fpp).as("fpp"))
      .coalesce(1).write.mode("overwrite").parquet(dst.toString)
  }

  /** Bootstrap (or re-establish) COMMIT-TIME BLOOM FILTERS — the
    * point-lookup twin of [[backfillStats]] (Delta writes bloom
    * filters at write time; Iceberg ships them as Puffin files): one
    * scan builds a per-file bloom over `cols` for every file live at
    * `version`, stored as that version's FULL bloom sidecar; every
    * later commit extends coverage for its own new files with the
    * same parameters, so [[prunedScan]] serves IN/point
    * lookups with NO index build or refresh step ever again. */
  def backfillBlooms(spark: SparkSession, dir: String, cols: Seq[String],
      expectedPerFile: Long = 100000L, fpp: Double = 0.01,
      version: Long = -1L): Long = {
    require(cols.nonEmpty, "backfillBlooms needs at least one column")
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — call init() first")
    val rens = metaAt(spark, dir, v).renames
    writeBloomSidecar(spark, dir, fullSidecarPath(dir, "bloom", v),
      filesAt(spark, dir, v), cols.map(c => rens.getOrElse(c, c)),
      expectedPerFile, fpp)
    v
  }

  /** The bloom index live at `version` — (file = full path, col,
    * bloom, rows), exactly [[filesAt]]'s files, resolved newest-full +
    * incremental tail. Time-travels; refuses on broken coverage. */
  def bloomsAt(spark: SparkSession, dir: String, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    sidecarAt(spark, dir, "bloom", v).getOrElse(
      throw new IllegalArgumentException(
        s"no bloom sidecar at or below version $v of $dir: backfillBlooms() first"))
  }

  /** Metadata-only MIN/MAX of a tracked column at a version, served
    * entirely from the commit-time stats sidecars — zero data rows AND
    * zero footers read (cf. [[fastRowCount]], which still opens
    * footers). EXACT, never approximate: parquet column statistics
    * are exact values from the file, so min(lo)/max(hi) over the
    * version's boxes IS the table extremum — and the two cases where
    * a box is NOT exact are detectable and REFUSED rather than
    * answered (a file with unusable stats carries the infinite box;
    * integral values past 2^53 were widened at build). Refuses under
    * pending MOR tombstones (a deleted row may hold the extremum) and
    * for untracked columns, naming the repair. */
  def fastMinMax(spark: SparkSession, dir: String, c: String,
      version: Long = -1L): (Double, Double) = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(deleteFilesAt(spark, dir, v).isEmpty,
      "fastMinMax under unmaterialized equality deletes could return a " +
        "deleted row's extremum: materializeDeletes() first or aggregate " +
        "the snapshot")
    // sidecars key by PHYSICAL column name (a file's stats are facts
    // about the file) — translate the logical query name
    val phys = metaAt(spark, dir, v).renames.getOrElse(c, c)
    val idx = statsAt(spark, dir, v).filter(col("col") === phys)
    val row = idx.agg(min("lo").as("lo"), max("hi").as("hi"),
      count(lit(1)).as("n")).collect()(0)
    require(row.getLong(2) > 0L,
      s"column $c is not tracked by $dir's stats: backfillStats() with it")
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    require(!lo.isInfinite && !hi.isInfinite,
      s"some file's parquet stats for $c are unusable (infinite box): " +
        "aggregate the snapshot instead")
    val exactLimit = 9007199254740992.0d // 2^53 — the sidecar widens past it
    require(math.abs(lo) < exactLimit && math.abs(hi) < exactLimit,
      s"$c's extrema exceed 2^53 where integral stats were widened: " +
        "aggregate the snapshot for an exact answer")
    (lo, hi)
  }

  /** Metadata-only NULL COUNT of a tracked column at a version —
    * served entirely from the commit-time stats sidecars (their
    * `nulls` column, written from parquet footer `num_nulls`). EXACT
    * or refused: files whose footers did not record the count (-1)
    * refuse with the repair named, as do pending MOR tombstones
    * (a deleted row may be one of the nulls) and untracked columns. */
  def fastNullCount(spark: SparkSession, dir: String, c: String,
      version: Long = -1L): Long = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(deleteFilesAt(spark, dir, v).isEmpty,
      "fastNullCount under unmaterialized equality deletes would " +
        "overcount: materializeDeletes() first or count the snapshot")
    val phys = metaAt(spark, dir, v).renames.getOrElse(c, c)
    val row = statsAt(spark, dir, v).filter(col("col") === phys)
      .agg(min("nulls").as("mn"), sum("nulls").as("s"),
        count(lit(1)).as("n")).collect()(0)
    require(row.getLong(2) > 0L,
      s"column $c is not tracked by $dir's stats: backfillStats() with it")
    require(row.getLong(0) >= 0L,
      s"some file's footer did not record num_nulls for $c: " +
        "backfillStats() re-establishes coverage, or count the snapshot")
    row.getLong(1)
  }

  // ---- metadata-only aggregate answering ---------------------------
  // `SELECT count(*) / min(k) / max(k) FROM t` — the top query of
  // every 100 TB dashboard — answered from the manifest + stats rail
  // ALONE: zero data files opened, zero footers read (Delta/Iceberg's
  // metadata-only query answering). The contract is EXACT-OR-BAIL:
  // every guard that could make the metadata answer diverge from a
  // full scan (pending equality deletes, deletion vectors under an
  // extremum query, untracked columns, partial sidecar coverage,
  // unusable footer boxes, post-2^53 widening) returns None and the
  // caller falls back to the ordinary scan — a metadata answer is
  // never approximate.

  /** One requested aggregate for [[metadataAggregate]]. */
  sealed trait MetaAgg
  /** `count(*)` — DV-aware (vector sidecars subtract; they are
    * metadata, not data). */
  case object MetaCount extends MetaAgg
  /** `count(col)` = rows − nulls, from footer null counts. */
  final case class MetaCountCol(col: String) extends MetaAgg
  /** `min(col)` over the stats boxes (exact: parquet min is a real
    * value of the file, and SQL `min` ignores nulls exactly like the
    * footer box does). */
  final case class MetaMin(col: String) extends MetaAgg
  /** `max(col)` — see [[MetaMin]]. */
  final case class MetaMax(col: String) extends MetaAgg

  /** Diagnostic counter: aggregates SERVED metadata-only (the SQL
    * pushdown and the library path both bump it) — the oracle leg
    * pins it against `sizeStatProbes`-style zero-scan expectations.
    * Thread-safe; readers take deltas of `sum()`. */
  val metadataAggServed = new java.util.concurrent.atomic.LongAdder

  /** Answers `aggs` at `version` from the manifest + stats sidecars,
    * or None when ANY guard fails — the caller must then aggregate
    * the snapshot (the SQL surface falls back automatically; see the
    * section note for the guard list). Values: counts as `Long`,
    * extrema as `Double` (exactness-guarded; the SQL layer casts back
    * to the column's type). Logical column names; the column mapping
    * translates.
    *
    * `partitionPred` scopes the answer to a PARTITION-ALIGNED `WHERE`
    * (Delta's metadata-only answering under partition predicates):
    * each `(col, allowed values)` entry is a conjunct, the values are
    * the PATH-BAKED spellings (`site=a` → "a"), and a file's path must
    * carry EVERY predicate column or the whole call bails — every row
    * of a surviving file satisfies the predicate BY CONSTRUCTION, so
    * the subset answer stays exact. The caller owns the filter→value
    * translation exactness (the SQL layer only forwards EqualTo/In on
    * partition columns whose literals round-trip through the path
    * spelling). */
  def metadataAggregate(spark: SparkSession, dir: String,
      aggs: Seq[MetaAgg], version: Long = -1L,
      partitionPred: Seq[(String, Set[String])] = Nil): Option[Seq[Any]] = {
    if (aggs.isEmpty) return None
    val v = if (version >= 0) version else currentVersion(spark, dir)
    if (v < 0) return None
    try {
      val (dvEs, eqEs) = deleteFilesAt(spark, dir, v).map(delParse)
        .partition(e => isDvRef(e._1))
      if (eqEs.nonEmpty) return None // MOR equality deletes: bail
      val needCol = aggs.exists { case MetaCount => false; case _ => true }
      // a DV-deleted row may hold an extremum or a null — only the
      // plain count can subtract vectors safely
      if (dvEs.nonEmpty && needCol) return None
      val liveAll = filesAt(spark, dir, v)
      val live =
        if (partitionPred.isEmpty) liveAll
        else {
          val parsed = liveAll.map { r =>
            r -> refRel(r).split('/').dropRight(1)
              .filter(_.contains('=')).map { seg =>
                val i = seg.indexOf('=')
                seg.substring(0, i) -> seg.substring(i + 1)
              }.toMap
          }
          // EXACTNESS: every live file must bake every predicate
          // column into its directory path — a file missing the key
          // (pre-spec layout drift) cannot be classified, so the
          // whole call bails to the ordinary scan
          if (partitionPred.exists { case (k, _) =>
              parsed.exists(!_._2.contains(k)) })
            return None
          parsed.collect { case (r, pv) if partitionPred.forall {
            case (k, vs) => vs.contains(pv(k)) } => r }
        }
      if (live.isEmpty) {
        // zero-file table: count(*) = 0 is exact; min/max are NULL —
        // served here so an empty table's dashboard stays zero-scan
        metadataAggServed.increment()
        return Some(aggs.map {
          case MetaCount => 0L
          case MetaCountCol(_) => 0L
          case _ => null
        })
      }
      val renames = metaAt(spark, dir, v).renames
      val cols = aggs.collect {
        case MetaCountCol(c) => c
        case MetaMin(c) => c
        case MetaMax(c) => c
      }.distinct.map(c => c -> renames.getOrElse(c, c)).toMap
      // ONE resolved stats read answers everything (resolution REFUSES
      // on partial coverage — the bail below catches it), restricted
      // to the partition-pruned subset. The sidecar is read on the
      // DRIVER when it fits the metadata budget — the dashboard
      // aggregate then runs ZERO Spark jobs end to end; oversized
      // sidecars keep the distributed frame (keyed by refAbsMap on
      // both sides — a hand-rolled spelling here would be the
      // path-mismatch bug class encodedLeafPath exists to prevent).
      val summary: (Long, Long, Map[String, (Double, Double, Long, Long, Long)]) =
        resolveSidecarRowsLocal(spark, dir, "stats", v) match {
          case Some(Left(())) => return None // no stats sidecar: scan
          case Some(Right(rowsAll)) =>
            val sub = live.toSet
            val rows =
              if (partitionPred.isEmpty) rowsAll
              else rowsAll.filter(m =>
                sub.contains(m("file").asInstanceOf[String]))
            val perFile = rows.groupBy(_("file"))
              .map(_._2.head("rows").asInstanceOf[Long])
            if (perFile.isEmpty || perFile.exists(_ < 0L)) return None
            val physWanted = cols.values.toSet
            val byColL = rows
              .filter(m => physWanted.contains(m("col").asInstanceOf[String]))
              .groupBy(_("col").asInstanceOf[String])
              .map { case (c, ms) =>
                c -> (ms.map(_("lo").asInstanceOf[Double]).min,
                  ms.map(_("hi").asInstanceOf[Double]).max,
                  ms.map(_("nulls").asInstanceOf[Long]).sum,
                  ms.map(_("nulls").asInstanceOf[Long]).min,
                  ms.size.toLong)
              }
            (perFile.min, perFile.sum, byColL)
          case None =>
            val statsAll = statsAt(spark, dir, v)
            val stats =
              if (partitionPred.isEmpty) statsAll
              else {
                val sub = refAbsMap(spark, dir, live).select(col("__abs"))
                statsAll.join(sub, statsAll("file") === sub("__abs"),
                  "left_semi")
              }
            val rowsTotal = stats.dropDuplicates("file")
              .agg(sum("rows").as("s"), min("rows").as("mn")).collect()(0)
            if (rowsTotal.isNullAt(0) || rowsTotal.getLong(1) < 0L)
              return None
            val byColD: Map[String, (Double, Double, Long, Long, Long)] =
              if (cols.isEmpty) Map.empty
              else stats.filter(col("col").isin(cols.values.toSeq: _*))
                .groupBy("col")
                .agg(min("lo").as("lo"), max("hi").as("hi"),
                  sum("nulls").as("nulls"), min("nulls").as("mnulls"),
                  count(lit(1)).as("n"))
                .collect().map(r => r.getString(0) ->
                  (r.getDouble(1), r.getDouble(2), r.getLong(3),
                    r.getLong(4), r.getLong(5))).toMap
            (rowsTotal.getLong(1), rowsTotal.getLong(0), byColD)
        }
      val base = summary._2
      val byCol = summary._3
      val dvDeleted = dvDeletedCount(spark, dir, live, dvEs.map(_._1))
      val exactLimit = 9007199254740992.0d // 2^53: the sidecar widened past it
      def box(c: String): Option[(Double, Double)] =
        byCol.get(cols(c)).flatMap { case (lo, hi, _, _, n) =>
          // n == live.size ⇔ every live file has a box for c (the
          // uniform-coverage require() already held; this pins the
          // specific column); infinite = some file's stats unusable
          if (n != live.size || lo.isInfinite || hi.isInfinite ||
              math.abs(lo) >= exactLimit || math.abs(hi) >= exactLimit) None
          else Some((lo, hi))
        }
      def nonNull(c: String): Option[Long] =
        byCol.get(cols(c)).flatMap { case (_, _, nulls, mnulls, n) =>
          if (n != live.size || mnulls < 0L) None else Some(base - nulls)
        }
      val out = aggs.map {
        case MetaCount => Some(base - dvDeleted)
        case MetaCountCol(c) => nonNull(c)
        case MetaMin(c) => box(c).map(_._1)
        case MetaMax(c) => box(c).map(_._2)
      }
      if (out.exists(_.isEmpty)) None
      else {
        metadataAggServed.increment()
        Some(out.map(_.get))
      }
    } catch { case _: IllegalArgumentException => None } // coverage bail
  }

  /** [[metadataAggregate]] GROUPED BY partition columns — `SELECT
    * part, count(*)/count(k)/min(k)/max(k) FROM t [WHERE
    * partition-aligned] GROUP BY part` answered from the manifest +
    * stats rail alone (the per-partition dashboard rollup at 100 TB:
    * files/day counts, per-site extrema). Every file's membership in
    * a group is read off its PATH (each group column must be
    * path-baked in every live file), so a group's rows are exactly
    * its files' rows and the ungrouped guards apply PER GROUP: box
    * coverage over the group's files, finite/2^53 extrema, non-
    * negative null counts. Returns `(group path values, agg values)`
    * per group — ONLY groups with at least one row (SQL GROUP BY
    * emits no empty groups); the CALLER owns casting the path
    * spellings back to column types (and must bail when a spelling
    * does not round-trip). Deletion vectors: a pure-count grouping
    * SUBTRACTS them per group (a DV entry names (file, ordinal), and
    * the file names its group — still metadata); anything needing a
    * VALUE (extrema, null counts) bails, as does any pending equality
    * tombstone. Other whole-call bails (None): a file missing a
    * group/predicate key, an escaped or null-partition spelling,
    * stats gaps — exact-or-bail, never a partial group list. */
  def metadataAggregateGrouped(spark: SparkSession, dir: String,
      groupCols: Seq[String], aggs: Seq[MetaAgg], version: Long = -1L,
      partitionPred: Seq[(String, Set[String])] = Nil)
    : Option[Seq[(Seq[String], Seq[Any])]] = {
    if (groupCols.isEmpty || aggs.isEmpty) return None
    val v = if (version >= 0) version else currentVersion(spark, dir)
    if (v < 0) return None
    try {
      val (dvEs, eqEs) = deleteFilesAt(spark, dir, v).map(delParse)
        .partition(e => isDvRef(e._1))
      if (eqEs.nonEmpty) return None // key lists need a scan
      val needCol = aggs.exists { case MetaCount => false; case _ => true }
      if (dvEs.nonEmpty && needCol) return None
      val liveAll = filesAt(spark, dir, v)
      if (liveAll.isEmpty) return { metadataAggServed.increment(); Some(Nil) }
      val parsed: Seq[(String, Map[String, String])] = liveAll.map { r =>
        r -> refRel(r).split('/').dropRight(1)
          .filter(_.contains('=')).map { seg =>
            val i = seg.indexOf('=')
            seg.substring(0, i) -> seg.substring(i + 1)
          }.toMap
      }
      val needKeys = groupCols ++ partitionPred.map(_._1)
      if (needKeys.exists(k => parsed.exists(!_._2.contains(k))))
        return None
      // group spellings must be unambiguous: no escaping, no null
      // partition (its spelling collides with the literal string)
      def plain(s: String): Boolean = s.nonEmpty &&
        s != "__HIVE_DEFAULT_PARTITION__" &&
        s.forall(c => c.isLetterOrDigit || c == '.' || c == '_' ||
          c == '-')
      if (parsed.exists { case (_, pv) =>
          groupCols.exists(k => !plain(pv(k))) })
        return None
      val live = parsed.collect { case (r, pv) if partitionPred.forall {
        case (k, vs) => vs.contains(pv(k)) } => (r, pv) }
      if (live.isEmpty) { metadataAggServed.increment(); return Some(Nil) }
      val renames = metaAt(spark, dir, v).renames
      val cols = aggs.collect {
        case MetaCountCol(c) => c
        case MetaMin(c) => c
        case MetaMax(c) => c
      }.distinct.map(c => c -> renames.getOrElse(c, c)).toMap
      // one joined frame: stats rows tagged with their file's group
      val sep = "\u0000"
      val grpOf: Map[String, String] = live.map { case (r, pv) =>
        SkipIndex.normalizePath(refPath(dir, r)) ->
          groupCols.map(pv).mkString(sep)
      }.toMap
      val grpFiles: Map[String, Long] =
        grpOf.groupBy(_._2).map { case (g, m) => g -> m.size.toLong }
      // driver-side when the sidecar fits the metadata budget — the
      // per-partition dashboard rollup then runs ZERO Spark jobs;
      // oversized sidecars keep the distributed frames below
      val localRows: Option[Seq[(String, Map[String, Any])]] =
        resolveSidecarRowsLocal(spark, dir, "stats", v) match {
          case Some(Left(())) => return None // no stats sidecar: scan
          case Some(Right(rowsAll)) =>
            val grpOfRef: Map[String, String] = live.map { case (r, pv) =>
              r -> groupCols.map(pv).mkString(sep) }.toMap
            Some(rowsAll.flatMap { m =>
              grpOfRef.get(m("file").asInstanceOf[String]).map(g => (g, m)) })
          case None => None
        }
      lazy val mapDf = spark.createDataFrame(grpOf.toSeq)
        .toDF("__abs", "__grp")
      lazy val stats = statsAt(spark, dir, v)
        .join(mapDf, col("file") === col("__abs"))
      val rowsG: Map[String, (Long, Long)] = localRows match {
        case Some(rows) =>
          rows.groupBy { case (g, m) => (g, m("file")) }
            .map { case ((g, _), ms) =>
              (g, ms.head._2("rows").asInstanceOf[Long]) }
            .groupBy(_._1).map { case (g, fs) =>
              g -> (fs.map(_._2).sum, fs.map(_._2).min) }
        case None => stats
          .dropDuplicates("file").groupBy("__grp")
          .agg(sum("rows").as("s"), min("rows").as("mn")).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      }
      if (grpFiles.keySet.exists(g => !rowsG.contains(g)) ||
          rowsG.values.exists(_._2 < 0L)) return None
      val dvByGrp: Map[String, Long] =
        if (dvEs.isEmpty) Map.empty
        else {
          // a DV entry names (file, ordinal) under the SAME
          // encodedLeafPath spelling dvDeletedCount joins on, and the
          // file's group is its path-baked partition value — so the
          // per-group subtraction is still pure metadata; entries for
          // rewritten/pruned-out files drop in the inner join
          // (driver-side when the vectors fit the metadata budget)
          val dvGrpOf: Map[String, String] = live.map { case (r, pv) =>
            encodedLeafPath(refPath(dir, r)) ->
              groupCols.map(pv).mkString(sep) }.toMap
          dvEntriesLocal(spark, dir, dvEs.map(_._1)) match {
            case Some(entries) =>
              entries.distinct
                .flatMap { case (f, _) => dvGrpOf.get(f) }
                .groupBy(identity).map { case (g, es) =>
                  g -> es.size.toLong }
            case None =>
              val dvMap = spark.createDataFrame(dvGrpOf.toSeq)
                .toDF("__dvfile", "__dvgrp")
              spark.read.schema(dvReadSchema)
                .parquet(dvEs.map(e => s"$dir/${e._1}"): _*)
                .dropDuplicates(DvFileCol, DvPosCol)
                .join(dvMap, col(DvFileCol) === col("__dvfile"))
                .groupBy("__dvgrp").count().collect()
                .map(r => r.getString(0) -> r.getLong(1)).toMap
          }
        }
      val byCol: Map[(String, String), (Double, Double, Long, Long, Long)] =
        if (cols.isEmpty) Map.empty
        else localRows match {
          case Some(rows) =>
            val physWanted = cols.values.toSet
            rows.filter { case (_, m) =>
                physWanted.contains(m("col").asInstanceOf[String]) }
              .groupBy { case (g, m) =>
                (g, m("col").asInstanceOf[String]) }
              .map { case (k, ms) =>
                k -> (ms.map(_._2("lo").asInstanceOf[Double]).min,
                  ms.map(_._2("hi").asInstanceOf[Double]).max,
                  ms.map(_._2("nulls").asInstanceOf[Long]).sum,
                  ms.map(_._2("nulls").asInstanceOf[Long]).min,
                  ms.size.toLong)
              }
          case None => stats.filter(col("col").isin(cols.values.toSeq: _*))
            .groupBy("__grp", "col")
            .agg(min("lo").as("lo"), max("hi").as("hi"),
              sum("nulls").as("nulls"), min("nulls").as("mnulls"),
              count(lit(1)).as("n"))
            .collect().map(r => (r.getString(0), r.getString(1)) ->
              (r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5),
                r.getLong(6))).toMap
        }
      val exactLimit = 9007199254740992.0d
      val out = grpFiles.keysIterator.flatMap { g =>
        val base = rowsG(g)._1 - dvByGrp.getOrElse(g, 0L)
        if (base == 0L) None // SQL GROUP BY emits no empty groups
        // (a fully-DV-deleted partition vanishes, like the scan)
        else {
          def box(c: String): Option[(Double, Double)] =
            byCol.get((g, cols(c))).flatMap {
              case (lo, hi, _, _, n) =>
                if (n != grpFiles(g) || lo.isInfinite || hi.isInfinite ||
                    math.abs(lo) >= exactLimit ||
                    math.abs(hi) >= exactLimit) None
                else Some((lo, hi))
            }
          def nonNull(c: String): Option[Long] =
            byCol.get((g, cols(c))).flatMap {
              case (_, _, nulls, mnulls, n) =>
                if (n != grpFiles(g) || mnulls < 0L) None
                else Some(base - nulls)
            }
          val vals = aggs.map {
            case MetaCount => Some(base)
            case MetaCountCol(c) => nonNull(c)
            case MetaMin(c) => box(c).map(_._1)
            case MetaMax(c) => box(c).map(_._2)
          }
          if (vals.exists(_.isEmpty)) return None // whole-call bail
          Some((g.split(sep, -1).toSeq, vals.map(_.get)))
        }
      }.toSeq
      metadataAggServed.increment()
      Some(out)
    } catch { case _: IllegalArgumentException => None } // coverage bail
  }

  // ---- the one pruned read ----------------------------------------
  // Every file-skipping read goes through ONE routing core
  // ([[prunedScanCandidates]]) and ONE reader on top of it
  // ([[prunedScan]]), whatever serves the per-file metadata: the
  // commit-time stats/bloom sidecars, or a caller-built SkipIndex /
  // BloomIndex frame (the only option on a plain parquet directory).
  // The planner hooks (the `graft` source's file index, SQL DELETE's
  // routing estimate) call the core and drop what it cannot serve;
  // library reads refuse on it.

  /** What a pruned read prunes against: the version (-1 for a plain
    * directory), its meta, its manifest refs and its live files as
    * abs-normalized paths (the directory listing on a plain dir). */
  private final case class PruneTarget(v: Long, meta: CommitMeta,
      refs: Seq[String], live: Seq[String])

  private def pruneTarget(spark: SparkSession, dir: String,
      source: Option[DataFrame], version: Long): PruneTarget = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    if (v >= 0) {
      val refs = filesAt(spark, dir, v)
      PruneTarget(v, metaAt(spark, dir, v), refs,
        refs.map(r => SkipIndex.normalizePath(refPath(dir, r))))
    } else {
      require(source.nonEmpty, s"no manifest in $dir: a plain directory " +
        "prunes through a caller-built SkipIndex or BloomIndex")
      PruneTarget(-1L, CommitMeta.empty, Nil,
        SkipIndex.dataFiles(spark, dir).toSeq.sorted)
    }
  }

  /** THE routing core: the live files at `version` that can hold rows
    * matching every predicate, answered from per-file metadata
    * without opening a data file.
    *
    * `source` is None for the commit-time sidecars ([[statsAt]],
    * [[bloomsAt]]; each resolved at most once per call, and only when
    * a predicate needs it) or a caller-built index frame, recognised
    * by its columns: a `bloom` column makes it a [[BloomIndex]],
    * otherwise it is a [[SkipIndex]]. Routing:
    *   - [[PruneRange]]   → the stats boxes
    *   - [[PruneIsNull]]  → stats null counts (zero-null files skip;
    *     unknown counts survive)
    *   - [[PruneNotNull]] → stats null counts (all-null files skip)
    *   - [[PruneIn]]      → the blooms; on sidecars with no bloom
    *     discipline at all it is left to the residual filter.
    * A predicate the source cannot serve — an untracked column, a
    * missing or broken sidecar, the wrong index kind — is returned
    * UNSERVED with the repair named, never pruned on (an untracked
    * column would match no file and silently empty the read).
    * Columns are LOGICAL and translate through the column mapping:
    * sidecars and footer-built indexes key by physical name. A `dir`
    * without a manifest is a plain parquet directory: its live set is
    * the listing, and `source` must be an index. */
  def prunedScanCandidates(spark: SparkSession, dir: String,
      preds: Seq[PrunePred], source: Option[DataFrame] = None,
      version: Long = -1L): PruneCandidates =
    routePreds(spark, dir, preds, source,
      pruneTarget(spark, dir, source, version))

  private def routePreds(spark: SparkSession, dir: String,
      preds: Seq[PrunePred], source: Option[DataFrame],
      t: PruneTarget): PruneCandidates = {
    def phys(c: String) = t.meta.renames.getOrElse(c, c)
    val bloomIdx = source.exists(_.columns.contains("bloom"))
    def why(e: IllegalArgumentException) =
      e.getMessage.stripPrefix("requirement failed: ")
    def sidecar(kind: String): Either[String, Option[DataFrame]] =
      try Right(sidecarAt(spark, dir, kind, t.v))
      catch { case e: IllegalArgumentException => Left(why(e)) }
    // Left = why the source cannot serve; Right(None) = no blooms at all
    lazy val blooms: Either[String, Option[DataFrame]] = source match {
      case None => sidecar("bloom")
      case Some(idx) if bloomIdx => Right(Some(idx))
      case Some(_) => Left("a skip index serves no IN predicate: probe " +
        "a BloomIndex")
    }
    // (file, lo, hi, rows, nulls) per predicated column, collected ONCE
    lazy val boxes: Either[String, Map[String, Seq[Row]]] = (source match {
      case None => sidecar("stats").flatMap(_.toRight(
        s"no stats sidecar at or below version ${t.v} of $dir: " +
          "backfillStats() first"))
      case Some(_) if bloomIdx => Left("a bloom index serves only IN " +
        "predicates: prune ranges and null tests with a SkipIndex")
      case Some(idx) => Right(idx)
    }).map { s =>
      val cols = preds.filterNot(_.isInstanceOf[PruneIn])
        .map(p => phys(p.column)).distinct
      val nulls = if (s.columns.contains("nulls")) col("nulls") else lit(-1L)
      s.filter(col("col").isin(cols: _*))
        .select(col("col"), col("file"), col("lo"), col("hi"),
          col("rows"), coalesce(nulls, lit(-1L)))
        .collect().toSeq.groupBy(_.getString(0))
    }
    val untracked =
      if (source.isEmpty) s"$dir's stats: backfillStats() with it"
      else "this skip index: rebuild it with the column"
    // Spark's double ordering: NaN sorts last, -0.0 equals 0.0
    def cmp(a: Double, b: Double) =
      if (a == b) 0 else java.lang.Double.compare(a, b)
    def keeps(p: PrunePred, r: Row): Boolean = p match {
      // a null box (an all-null column in a scan-built index) holds
      // no value in any range
      case PruneRange(_, lo, hi) => !r.isNullAt(2) && !r.isNullAt(3) &&
        cmp(r.getDouble(3), lo) >= 0 && cmp(r.getDouble(2), hi) <= 0
      case _: PruneIsNull => r.getLong(5) != 0L
      case _: PruneNotNull => r.getLong(5) < r.getLong(4) || r.getLong(5) < 0L
      case _: PruneIn => true // routed to the blooms, never here
    }
    val answers: Seq[(PrunePred, Either[String, Option[Set[String]]])] =
      preds.map { p => p -> (p match {
        case PruneIn(c, values) => blooms.flatMap {
          case None => Right(None)
          case Some(b) =>
            try Right(Some(BloomIndex.candidateFilesIn(spark, b, phys(c),
                values.map(lit(_))).map(SkipIndex.normalizePath).toSet))
            catch { case e: IllegalArgumentException => Left(why(e)) }
        }
        case _ => boxes.flatMap(_.get(phys(p.column)) match {
          case None => Left(s"column ${p.column} is not tracked by $untracked")
          case Some(rows) => Right(Some(rows.filter(keeps(p, _))
            .map(r => SkipIndex.normalizePath(r.getString(1))).toSet))
        })
      })}
    val served = answers.collect { case (p, Right(Some(s))) => (p, s) }
    PruneCandidates(
      t.live.filter(f => served.forall(_._2.contains(f))).sorted,
      served.map(_._1),
      answers.collect { case (p, Left(why)) => (p, why) })
  }

  /** THE pruned read: opens only the files [[prunedScanCandidates]]
    * keeps and re-applies every predicate as the exact residual filter
    * ([[SkipIndex.residualFor]] — pruning only SKIPS files; a false
    * survivor costs a file open, never a wrong row). Refuses when any
    * predicate is unserved (naming the repair), when a versioned
    * table still holds foreign clone refs (one basePath), and when a
    * caller-built index does not describe the live set — a stale
    * index would silently lose the rows of files it never saw.
    * Validation is against the MANIFEST on a versioned table (the
    * directory still holds superseded files), so version N read with
    * N's index time-travels; there the survivors read under the
    * pinned schema, pending MOR tombstones and deletion vectors apply
    * on top, and the result reads under logical names. */
  def prunedScan(spark: SparkSession, dir: String, preds: Seq[PrunePred],
      source: Option[DataFrame] = None, version: Long = -1L): DataFrame = {
    require(preds.nonEmpty, "prunedScan needs at least one predicate")
    val t = pruneTarget(spark, dir, source, version)
    require(!t.refs.exists(refIsForeign),
      "pruned reads need a single basePath: OPTIMIZE the clone first " +
        "to localize its foreign file references")
    source.foreach { idx =>
      val kind = if (idx.columns.contains("bloom")) "bloom" else "skip"
      val indexed = idx.select("file").distinct().collect()
        .map(r => SkipIndex.normalizePath(r.getString(0))).toSet
      val live = t.live.toSet
      require(SkipIndex.describes(spark, indexed, live),
        s"stale $kind index for $dir: it does not describe the live file " +
          s"set (${(live -- indexed).size} unindexed, " +
          s"${(indexed -- live).size} extra): build or refresh it against " +
          (if (t.v >= 0) s"version ${t.v}'s manifest" else "the directory"))
    }
    val c = routePreds(spark, dir, preds, source, t)
    require(c.unserved.isEmpty, c.unserved.map(_._2).distinct.mkString("; "))
    // pinned schema (type widening): the survivor set can mix widths
    val rd = t.meta.pinned.fold(spark.read)(s0 => spark.read.schema(s0))
      .option("basePath", dir)
    val base =
      if (c.files.isEmpty) rd.parquet(t.live: _*).filter(lit(false))
      else {
        val df = rd.parquet(c.files: _*)
        df.filter(SkipIndex.residualFor(df, preds,
          c0 => t.meta.renames.getOrElse(c0, c0)))
      }
    if (t.v < 0) base
    else applyColumnMapping(t.meta, applyTombstones(spark, dir, t.v, base))
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE src`):
    * `dstDir` becomes an independent versioned table whose v0 manifest
    * holds FOREIGN references (`@root\trel`) to `srcDir`'s data files
    * at `version` — ZERO data bytes copied, one manifest write. From
    * then on the two tables evolve independently: a merge into the
    * clone rewrites only its touched partitions (localizing exactly
    * those partitions' foreign refs, copy-on-write), the source never
    * observes anything, and the clone time-travels within its own
    * history. `OPTIMIZE` on the clone localizes all remaining foreign
    * refs (compaction doubles as clone materialization). The standard
    * shallow-clone caveat applies and is the protocol's only coupling:
    * [[vacuum]]ing the SOURCE can reap files the clone still
    * references (the source cannot know its clones — Delta documents
    * the same), which the clone's reads then surface as missing files.
    *
    * Refuses when the source version has pending MOR tombstones
    * (`#del` files are root-relative and their interplay rules are a
    * table-local concern): [[materializeDeletes]] on the source first.
    * The source root must be absolute — the refs must stay valid from
    * any working directory. Returns the clone's version (always 0). */
  def cloneAt(spark: SparkSession, srcDir: String, dstDir: String,
      version: Long = -1L,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = if (version >= 0) version else currentVersion(spark, srcDir)
    require(v >= 0, s"no manifest in $srcDir — call init() first")
    require(new Path(srcDir).isAbsolute,
      s"cloneAt needs an absolute source root, got $srcDir")
    require(deleteFilesAt(spark, srcDir, v).isEmpty,
      s"cannot clone $srcDir at version $v: pending equality-delete " +
        "tombstones are table-local — materializeDeletes() first")
    require(currentVersion(spark, dstDir) < 0,
      s"$dstDir is already a versioned table")
    val refs = filesAt(spark, srcDir, v).map { r =>
      if (refIsForeign(r)) r // clone of a clone: keep the original root
      else s"@$srcDir\t$r"
    }
    cacheDrop(dstDir)
    // The clone INHERITS the source's table properties at `version` —
    // Delta's clone copies the table metadata wholesale, and here it is
    // load-bearing, not cosmetic: the source's data files carry PHYSICAL
    // column names, so a clone without the `#ren`/`#dropcol` mapping
    // would expose field-id spellings (`value__r7`) and resurrect
    // dropped columns; without `#chk` a governed table's clone would
    // accept rows the source refuses; without `#cdf` the clone's first
    // mutating commit would punch a silent hole in its change feed; and
    // without the `#txn` high-water map an exactly-once writer cut over
    // to the clone would replay its delivered batches as duplicates.
    // Per-commit state (`#del` refused above, `#cdfinc`, `#op`) does
    // not carry — the clone starts its own history.
    val srcMeta = metaAt(spark, srcDir, v)
    // sizes the SOURCE manifests record travel with the clone (keyed
    // under the clone's foreign-ref spelling) — no FS calls, and the
    // clone's DESCRIBE DETAIL stays metadata-only; unrecorded source
    // files just fall back lazily on the clone like anywhere else
    val srcSizes = fileSizesKnown(spark, srcDir, v).map { case (r, b) =>
      (if (refIsForeign(r)) r else s"@$srcDir\t$r") -> b }
    // copy-based carry (the rail registry): every table property —
    // including declared clustering and any rail added tomorrow —
    // travels to the clone by construction; only per-commit state and
    // the history-bound stamps (clusterAt indexes the SOURCE's
    // versions) are reset. This construction site forgot `defaults`
    // and `idents` once each when it was an explicit field list. The
    // schema anchor re-spells as a FOREIGN ref (it lives under the
    // source, exactly like the data files — and shares their
    // dangling-on-drop caveat).
    val cloneMeta = CommitMeta.cloneAll(srcMeta, commitTs, "clone")
    writeCommit(fsOf(spark, dstDir), dstDir, 0L, refs, Nil,
      cloneMeta.copy(anchorRef = cloneMeta.anchorRef.map(r =>
        if (refIsForeign(r)) r else s"@$srcDir\t$r")), srcSizes)
    0L
  }

  /** MERGE-ON-READ equality delete (Iceberg's equality-delete files /
    * Hudi's MOR tombstones, on the manifest protocol): rows matching
    * `pred` are deleted by COMMITTING THEIR KEYS, not by rewriting
    * their partitions — write cost is O(matching keys), zero data
    * files touched, commit is the same atomic manifest rename, old
    * versions still read pre-delete (time travel). The keys land as a
    * parquet of `keyCols` under `_deletes/` and ride the manifest as
    * `#del` lines; [[snapshot]] applies them as one anti-join.
    *
    * This is THE 100 TB deletion path (a GDPR user erasure touches a
    * key list, not a petabyte of partitions); the read-side anti-join
    * costs until [[materializeDeletes]] compacts — the classic MOR
    * trade. Every tombstone on one table must use the SAME `keyCols`
    * (enforced). With the change feed enabled, the commit publishes
    * the FULL deleted rows as its `_action='delete'` increment, so CDC
    * replicas converge across MOR deletes too. Returns the committed
    * version (unchanged when nothing matches). */
  def deleteWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column, keyCols: Seq[String],
      commitTs: Long = System.currentTimeMillis()): Long = {
    require(keyCols.nonEmpty, "deleteWhere needs at least one key column")
    val v = init(spark, dir, commitTs)
    val meta0 = metaAt(spark, dir, v)
    val carried = deleteFilesAt(spark, dir, v)
    val carriedEq = carried.filterNot(e => isDvRef(delParse(e)._1))
    if (carriedEq.nonEmpty) {
      // tombstone files are physical; keyCols are logical (deletion
      // vectors are keyless (file, pos) sidecars — exempt).
      // schema-only probe: the footer answers it driver-side
      val priorPath = s"$dir/${delParse(carriedEq.head)._1}"
      val prior = parquetSchemaLocal(spark, priorPath)
        .map(_.fieldNames.toSeq)
        .getOrElse(spark.read.parquet(priorPath).columns.toSeq)
      val keyPhys = keyCols.map(k => meta0.renames.getOrElse(k, k))
      require(prior.sorted == keyPhys.sorted,
        s"tombstone key mismatch: table already has equality deletes on " +
          s"(${prior.mkString(", ")}), got (${keyCols.mkString(", ")})")
    }
    // keys resolve against the MOR snapshot: already-deleted rows
    // can't be re-tombstoned, and the pred sees what a reader sees
    val deletedRows = snapshotAll(spark, dir, v).filter(pred)
    val keys = deletedRows.select(keyCols.map(col): _*).distinct()
    // UNIQUE staging path per attempt (never overwrite): a racing
    // writer that loses the manifest CAS must not have first deleted
    // the winner's already-committed tombstone files — same
    // never-colliding append discipline as the data-file path.
    // One file per tombstone commit: erasure-style key lists are small
    // by use-case (the read side anti-joins them, usually broadcast).
    // A delete wide enough to make this file large is a rewrite-class
    // operation — use the COW mergeInto with __delete instead.
    // Staged FIRST so its footer row count answers the "did anything
    // match" question on the driver — no separate `keys.isEmpty` job
    // (guide §2.4; the append/merge staged-write discipline).
    val tomb = stage(spark, dir, toPhysical(meta0, keys).coalesce(1),
      sidecar = Some(f"_deletes/v${v + 1}%06d_"))
    if (tomb.empty) return v // nothing matched: no commit
    // change feed: crash-atomic increment published by the CAS
    val autoInc = metaAt(spark, dir, v).cdf.map { _ =>
      writeChangeInc(spark, dir,
        deletedRows.withColumn("_action", lit("delete")))
    }
    val live = filesAt(spark, dir, v)
    writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
      carryMeta(spark, dir, v, commitTs, None, carried ++ tomb.files, "delete")
        .copy(cdfInc = autoInc))
    v + 1
  }

  /** Shared COW scaffolding of [[updateWhere]] / [[deleteWhereCow]]:
    * the affected-partition scope (driver cost bounded by the batch's
    * distinct partitions, never the table), the rendered-directory
    * match the write produces, and the partition-scoped commit. */
  private def cowScope(snap: DataFrame, hit: org.apache.spark.sql.Column,
      partitionKeys: Seq[String])
      : Option[(org.apache.spark.sql.Column, String => Boolean)] = {
    if (partitionKeys.isEmpty) {
      // UNPARTITIONED table: the only "partition" is the table root, so
      // one matching row scopes the FULL-TABLE rewrite — every live file
      // is replaced (the honest COW cost when no layout can prune; the
      // job below is the same bounded-driver class as the collect the
      // partitioned branch runs)
      return if (snap.filter(hit).isEmpty) None
             else Some((lit(true), (_: String) => true))
    }
    val touchedRows = snap.filter(hit)
      .select(partitionKeys.map(col): _*).distinct().collect().toSeq
    if (touchedRows.isEmpty) return None
    val touchedPred = touchedRows.map { r =>
      partitionKeys.zipWithIndex.map { case (k, i) =>
        col(k) <=> lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
    val touchedDirs = touchedRows.map { r =>
      partitionKeys.zipWithIndex.map { case (k, i) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(k,
            Option(r.get(i)).map(String.valueOf).orNull)
      }.mkString("/")
    }.toSet
    Some((touchedPred,
      (ref: String) => touchedDirs.exists(d => refRel(ref).startsWith(d + "/"))))
  }

  /** Cluster a batch for its partition layout before the staged write.
    * With keys this is the usual shuffle-to-layout; with NO keys
    * (unpartitioned table) the batch passes through UNCHANGED —
    * `repartition()` on zero expressions is NOT a no-op, it hashes
    * every row to one partition (measured: 3-row df → 1 partition),
    * i.e. a single-task single-file write, which for a full-table COW
    * rewrite of an unpartitioned table would serialize the whole
    * table through one core. */
  private def clusterByKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) df else df.repartition(keys.map(col): _*)

  // ---- write-side file sizing (Delta's optimizeWrite) ---------------
  // With `spark.graft.write.optimizeWrite=true`, append/overwrite/merge
  // output is REPARTITIONED TO THE BYTE TARGET before the staged write
  // (`spark.graft.optimize.targetFileSize`, the same knob OPTIMIZE
  // honors): an unpartitioned firehose batch stops landing one file
  // per shuffle partition, and a skewed partition key splits into
  // ~ceil(bytes/target) slices instead of one oversized file. The
  // bytes-per-row calibration comes from the table's OWN stats rail
  // (sum bytes / sum rows over covered live files — zero data IO); an
  // uncalibrated table (no stats yet) writes unshaped, and the rail
  // the first commits establish calibrates every later one. Off by
  // default: fixtures and specs that deliberately fan files out keep
  // their layout.
  private[lake] def diskBytesPerRow(spark: SparkSession,
      dir: String): Option[Double] =
    try {
      if (currentVersion(spark, dir) < 0) return None
      val r = statsAt(spark, dir).dropDuplicates("file")
        .filter(col("bytes") >= 0L && col("rows") > 0L)
        .agg(sum("bytes").as("b"), sum("rows").as("r")).collect()(0)
      if (r.isNullAt(0) || r.getLong(1) <= 0L) None
      else Some(math.max(1.0, r.getLong(0).toDouble / r.getLong(1)))
    } catch { case _: IllegalArgumentException => None }

  private def writeTargetBytes(spark: SparkSession): Option[Long] = {
    if (!spark.conf.get("spark.graft.write.optimizeWrite", "false")
        .toBoolean) return None
    val raw = spark.conf.get("spark.graft.optimize.targetFileSize", "1g")
    val b = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    if (b <= 0L) None else Some(b)
  }

  /** [[clusterByKeys]] with the optimizeWrite shaping applied when the
    * conf asks for it and the stats rail can calibrate; `(shaped df,
    * per-file row cap)` — the cap rides `maxRecordsPerFile` so one
    * straggler task still splits at the target (with 20% slack: the
    * cap exists to split GROSSLY oversized tasks, and round-robin /
    * salt imbalance of a few rows must not shave off a sliver file). */
  private def shapeForWrite(spark: SparkSession, dir: String,
      batch: DataFrame, keys: Seq[String]): (DataFrame, Option[Long]) = {
    val target = writeTargetBytes(spark)
    val bpr = target.flatMap(_ => diskBytesPerRow(spark, dir))
    (target, bpr) match {
      case (Some(t), Some(b)) =>
        val rowsPerFile = math.max(1L, (t / b).toLong)
        val rowCap = rowsPerFile + math.max(1L, rowsPerFile / 5)
        if (keys.isEmpty) {
          val n = batch.count()
          val slices = math.max(1, math.min(4096L,
            (n + rowsPerFile - 1) / rowsPerFile)).toInt
          (batch.repartition(slices), Some(rowCap))
        } else {
          // per-key slice counts (driver-bounded by partition-key
          // cardinality, the dynamic-partition-overwrite class); the
          // salt spreads an oversized key across ceil(bytes/target)
          // writers, deterministically (hash of the full row)
          val counts = batch.groupBy(keys.map(col): _*).count().collect()
          val slicesRows = counts.map { r =>
            val k = keys.indices.map(r.get)
            val slices = math.max(1L, math.min(4096L,
              (r.getLong(keys.length) + rowsPerFile - 1) / rowsPerFile))
            org.apache.spark.sql.Row.fromSeq(k :+ slices)
          }
          val total = slicesRows.map(_.getLong(keys.length)).sum
          if (total <= counts.length) {
            // nothing oversized: one slice per key — plain key
            // clustering already gives exactly that layout
            (clusterByKeys(batch, keys), Some(rowCap))
          } else {
            val keyFields = keys.map(k =>
              org.apache.spark.sql.types.StructField(k,
                batch.schema(k).dataType))
            val slicesDf = spark.createDataFrame(
              spark.sparkContext.parallelize(slicesRows.toSeq, 1),
              org.apache.spark.sql.types.StructType(keyFields :+
                org.apache.spark.sql.types.StructField("__ow_slices",
                  org.apache.spark.sql.types.LongType)))
            val salted = batch
              .join(broadcast(slicesDf), keys, "left")
              .withColumn("__ow_salt",
                pmod(hash(batch.columns.map(col): _*),
                  coalesce(col("__ow_slices"), lit(1L))))
              .drop("__ow_slices")
            val shaped = salted.repartition(
                math.min(4096L, math.max(total,
                  spark.sessionState.conf.numShufflePartitions.toLong))
                  .toInt,
                (keys :+ "__ow_salt").map(col): _*)
              .drop("__ow_salt")
            (shaped, Some(rowCap))
          }
        }
      case _ => (clusterByKeys(batch, keys), None)
    }
  }

  /** Post-commit AUTO-COMPACT (Delta's autoCompact, best-effort): with
    * `spark.graft.write.autoCompact=true`, an append that leaves at
    * least `spark.graft.write.autoCompact.minFiles` (default 8) live
    * files under HALF the byte target triggers a synchronous binpack
    * OPTIMIZE scoped to exactly those small files — the cross-batch
    * half of the small-files treadmill (optimizeWrite shapes within a
    * batch; a trickle of one-file commits still needs folding). Sizes
    * come from the manifest rail (zero FS probes); files the rail
    * cannot size are left alone. Best-effort: a concurrent commit or
    * IO error must never fail the append that already committed. */
  private def maybeAutoCompact(spark: SparkSession, dir: String,
      partitionKeys: Seq[String]): Unit = {
    // EVERYTHING inside the guard, conf parsing included: a malformed
    // minFiles/targetFileSize string must not fail an append that
    // already committed (the caller would retry and double-commit)
    try {
      if (!spark.conf.get("spark.graft.write.autoCompact", "false")
          .toBoolean) return
      val raw = spark.conf.get("spark.graft.optimize.targetFileSize", "1g")
      val target = org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(raw)
      if (target <= 0L) return
      val minFiles = spark.conf
        .get("spark.graft.write.autoCompact.minFiles", "8").toInt
      val sizes = fileSizesKnown(spark, dir)
      val small = filesAt(spark, dir)
        .filter(f => sizes.get(f).exists(_ < target / 2))
      if (small.size >= minFiles)
        optimize(spark, dir, partitionKeys,
          targetFileSizeBytes = Some(target),
          onlyFiles = Some(small.toSet))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"auto-compact of $dir skipped: ${e.getMessage}")
    }
  }

  /** SQL `UPDATE ... SET ... WHERE ...` as ONE copy-on-write commit:
    * only partitions physically holding a matching row are rewritten
    * from the MOR snapshot (the same scope class as a merge — a
    * predicate on the partition keys prunes the rewrite to those
    * partitions at planning time). Rides the full commit discipline:
    * CHECK constraints validate the post-image, GENERATED columns are
    * re-validated (an assignment that changes a generated column's
    * input is refused — that mutation is a [[mergeInto]]), the
    * table-property change feed gets `update_preimage`/`update_postimage`
    * rows published by the manifest CAS, and commit-time stats/bloom
    * sidecars extend to the new files. Partition columns cannot be
    * assigned (rows would MOVE across partitions — a merge). Pending
    * scoped tombstones carry (they exempt this commit's fresh files);
    * pending UNSCOPED tombstones refuse assignments on their key
    * columns (a new value could collide with a tombstoned key and
    * vanish on read — materializeDeletes first). Returns the committed
    * version, or the current one when no row matches (no-op). */
  def updateWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      partitionKeys: Seq[String],
      commitTs: Long = System.currentTimeMillis()): Long = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    require(!assignments.contains(RowIdCol),
      s"$RowIdCol is the engine-owned row-tracking id — not assignable")
    val v = init(spark, dir, commitTs)
    val meta0 = metaAt(spark, dir, v)
    checkPartitionSpec(meta0, partitionKeys, "updateWhere")
    val snap = snapshotAll(spark, dir, v)
    val cols = snap.columns.toSeq
    val unknown = assignments.keySet -- cols.toSet
    require(unknown.isEmpty,
      s"updateWhere assigns unknown column(s): ${unknown.mkString(", ")}")
    require(assignments.keySet.intersect(partitionKeys.toSet).isEmpty,
      "updateWhere cannot assign a partition column (rows would move " +
        "across partitions — express that as a mergeInto)")
    require(assignments.keySet.intersect(meta0.idents.keySet).isEmpty,
      "updateWhere cannot assign an IDENTITY column: the engine owns " +
        "its values and a rewritten id would collide with later " +
        "assignments (dropIdentity() first if the column must change)")
    val dels = deleteFilesAt(spark, dir, v)
    val globalDelCols: Set[String] = {
      val es = dels.map(delParse)
        .filter(e => e._2.isEmpty && !isDvRef(e._1))
      if (es.isEmpty) Set.empty
      else {
        // schema-only probe: the footer answers it driver-side (all
        // global tombstones share the table's key discipline)
        val paths = es.map(e => s"$dir/${e._1}")
        val tomb = parquetSchemaLocal(spark, paths.head) match {
          case Some(s) => spark.read.schema(s).parquet(paths: _*)
          case None => spark.read.parquet(paths: _*)
        }
        applyColumnMapping(meta0, tomb).columns.toSet
      }
    }
    require(assignments.keySet.intersect(globalDelCols).isEmpty,
      "updateWhere cannot assign a column that pending UNSCOPED equality " +
        "deletes key on (an updated value could collide with a tombstoned " +
        "key and vanish on read) — materializeDeletes() first")
    val hit = coalesce(pred, lit(false))
    cowScope(snap, hit, partitionKeys) match {
      case None => v // no row matched: no-op, no commit
      case Some((touchedPred, underTouched)) =>
        def imaged(d: DataFrame, only: org.apache.spark.sql.Column) =
          d.select(cols.map { c =>
            assignments.get(c)
              .map(a => when(only, a).otherwise(col(c)).as(c))
              .getOrElse(col(c))
          }: _*)
        // post-image of the touched partitions, one pass; generated
        // columns KEEP their stored values and applyGenerated's
        // validation branch re-checks them — an assignment that broke
        // a generated invariant fails loudly here, before any write
        val merged = applyGenerated(spark, meta0,
          imaged(snap.filter(touchedPred), hit), "update post-image")
        enforceConstraints(spark, dir, v, merged, "update post-image")
        val autoInc = meta0.cdf.map { _ =>
          val affected = snap.filter(hit)
          writeChangeInc(spark, dir,
            affected.withColumn("_action", lit("update_preimage"))
              .unionByName(imaged(affected, lit(true))
                .withColumn("_action", lit("update_postimage"))))
        }
        val live = filesAt(spark, dir, v)
        val staged = stage(spark, dir,
          clusterByKeys(toPhysical(meta0, merged), partitionKeys),
          partitionKeys)
        writeCommit(fsOf(spark, dir), dir, v + 1,
          live.filterNot(underTouched) ++ staged.files, live,
          carryMeta(spark, dir, v, commitTs, None, dels, "update")
            .copy(cdfInc = autoInc), staged.sizes)
        maybeWriteIncStats(spark, dir, v, staged.files, Nil)
        v + 1
    }
  }

  /** SQL `UPDATE ... SET ... WHERE ...` as MERGE-ON-READ — the
    * deletion-vector twin of [[updateWhere]] (Delta's DV-based
    * update): ONE commit hides the matched rows behind a positional
    * deletion vector AND appends their POST-IMAGES as fresh files —
    * O(matched rows) written, ZERO partitions rewritten. This is the
    * 100 TB shape for a WIDE low-selectivity update (a backfill
    * touching a sliver of every partition): COW would rewrite every
    * touched partition; this writes exactly the changed rows plus a
    * metadata-sized sidecar.
    *
    * The appended post-images can never be hit by the vector (a DV
    * names (file, ordinal) of EXISTING files — fresh files are exempt
    * by construction, no scoping machinery needed), and every
    * discipline of the two rails it composes rides unchanged:
    * constraints validate the post-image, generated columns
    * re-validate, the change feed gets `update_preimage`/
    * `update_postimage` rows published by the CAS, stats/bloom
    * sidecars extend to the new files, and [[materializeDeletes]] /
    * OPTIMIZE fold the vector away later. Same refusal matrix as
    * [[updateWhere]] (unknown columns, partition-column assignments,
    * columns pending unscoped equality deletes key on). Returns the
    * committed version, or the current one on a no-match no-op. */
  def updateWhereVectors(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      partitionKeys: Seq[String],
      commitTs: Long = System.currentTimeMillis()): Long = {
    require(assignments.nonEmpty,
      "updateWhereVectors needs at least one assignment")
    val v = init(spark, dir, commitTs)
    val meta0 = metaAt(spark, dir, v)
    require(!assignments.contains(RowIdCol),
      s"$RowIdCol is the engine-owned row-tracking id — not assignable")
    checkPartitionSpec(meta0, partitionKeys, "updateWhereVectors")
    val live = filesAt(spark, dir, v)
    if (live.isEmpty) return v
    // snapshotAll: the hidden row-tracking id must survive into the
    // DV update's post-images (a DV update keeps ids STABLE — the
    // post-image row is the pre-image with assignments applied)
    val cols = snapshotAll(spark, dir, v).columns.toSeq
    val unknown = assignments.keySet -- cols.toSet
    require(unknown.isEmpty,
      s"updateWhereVectors assigns unknown column(s): ${unknown.mkString(", ")}")
    require(assignments.keySet.intersect(partitionKeys.toSet).isEmpty,
      "updateWhereVectors cannot assign a partition column (rows would " +
        "move across partitions — express that as a mergeInto)")
    require(assignments.keySet.intersect(meta0.idents.keySet).isEmpty,
      "updateWhereVectors cannot assign an IDENTITY column: the engine " +
        "owns its values and a rewritten id would collide with later " +
        "assignments (dropIdentity() first if the column must change)")
    val carried = deleteFilesAt(spark, dir, v)
    val globalDelCols: Set[String] = {
      val es = carried.map(delParse)
        .filter(e => e._2.isEmpty && !isDvRef(e._1))
      if (es.isEmpty) Set.empty
      else {
        // schema-only probe: the footer answers it driver-side (all
        // global tombstones share the table's key discipline)
        val paths = es.map(e => s"$dir/${e._1}")
        val tomb = parquetSchemaLocal(spark, paths.head) match {
          case Some(s) => spark.read.schema(s).parquet(paths: _*)
          case None => spark.read.parquet(paths: _*)
        }
        applyColumnMapping(meta0, tomb).columns.toSet
      }
    }
    require(assignments.keySet.intersect(globalDelCols).isEmpty,
      "updateWhereVectors cannot assign a column that pending UNSCOPED " +
        "equality deletes key on (an updated value could collide with a " +
        "tombstoned key and vanish on read) — materializeDeletes() first")
    // row identity for the vector: source file + ordinal, attached at
    // the scan (the deleteWhereVectors discipline)
    val fileCol = "__graft_dv_src"
    val raw = readRefs(spark, dir, live, withPos = true,
        pinned = meta0.pinned)
      .withColumn(fileCol, encodedLeafPathCol(input_file_name()))
    val visible = tombstoneFilter(spark, dir, v, raw, keep = true)
    val logical = applyAddedColumns(meta0, applyColumnMapping(meta0, visible))
    val hits = logical.filter(coalesce(pred, lit(false))).persist()
    try {
      // the vector names exactly the matched rows — staged FIRST so
      // its footer row count answers "did anything match" on the
      // driver instead of a separate `hits.isEmpty` job (guide §2.4);
      // the write also materializes the persist() the post-image pass
      // rides
      val dv = stage(spark, dir, hits.select(col(fileCol).as(DvFileCol),
          col(DvSrcPos).cast("long").as(DvPosCol)),
        sidecar = Some(f"_deletes/dv_v${v + 1}%06d_"))
      if (dv.empty) return v // no row matched: no-op, no commit
      // the post-images, appended as ordinary fresh files; generated
      // columns keep stored values and re-validate (an assignment that
      // broke a generated invariant fails loudly before any commit)
      val pre = hits.drop(DvSrcPos).drop(fileCol)
      val post0 = pre.select(cols.map { c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))
      }: _*)
      val post = applyGenerated(spark, meta0, post0, "update post-image")
      enforceConstraints(spark, dir, v, post, "update post-image")
      val (physPost, pinOut) = conformToPinned(meta0,
        toPhysical(meta0, post), partitionKeys, "update post-image")
      val staged = stage(spark, dir,
        clusterByKeys(physPost, partitionKeys), partitionKeys)
      val autoInc = meta0.cdf.map { _ =>
        writeChangeInc(spark, dir,
          pre.withColumn("_action", lit("update_preimage"))
            .unionByName(post.withColumn("_action",
              lit("update_postimage"))))
      }
      writeCommit(fsOf(spark, dir), dir, v + 1, live ++ staged.files, live,
        carryMeta(spark, dir, v, commitTs, None, carried ++ dv.files,
            "update")
          .copy(cdfInc = autoInc,
            pinnedSchema = pinOut.orElse(meta0.pinnedSchema)), staged.sizes)
      maybeWriteIncStats(spark, dir, v, staged.files, Nil)
      v + 1
    } finally hits.unpersist()
  }

  /** SQL `DELETE FROM ... WHERE ...` as ONE copy-on-write commit —
    * the rewrite-class sibling of the equality-tombstone
    * [[deleteWhere]]: partitions holding a matching row are rewritten
    * from the MOR snapshot WITHOUT the matching rows (a fully-emptied
    * partition simply writes no files), everything else is untouched
    * metadata. No row key needed — this is the arbitrary-predicate
    * delete a SQL `DELETE` expresses. The table-property change feed
    * gets `delete` rows; pending tombstones carry (their hits were
    * already invisible in the snapshot this rewrites from). Returns
    * the committed version, or the current one on a no-match no-op. */
  def deleteWhereCow(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column, partitionKeys: Seq[String],
      commitTs: Long = System.currentTimeMillis(),
      anchorRef: Option[String] = None): Long = {
    val v = init(spark, dir, commitTs)
    val meta0 = metaAt(spark, dir, v)
    checkPartitionSpec(meta0, partitionKeys, "deleteWhereCow")
    val snap = snapshotAll(spark, dir, v)
    val hit = coalesce(pred, lit(false))
    cowScope(snap, hit, partitionKeys) match {
      case None => v // nothing matched: no-op, no commit
      case Some((touchedPred, underTouched)) =>
        val merged = snap.filter(touchedPred).filter(!hit)
        val autoInc = meta0.cdf.map { _ =>
          writeChangeInc(spark, dir,
            snap.filter(hit).withColumn("_action", lit("delete")))
        }
        val live = filesAt(spark, dir, v)
        val dels = deleteFilesAt(spark, dir, v)
        val staged = stage(spark, dir,
          clusterByKeys(toPhysical(meta0, merged), partitionKeys),
          partitionKeys)
        val cm = carryMeta(spark, dir, v, commitTs, None, dels, "delete")
        writeCommit(fsOf(spark, dir), dir, v + 1,
          live.filterNot(underTouched) ++ staged.files, live,
          cm.copy(cdfInc = autoInc,
            // a TRUNCATE hands the zero-file definition's anchor in
            anchorRef = anchorRef.orElse(cm.anchorRef)), staged.sizes)
        maybeWriteIncStats(spark, dir, v, staged.files, Nil)
        v + 1
    }
  }

  /** SQL `DELETE ... WHERE ...` as POSITIONAL DELETION VECTORS
    * (protocol level 5 — Delta/Iceberg's DV design on this manifest):
    * ONE commit records a (file, row-ordinal) parquet sidecar naming
    * exactly the rows the predicate matched — O(matched rows) written,
    * ZERO partitions rewritten, no row key needed. This is the
    * arbitrary-predicate MOR delete: a wide low-selectivity sweep
    * (GDPR by predicate, TTL expiry) on a 100 TB table that COW would
    * answer by rewriting every touched partition costs one scan plus
    * one small sidecar here.
    *
    * Reads apply the vector as one (file, ordinal) anti-join on top of
    * the scan — the positional twin of the equality-tombstone
    * anti-join, sharing its machinery: the DV rides the `#del` rail
    * (under `_deletes/dv_*`), so carry-forward, vacuum age/reference
    * gating, clone and fastRowCount refusals, and
    * [[materializeDeletes]]/OPTIMIZE folding all come from the
    * existing tombstone discipline. Ordinals come from parquet's
    * `_metadata.row_index` — stable for immutable files by
    * construction; any rewrite of a referenced file (COW update,
    * OPTIMIZE) reads the DV-filtered view first, so a stale vector
    * line can only ever match nothing.
    *
    * The predicate evaluates on the LOGICAL MOR view (mapping applied,
    * added columns null-filled, rows already deleted by tombstones or
    * earlier vectors excluded), so the change feed publishes exactly
    * the rows a reader saw disappear. Returns the committed version,
    * or the current one on a no-match no-op. */
  def deleteWhereVectors(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = init(spark, dir, commitTs)
    val meta0 = metaAt(spark, dir, v)
    val live = filesAt(spark, dir, v)
    if (live.isEmpty) return v // empty table: nothing to delete
    // the source-file column attaches BEFORE any join so it projects
    // at the scan (input_file_name is task-local; after a shuffle it
    // would read empty) — the same discipline tombstoneFilter uses
    val fileCol = "__graft_dv_src"
    val raw = readRefs(spark, dir, live, withPos = true,
      pinned = meta0.pinned)
      .withColumn(fileCol, encodedLeafPathCol(input_file_name()))
    val visible = tombstoneFilter(spark, dir, v, raw, keep = true)
    val logical = applyAddedColumns(meta0, applyColumnMapping(meta0, visible))
    val hits = logical.filter(coalesce(pred, lit(false))).persist()
    try {
      // staged FIRST: the DV's footer row count answers "did anything
      // match" on the driver — no separate `hits.isEmpty` job (guide
      // §2.4), and the write materializes the persist() the feed legs
      // ride
      val dv = stage(spark, dir, hits.select(col(fileCol).as(DvFileCol),
          col(DvSrcPos).cast("long").as(DvPosCol)),
        sidecar = Some(f"_deletes/dv_v${v + 1}%06d_"))
      if (dv.empty) return v // no row matched: no-op, no commit
      val deletedRows = hits.drop(DvSrcPos).drop(fileCol)
      // change feed: crash-atomic increment published by the CAS
      val autoInc = meta0.cdf.map { _ =>
        writeChangeInc(spark, dir,
          deletedRows.withColumn("_action", lit("delete")))
      }
      val carried = deleteFilesAt(spark, dir, v)
      writeCommit(fsOf(spark, dir), dir, v + 1, live, live,
        carryMeta(spark, dir, v, commitTs, None,
          carried ++ dv.files, "delete")
          .copy(cdfInc = autoInc))
      v + 1
    } finally hits.unpersist()
  }

  /** Compact MERGE-ON-READ tombstones into the data (Hudi's
    * compaction): ONLY partitions physically holding tombstoned rows
    * are rewritten from the MOR snapshot; the new manifest drops the
    * `#del` lines. Work is bounded by the affected partitions — the
    * same COW scope as a merge — and old versions still time-travel
    * to the tombstoned (and pre-delete) states. Nothing REQUIRES it
    * any more: [[mergeInto]] materializes conflicting tombstones
    * scoped to its own commit, a ZORDER [[optimize]] compacts them as
    * part of its re-cluster, and the pruned read paths apply them on
    * top of the pruned scan. Run this explicitly to reclaim the MOR
    * read-side anti-join without other maintenance (only
    * [[fastRowCount]] still refuses while tombstones pend — a
    * metadata-only count cannot know their row effect). */
  def materializeDeletes(spark: SparkSession, dir: String,
      partitionKeys: Seq[String],
      commitTs: Long = System.currentTimeMillis()): Long = {
    val v = init(spark, dir, commitTs)
    checkPartitionSpec(metaAt(spark, dir, v), partitionKeys,
      "materializeDeletes")
    val dels = deleteFilesAt(spark, dir, v)
    if (dels.isEmpty) return v
    val fs = fsOf(spark, dir)
    val live = filesAt(spark, dir, v)
    if (live.isEmpty) { // e.g. TRUNCATE carried the lines: hit nothing
      writeCommit(fs, dir, v + 1, live, live,
        carryMeta(spark, dir, v, commitTs, None, Nil, "materialize"))
      return v + 1
    }
    // affected partitions = those whose RAW files still hold a
    // tombstone-HIT row (scope-aware: a scoped tombstone never hits
    // rows in files added after its bound, so an upserted partition
    // whose only matching rows are the fresh ones is NOT affected);
    // bounded driver collect: distinct partition values of the hits
    val raw = readRefs(spark, dir, live, withPos = hasDvAt(spark, dir, v),
      pinned = metaAt(spark, dir, v).pinned)
    val hits = tombstoneFilter(spark, dir, v, raw, keep = false)
    // the affected scope, in the same two shapes as [[cowScope]]: with
    // keys it is the hit rows' distinct partitions; UNPARTITIONED, any
    // hit scopes the full-table rewrite (no layout can prune)
    val scope: Option[(org.apache.spark.sql.Column, String => Boolean)] =
      if (partitionKeys.isEmpty) {
        if (hits.isEmpty) None else Some((lit(true), (_: String) => true))
      } else {
        val affectedRows = hits
          .select(partitionKeys.map(col): _*).distinct().collect()
        if (affectedRows.isEmpty) None
        else {
          val affectedDirs = affectedRows.map { r =>
            partitionKeys.zipWithIndex.map { case (k, i) =>
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .getPartitionPathString(k,
                  Option(r.get(i)).map(String.valueOf).orNull)
            }.mkString("/")
          }.toSet
          val affectedPred = affectedRows.map { r =>
            partitionKeys.zipWithIndex.map { case (k, i) =>
              col(k) <=> lit(r.get(i))
            }.reduce(_ && _)
          }.reduce(_ || _)
          Some((affectedPred,
            (ref: String) =>
              affectedDirs.exists(d => refRel(ref).startsWith(d + "/"))))
        }
      }
    val (affectedPred, underAffected) = scope match {
      case None => // tombstones matched nothing on disk
        writeCommit(fs, dir, v + 1, live, live,
          carryMeta(spark, dir, v, commitTs, None, Nil, "materialize"))
        return v + 1
      case Some(s) => s
    }
    val clean = snapshotAll(spark, dir, v).filter(affectedPred)
    val staged = stage(spark, dir,
      clusterByKeys(toPhysical(metaAt(spark, dir, v), clean), partitionKeys),
      partitionKeys)
    writeCommit(fs, dir, v + 1, live.filterNot(underAffected) ++ staged.files,
      live, carryMeta(spark, dir, v, commitTs, None, Nil, "materialize"),
      staged.sizes)
    maybeWriteIncStats(spark, dir, v, staged.files, Nil)
    v + 1
  }

  /** Row-level MERGE-ON-READ upsert (Iceberg's equality-delete write
    * path / Delta's deletion-vector goal, on this manifest protocol):
    * the same LOGICAL semantics as [[mergeInto]] — upsert by `rowKey`,
    * delete where `__delete` — committed as (a) ONE SCOPED equality
    * tombstone holding the batch's keys and (b) the batch's surviving
    * rows as ordinary appended files. ZERO existing partitions are
    * rewritten: write cost tracks the BATCH, never the touched
    * partitions' bytes — a 100-row update scattered across 1,000
    * partitions writes one key file plus 100 rows where COW rewrites
    * 1,000 partitions. The read side pays one scope-aware anti-join
    * until [[materializeDeletes]] or OPTIMIZE folds the tombstones
    * away — the classic MOR trade, applied to the update path (the
    * erasure path has had it since [[deleteWhere]]).
    *
    * The tombstone is SCOPED to this commit (`#del path @v+1`,
    * protocol level 4): it hides matching rows ONLY in files added
    * before the commit, so the batch's own inserts — added AT the
    * commit — survive their own key's tombstone. Keys that match no
    * existing row tombstone nothing (the anti-join never finds them);
    * no base scan runs unless the change feed needs pre-images.
    *
    * Lost manifest CAS → full re-resolve and re-write (up to
    * `maxAttempts`): the work is O(batch), so the simple
    * always-correct retry is also the cheap one here; abandoned
    * tombstone/data files are unreferenced and vacuum-reaped.
    *
    * With the change feed enabled, the commit publishes the resolved
    * increment (update pre/post images, inserts, deleted rows) —
    * resolving pre-images is the one place this path scans the base
    * (key-pruned column scan, feed-enabled tables only).
    * @param txn exactly-once replay marker, as [[mergeInto]].
    * Returns the committed (or already-committed) version. */
  def mergeIntoMor(spark: SparkSession, dir: String, updates: DataFrame,
      partitionKeys: Seq[String], rowKey: Seq[String],
      txn: Option[(String, Long)] = None,
      commitTs: Long = System.currentTimeMillis(),
      statsCols: Seq[String] = Nil,
      maxAttempts: Int = 3): Long = {
    require(maxAttempts >= 1, "need maxAttempts >= 1")
    var attempt = 1
    while (true) {
      try return mergeIntoMorOnce(spark, dir, updates, partitionKeys,
        rowKey, txn, commitTs, statsCols)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("concurrent commit") &&
              attempt < maxAttempts =>
          attempt += 1 // full re-resolve against the winner's version
      }
    }
    -1L // unreachable
  }

  private def mergeIntoMorOnce(spark: SparkSession, dir: String,
      updates: DataFrame, partitionKeys: Seq[String], rowKey: Seq[String],
      txn: Option[(String, Long)],
      commitTs: Long, statsCols: Seq[String]): Long = {
    require(rowKey.nonEmpty, "mergeIntoMor needs at least one rowKey column")
    val v = init(spark, dir, commitTs)
    txn match {
      case Some((id, batchId)) if lastTxn(spark, dir, id) >= batchId =>
        return currentVersion(spark, dir)
      case _ =>
    }
    val live = filesAt(spark, dir, v)
    val fs = fsOf(spark, dir)
    val meta0 = metaAt(spark, dir, v)
    checkPartitionSpec(meta0, partitionKeys, "mergeIntoMor")
    val hasDelete = updates.columns.contains("__delete")
    val del = if (hasDelete) coalesce(col("__delete"), lit(false)) else lit(false)
    val batch0 = updates.persist()
    try {
      val (batch, advIdents) = applyIdentity(spark, meta0,
        applyGenerated(spark, meta0,
          applyDefaults(meta0, batch0), "merge batch"), "merge batch",
        forMerge = true)
      // batch emptiness is read off the tombstone staging write below
      // instead of a separate `batch.isEmpty` job (guide §2.4 — the
      // append path's staged-write discipline; the tombstone is the
      // batch's distinct keys, so zero tombstone rows ⇔ empty batch)
      enforceConstraints(spark, dir, v, batch.filter(!del), "merge batch")
      // one tombstone key discipline per table: every pending KEYED
      // delete (scoped or global) must share this merge's key columns,
      // or the read-side anti-joins would mix key shapes. Deletion
      // vectors are keyless (file, pos) sidecars — exempt.
      val rawDels = meta0.dels
      val rawEqDels = rawDels.filterNot(e => isDvRef(delParse(e)._1))
      if (rawEqDels.nonEmpty) {
        // schema-only probe: the footer answers it driver-side
        val priorPath = s"$dir/${delParse(rawEqDels.head)._1}"
        val prior = parquetSchemaLocal(spark, priorPath)
          .map(_.fieldNames.toSeq)
          .getOrElse(spark.read.parquet(priorPath).columns.toSeq)
        val keyPhys = rowKey.map(k => meta0.renames.getOrElse(k, k))
        require(prior.sorted == keyPhys.sorted,
          s"tombstone key mismatch: $dir already has equality deletes on " +
            s"(${prior.mkString(", ")}), but this merge keys on " +
            s"(${rowKey.mkString(", ")}) — materializeDeletes() first")
      }
      val inserts = batch.filter(!del).drop("__delete")
      val keys = batch.select(rowKey.map(col): _*).distinct()
      // the scoped tombstone: ONE small file of the batch's keys —
      // staged FIRST so its footer row count answers the batch
      // emptiness question on the driver (an empty batch stages a
      // schema-only file, is refused, and leaves nothing behind)
      val tomb = stage(spark, dir, toPhysical(meta0, keys).coalesce(1),
        sidecar = Some(f"_deletes/v${v + 1}%06d_"))
      require(!tomb.empty, "mergeIntoMor got an empty batch")
      // resolved CDF actions — the one base scan, feed-enabled only
      def resolveActions(): DataFrame = {
        val snap = snapshotAll(spark, dir, v)
        val snapKeys = snap.select(rowKey.map(col): _*).distinct()
        val updKeys = batch.filter(!del)
          .select(rowKey.map(col): _*).distinct()
        val delKeys = batch.filter(del)
          .select(rowKey.map(col): _*).distinct()
        def jn(l: DataFrame, r: DataFrame, how: String) =
          l.join(r, rowKey.map(k => l(k) <=> r(k)).reduce(_ && _), how)
        jn(snap, updKeys, "left_semi")
          .withColumn("_action", lit("update_preimage"))
          .unionByName(jn(inserts, snapKeys, "left_semi")
            .withColumn("_action", lit("update_postimage")),
            allowMissingColumns = true)
          .unionByName(jn(inserts, snapKeys, "left_anti")
            .withColumn("_action", lit("insert")),
            allowMissingColumns = true)
          .unionByName(jn(snap, delKeys, "left_semi")
            .withColumn("_action", lit("delete")),
            allowMissingColumns = true)
      }
      val autoInc = meta0.cdf.map { key =>
        if (key == Seq(RowIdCol))
          // keyless (row-tracked) feed: the MOR merge rewrites every
          // matched row as a fresh-id append — same delete+insert
          // algebra as the COW path (see its note)
          writeChangeInc(spark, dir, resolveActions().withColumn("_action",
            when(col("_action") === "update_postimage", lit("insert"))
              .when(col("_action") === "update_preimage", lit("delete"))
              .otherwise(col("_action"))))
        else {
          require(key.sorted == rowKey.sorted,
            s"table-managed change feed of $dir is keyed (${key.mkString(", ")}) " +
              s"but this merge resolves on (${rowKey.mkString(", ")}) — keys must agree")
          writeChangeInc(spark, dir, resolveActions())
        }
      }
      // the batch's surviving rows: ordinary appended files (exempt
      // from the tombstone above by their add-version). Emptiness of
      // the insert leg is read off ITS staged write too (an
      // all-deletes batch stages nothing, or one schema-only file
      // dropped here) — no `inserts.isEmpty` job (guide §2.4)
      val autoRen = autoRenames(meta0, inserts.columns.toSeq, v + 1)
      val writeMeta = meta0.copy(renames = meta0.renames ++ autoRen)
      val (physInserts, pinOut) = conformToPinned(writeMeta,
        toPhysical(writeMeta, inserts), partitionKeys, "merge-mor batch")
      val (shapedIns, rowCapIns) =
        shapeForWrite(spark, dir, physInserts, partitionKeys)
      val ins = stage(spark, dir, shapedIns, partitionKeys, rowCapIns)
      val newFiles = if (!ins.empty) ins.files else { ins.discard(fs, dir); Nil }
      val scoped = tomb.files.map(p => s"$p @${v + 1}")
      beforeCommitHook()
      val cm = carryMeta(spark, dir, v, commitTs, txn,
        rawDels ++ scoped, "merge-mor")
      writeCommit(fs, dir, v + 1, live ++ newFiles, live,
        cm.copy(cdfInc = autoInc, renames = cm.renames ++ autoRen,
          pinnedSchema = pinOut.orElse(cm.pinnedSchema),
          idents = advIdents), ins.sizes)
      maybeWriteIncStats(spark, dir, v, newFiles, statsCols)
      v + 1
    } finally batch0.unpersist()
  }

  /** Row-level MERGE INTO with snapshot isolation, copy-on-write —
    * the Delta/Hudi-style mutation the reference's `--update` flag
    * gestures at but only does at whole-group granularity
    * (merge-data.py:69-77 skip-existing). Per batch row, matched on
    * `rowKey`: `__delete` false/absent/NULL replaces the base row or
    * inserts it, `__delete` true drops it (a NULL marker upserts, never
    * silently deletes). Resolution is [[graft.ops.MergeData.resolveMerge]]:
    * only the batch's touched partitions are read or rewritten (a
    * static, null-safe partition predicate), a batch may ADD columns
    * (older rows null-fill) but never drop one, and `rowKey` must
    * locate a row within its partition.
    * New data files land as APPENDED parquet parts in the touched
    * partition directories (Spark's task-UUID part names never
    * collide); until the manifest rename they are invisible, after it
    * they are the partition. Old files stay for time travel until
    * [[vacuum]].
    *
    * Merging over PENDING merge-on-read tombstones works: the batch
    * resolves against the MOR snapshot, tombstones whose keys the
    * batch re-writes are materialized away (their physical partitions
    * join the rewrite scope) and dropped from the carried set, and
    * non-conflicting tombstones stay merge-on-read — see the inline
    * interplay comment. Requires the tombstone key columns to be a
    * subset of `rowKey` (refused loudly otherwise).
    *
    * With the change feed enabled, the commit publishes the batch's
    * resolved Delta-CDF increment (actions resolve against the
    * immutable pre-merge snapshot) crash-atomically with the manifest
    * CAS, so a losing concurrent writer leaves no visible feed trace;
    * snapshot isolation and CDC ride ONE write path.
    * @param txn optional (txnId, batchId) idempotence marker (Delta's
    *   `txn` action): if `batchId <=` [[lastTxn]] for `txnId`, the
    *   batch already committed — return the current version WITHOUT
    *   committing again. A replaying streaming sink therefore advances
    *   the version exactly once per batch.
    * Returns the committed (or already-committed) version. */
  def mergeInto(spark: SparkSession, dir: String, updates: DataFrame,
      partitionKeys: Seq[String], rowKey: Seq[String],
      txn: Option[(String, Long)] = None,
      commitTs: Long = System.currentTimeMillis(),
      statsCols: Seq[String] = Nil): Long = {
    require(rowKey.nonEmpty, "mergeInto needs at least one rowKey column")
    val v = init(spark, dir, commitTs)
    txn match {
      case Some((id, batchId)) if lastTxn(spark, dir, id) >= batchId =>
        return currentVersion(spark, dir) // replayed batch: already committed
      case _ =>
    }
    val live = filesAt(spark, dir, v)
    val fs = fsOf(spark, dir)
    val dels = deleteFilesAt(spark, dir, v)
    val meta0 = metaAt(spark, dir, v)
    checkPartitionSpec(meta0, partitionKeys, "mergeInto")

    val hasDelete = updates.columns.contains("__delete")
    val del = if (hasDelete) coalesce(col("__delete"), lit(false)) else lit(false)
    val batch0 = updates.persist()
    try {
      // generated columns: compute absent ones, validate present ones;
      // identity columns must arrive SUPPLIED (BY DEFAULT) in a merge
      val (batch, advIdents) = applyIdentity(spark, meta0,
        applyGenerated(spark, meta0,
          applyDefaults(meta0, batch0), "merge batch"), "merge batch",
        forMerge = true)
      // CHECK constraints validate the batch's UPSERT rows (a delete
      // removes rows — nothing to check) before any data write
      enforceConstraints(spark, dir, v, batch.filter(!del), "merge batch")
      // ---- pending-tombstone interplay (Iceberg's sequence-number
      // problem, solved by SCOPED materialization in this same commit):
      // a tombstone whose key this batch re-writes would either
      // re-delete the fresh row (if carried) or resurrect its stale
      // physical rows (if dropped) — so the partitions physically
      // holding those CONFLICTING keys join the rewrite scope, their
      // stale rows are materialized away, and exactly the conflicting
      // tombstone keys are dropped from the carried set. Non-conflicting
      // tombstones stay merge-on-read: the common CDC case (no overlap
      // between erasures and the day's upserts) pays ONE broadcast-size
      // semi-join of tombstones against the batch and nothing else; the
      // conflict case pays a lake-wide key probe — the same cost class
      // as the materializeDeletes it replaces, but scoped to the
      // conflicting partitions and folded into the merge's own commit.
      val (extraRows, nextDels) =
        if (dels.isEmpty) (Seq.empty[org.apache.spark.sql.Row], Nil)
        else {
          // tombstone files carry PHYSICAL names — lift to the logical
          // view for every comparison against the (logical) batch, and
          // write the surviving subset back physically. Processing is
          // PER SCOPE BOUND: a scoped tombstone's surviving keys must
          // re-commit UNDER THE SAME BOUND (rewriting them unscoped
          // would hide the post-bound rows its own upsert inserted).
          // deletion vectors pass through untouched: they name rows
          // of EXISTING files by ordinal — the upsert's fresh rows
          // live in new files, and a replaced old row is hidden by
          // this commit's own key tombstone anyway
          val (dvPass, keyedDels) = dels.partition(
            e => isDvRef(delParse(e)._1))
          val delGroups = keyedDels.map(delParse)
            .groupBy(_._2).toSeq.sortBy(_._1.getOrElse(-1L))
          var conflicts = List.empty[DataFrame]
          var confKeyCols: Seq[String] = Nil
          val keptDels = scala.collection.mutable.ArrayBuffer.empty[String]
          keptDels ++= dvPass
          delGroups.foreach { case (bound, es) =>
            val tomb = applyColumnMapping(meta0,
              spark.read.parquet(es.map(e => s"$dir/${e._1}"): _*))
            val keyCols = tomb.columns.toSeq
            require(keyCols.toSet.subsetOf(rowKey.toSet),
              s"pending equality deletes on (${keyCols.mkString(", ")}) are not a " +
                s"subset of the merge rowKey (${rowKey.mkString(", ")}): run " +
                "materializeDeletes() first")
            val batchKeys = batch.select(keyCols.map(col): _*).distinct()
            def nsCond(l: DataFrame, r: DataFrame) =
              keyCols.map(k => l(k) <=> r(k)).reduce(_ && _)
            val conflict = tomb.join(batchKeys, nsCond(tomb, batchKeys), "left_semi")
            if (conflict.isEmpty)
              keptDels ++= es.map(e => e._2.fold(e._1)(b => s"${e._1} @$b"))
            else {
              conflicts ::= conflict
              confKeyCols = keyCols
              // the surviving keys re-stage; an empty remainder stages
              // nothing (its footer says so — no `isEmpty` probe job)
              val remaining = tomb.join(batchKeys,
                nsCond(tomb, batchKeys), "left_anti").distinct()
              stage(spark, dir, toPhysical(meta0, remaining).coalesce(1),
                  sidecar = Some(f"_deletes/v${v + 1}%06d_"))
                .files.foreach(f => keptDels += bound.fold(f)(b => s"$f @$b"))
            }
          }
          val conflictRows =
            if (conflicts.isEmpty) Seq.empty[org.apache.spark.sql.Row]
            else {
              // partitions whose raw files hold a conflicting key join
              // the rewrite scope (conservative for scoped groups: an
              // exempt-only match forces a layout-only rewrite, never
              // a wrong row)
              val raw = applyColumnMapping(meta0,
                readRefs(spark, dir, live, pinned = meta0.pinned))
              val allConf = conflicts.reduce(_ unionByName _).distinct()
              raw.join(allConf, confKeyCols
                  .map(k => raw(k) <=> allConf(k)).reduce(_ && _), "left_semi")
                .select(partitionKeys.map(col): _*).distinct().collect().toSeq
            }
          (conflictRows, keptDels.toSeq)
        }

      // base = the SNAPSHOT's touched-partition rows (partition-pruned:
      // the resolve core's filter on partition columns prunes at
      // planning time); the MOR snapshot already excludes tombstoned
      // rows, so the rewrite materializes them away for free
      val res = graft.ops.MergeData.resolveMerge(
        snapshotAll(spark, dir, v), batch, partitionKeys, rowKey, del)
      // dedup against the batch scope by RENDERED DIRECTORY (the same
      // normalization the write produces) — row-value equality would be
      // type-brittle across a collected batch vs a path-inferred scan
      def dirOf(r: org.apache.spark.sql.Row): String =
        partitionKeys.zipWithIndex.map { case (k, i) =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(k, Option(r.get(i)).map(String.valueOf).orNull)
        }.mkString("/")
      val touchedSet = res.touchedDirs.toSet
      val extra = extraRows.filterNot(r => touchedSet.contains(dirOf(r)))
      val extraDirs = extra.map(dirOf).toSet
      val allDirs = res.touchedDirs.toSet ++ extraDirs
      // matching runs on the ROOT-RELATIVE path, so a clone's foreign
      // refs localize (drop) exactly when their partition is rewritten
      def underTouched(ref: String) =
        // "" is the UNPARTITIONED table's root "partition" (the
        // resolve core's convention): it claims every live ref
        allDirs.exists(d => d.isEmpty || refRel(ref).startsWith(d + "/"))
      // conflict partitions OUTSIDE the batch's scope are rewritten
      // MOR-clean from the snapshot (layout-only: no logical change,
      // hence no feed rows for them)
      val toWrite =
        if (extra.isEmpty) res.merged
        else {
          val extraPred = extra.map { r =>
            partitionKeys.zipWithIndex.map { case (k, i) =>
              col(k) <=> lit(r.get(i))
            }.reduce(_ && _)
          }.reduce(_ || _)
          res.merged.unionByName(
            snapshotAll(spark, dir, v).filter(extraPred),
            allowMissingColumns = true)
        }

      // change feed: the increment is written invisibly now and
      // published BY the manifest CAS below (`#cdfinc`) — crash-atomic,
      // nothing to promote or discard
      val autoInc = meta0.cdf.map { key =>
        val acts = graft.ops.MergeData.resolveFeedActions(res, batch,
          rowKey, del)
        if (key == Seq(RowIdCol))
          // keyless (row-tracked) feed: a COW merge REASSIGNS row ids
          // on matched rows (whole-row replacement), so update pairs
          // cannot share an id — emit the id-honest delete+insert
          // algebra instead (a replica keyed by the id converges:
          // delete the old id's row, insert the new id's row)
          writeChangeInc(spark, dir, acts.withColumn("_action",
            when(col("_action") === "update_postimage", lit("insert"))
              .when(col("_action") === "update_preimage", lit("delete"))
              .otherwise(col("_action"))))
        else {
          require(key.sorted == rowKey.sorted,
            s"table-managed change feed of $dir is keyed (${key.mkString(", ")}) " +
              s"but this merge resolves on (${rowKey.mkString(", ")}) — keys must agree")
          writeChangeInc(spark, dir, acts)
        }
      }

      // write new files through the writer-private staging dir — the
      // identification is exact under concurrent writers on the same
      // partitions (see [[stage]]). The batch is logical;
      // files are written PHYSICAL (re-added dropped names get a fresh
      // physical, committed in this manifest's renames)
      val autoRen = autoRenames(meta0, toWrite.columns.toSeq, v + 1)
      val writeMeta = meta0.copy(renames = meta0.renames ++ autoRen)
      val (physWrite, pinOut) = conformToPinned(writeMeta,
        toPhysical(writeMeta, toWrite), partitionKeys, "merge batch")
      val (shapedMg, rowCapMg) =
        shapeForWrite(spark, dir, physWrite, partitionKeys)
      val staged = stage(spark, dir, shapedMg, partitionKeys, rowCapMg)
      val newFiles = staged.files

      // COMMIT, with a COMMIT-ONLY retry when a concurrent writer wins
      // the CAS on DISJOINT partitions (append's discipline, extended
      // to merges): this writer's rewrite of ITS partitions is still
      // exactly right against the winner's snapshot — the winner
      // touched none of them and changed no table rule — so only the
      // metadata op re-runs, never the data job. N concurrent CDC
      // writers on disjoint partition sets serialize at one manifest
      // write each. Any overlap, rule change (constraint/feed/mapping/
      // spec/generated), tombstone movement, or auto-rename collision
      // bails to the full re-resolve ([[mergeIntoRetry]]).
      var curV = v
      var curLive = live
      var committed = -1L
      var replayWon = false
      var attempt = 1
      while (committed < 0 && !replayWon) {
        beforeCommitHook()
        try {
          val cm = carryMeta(spark, dir, curV, commitTs, txn, nextDels,
            "merge")
          writeCommit(fs, dir, curV + 1,
            curLive.filterNot(underTouched) ++ newFiles, curLive,
            cm.copy(cdfInc = autoInc, renames = cm.renames ++ autoRen,
              pinnedSchema = pinOut.orElse(cm.pinnedSchema),
              idents = advIdents), staged.sizes)
          committed = curV + 1
        } catch {
          case e: IllegalArgumentException
              if e.getMessage != null &&
                e.getMessage.contains("concurrent commit") &&
                attempt < 5 =>
            attempt += 1
            val newV = currentVersion(spark, dir)
            if (txn.exists { case (id, batchId) =>
                lastTxn(spark, dir, id) >= batchId }) replayWon = true
            else {
              val newMeta = metaAt(spark, dir, newV)
              val newLive = filesAt(spark, dir, newV)
              val changed = (newLive.toSet -- curLive.toSet) ++
                (curLive.toSet -- newLive.toSet)
              val disjoint = changed.forall(f => !underTouched(f))
              // the semantics-bearing rails come from the registry
              // (so a new rail is guarded by default — this list
              // once omitted `defaults`); merge is additionally
              // strict on chks/pkeys/dels because its staged result
              // was RESOLVED against snapshot v, not just written
              val sameRules = !CommitMeta.railsMoved(newMeta, meta0) &&
                newMeta.chks == meta0.chks &&
                newMeta.pkeys == meta0.pkeys &&
                autoRen.keySet.intersect(newMeta.renames.keySet).isEmpty &&
                deleteFilesAt(spark, dir, newV) == dels
              if (!(disjoint && sameRules)) throw e
              curV = newV
              curLive = newLive
            }
        }
      }
      if (replayWon) currentVersion(spark, dir)
      else {
        // commit-time stats: one footer pass over THIS commit's files
        // (explicit statsCols, or inherited once the lake tracks stats)
        maybeWriteIncStats(spark, dir, committed - 1, newFiles, statsCols)
        committed
      }
    } finally batch0.unpersist()
  }

  /** Test seam: runs after the merge's data files are written, right
    * before the manifest CAS — lets the concurrency spec inject a
    * racing commit into the exact window the CAS guards. */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** [[mergeInto]] with optimistic-concurrency RETRY — Delta's commit
    * loop: a writer that loses the version CAS re-resolves its batch
    * against the freshly read current snapshot and tries again, up to
    * `maxAttempts`. Correct for independent writers because every
    * attempt resolves against the snapshot it reads at entry, and a
    * losing attempt abandons its work invisibly (data files and any
    * change increment stay unreferenced until [[vacuum]]).
    * The retry re-does the resolution — the simple, always-correct
    * policy; Delta's disjoint-partition rebase (skipping re-resolution
    * when the winner touched other partitions) is an optimization this
    * engine trades for the guarantee that matched/unmatched splits are
    * never computed against a stale base. Throws the final
    * concurrent-commit error when attempts are exhausted. */
  def mergeIntoRetry(spark: SparkSession, dir: String, updates: DataFrame,
      partitionKeys: Seq[String], rowKey: Seq[String],
      txn: Option[(String, Long)] = None,
      commitTs: Long = System.currentTimeMillis(),
      maxAttempts: Int = 3,
      statsCols: Seq[String] = Nil): Long = {
    require(maxAttempts >= 1, "need maxAttempts >= 1")
    var attempt = 1
    while (true) {
      try return mergeInto(spark, dir, updates, partitionKeys, rowKey,
        txn, commitTs, statsCols)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("concurrent commit") &&
              attempt < maxAttempts =>
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Diagnostic counter: per-file getFileStatus calls [[optimize]]'s
    * byte-sizing pass made — none when the manifests or the stats
    * sidecars' `bytes` column covered every live file (the
    * metadata-only path). Thread-safe; readers take deltas of `sum()`. */
  private[lake] val optimizeFileStatProbes =
    new java.util.concurrent.atomic.LongAdder

  /** OPTIMIZE within the manifest protocol: partitions holding more
    * than `targetFilesPerPartition` live files are rewritten compacted
    * (one shuffle clustered on the partition keys, new files appended),
    * and the new manifest swaps the small files for the compacted ones.
    * Pure layout change: the snapshot's rows are identical, old
    * versions still see the old files (time travel intact), and work
    * is bounded by the partitions that actually need compacting.
    * Pending MOR tombstones don't block either mode: the ZORDER pass
    * materializes them as part of its full re-cluster (the commit
    * drops the `#del` lines), the small-file pass carries them
    * untouched.
    *
    * @param zorder optional clustering key (Delta's `OPTIMIZE ZORDER
    *   BY`): pass a [[Maintenance.mortonKey]]/[[Maintenance.gridBucket]]
    *   composition. When set, EVERY partition is rewritten (re-cluster
    *   semantics, like Delta) as ~`targetFilesPerPartition` files per
    *   partition, range-split and sorted on the key — each rewritten
    *   file covers a disjoint zkey slice, so per-file min/max boxes are
    *   tight on every interleaved dimension and a footer-built
    *   [[SkipIndex]] over the snapshot prunes multi-predicate reads.
    *   The key is layout only: it is computed, range-partitioned on,
    *   sorted by, and dropped before the write.
    * Returns the committed version (unchanged if nothing to do). */
  def optimize(spark: SparkSession, dir: String,
      partitionKeys: Seq[String], targetFilesPerPartition: Int = 1,
      zorder: Option[org.apache.spark.sql.Column] = None,
      commitTs: Long = System.currentTimeMillis(),
      targetFileSizeBytes: Option[Long] = None,
      partitionFilter: Option[Map[String, String]] = None,
      onlyFiles: Option[Set[String]] = None,
      stampClusterAt: Boolean = false): Long = {
    require(targetFilesPerPartition >= 1, "need targetFilesPerPartition >= 1")
    // zorder + size target COMPOSE (Delta's OPTIMIZE ZORDER honors
    // maxFileSize): the re-cluster pass rewrites everything and the
    // byte target sizes its output files via the same rows-per-byte
    // discipline as the small-file pass
    targetFileSizeBytes.foreach(t => require(t > 0, "need targetFileSizeBytes > 0"))
    val v = init(spark, dir, commitTs)
    checkPartitionSpec(metaAt(spark, dir, v), partitionKeys, "optimize")
    val dels = deleteFilesAt(spark, dir, v)
    val live = filesAt(spark, dir, v)
    val fs = fsOf(spark, dir)
    // `onlyFiles` (the INCREMENTAL clustering scope — files added
    // since the last `#clusterat` stamp): the rewrite is restricted to
    // exactly these live files; everything else is untouched metadata.
    // At 100 TB this is what keeps the steady-state OPTIMIZE loop
    // priced by INGEST CHURN, never lake size.
    val scopeFiles = onlyFiles match {
      case None => live
      case Some(set) => live.filter(set.contains)
    }
    // group by ROOT-RELATIVE partition dir: a clone's foreign refs
    // compact together with its local files of the same partition, and
    // the rewrite localizes them (compaction doubles as clone
    // materialization, partition by partition)
    val byDir = scopeFiles.groupBy { f =>
      val r = refRel(f); r.take(math.max(r.lastIndexOf('/'), 0)) }
    // BINPACK sizing (Delta's OPTIMIZE file-size target): a partition
    // needs compacting when it holds more files than its bytes demand —
    // desired = ceil(bytes / target). Sizing is METADATA-ONLY for any
    // file whose size either the MANIFEST records (`#bytes` — every
    // commit since the rail; [[fileSizesKnown]]) or the stats sidecars
    // carry; only files predating both disciplines pay the per-file
    // getFileStatus fallback ([[optimizeFileStatProbes]] counts them;
    // the spec pins zero under coverage).
    val manifestBytes: Map[String, Long] =
      if (targetFileSizeBytes.isEmpty) Map.empty
      else fileSizesKnown(spark, dir, v)
    lazy val statsBytes: Map[String, Long] = // touched only past a manifest miss
      if (targetFileSizeBytes.isEmpty) Map.empty
      else try {
        statsAt(spark, dir, v).groupBy("file")
          .agg(max("bytes").as("b")).collect()
          .collect { case r if r.getLong(1) > 0L =>
            r.getString(0) -> r.getLong(1) }.toMap
      } catch { case _: IllegalArgumentException => Map.empty }
    def fileLen(ref: String): Long =
      manifestBytes.getOrElse(ref,
        statsBytes.getOrElse(SkipIndex.normalizePath(refPath(dir, ref)), {
          optimizeFileStatProbes.increment()
          fs.getFileStatus(new Path(refPath(dir, ref))).getLen
        }))
    val sizesByDir: Map[String, Long] =
      if (targetFileSizeBytes.isEmpty) Map.empty
      else byDir.map { case (d, rs) => d -> rs.map(fileLen).sum }
    // UNPARTITIONED tables group under the root ("" — no partition
    // dirs): they compact/re-cluster like any single partition. For a
    // PARTITIONED layout a root-level group would be malformed refs —
    // keep those excluded.
    // `partitionFilter` (the SQL `OPTIMIZE ... WHERE k = v` scope):
    // only partition dirs carrying EVERY (key=value) segment are
    // candidates — maintenance on a 100 TB lake targets the hot
    // partition, never a full sweep.
    partitionFilter.foreach { pf =>
      val bad = pf.keySet.filterNot(partitionKeys.contains)
      require(bad.isEmpty,
        s"OPTIMIZE WHERE references non-partition column(s) " +
          s"${bad.mkString(", ")} of $dir (partition keys: " +
          s"${partitionKeys.mkString(", ")}) — the scope must name " +
          "partition columns only")
    }
    def inScope(d: String): Boolean = partitionFilter.forall(_.forall {
      case (k, vRaw) =>
        val seg = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(k, vRaw)
        d.split('/').contains(seg)
    })
    val targets = byDir.filter { case (d, fs0) =>
      (d.nonEmpty || partitionKeys.isEmpty) && inScope(d) &&
        (if (zorder.isDefined) fs0.nonEmpty // re-cluster everything
         else targetFileSizeBytes match {
           case Some(t) =>
             fs0.size > math.max(1L, (sizesByDir(d) + t - 1) / t) ||
               fs0.exists(refIsForeign)
           case None => fs0.size > targetFilesPerPartition ||
             fs0.exists(refIsForeign)
         }) }
    if (targets.isEmpty) return v
    // rows-per-file that lands files near the byte target: one footer
    // pass over the files being compacted gives exact row counts, and
    // bytes/rows gives the average encoded row width. maxRecordsPerFile
    // then splits each task's output deterministically — file count per
    // partition = ceil(partitionRows / rowsPerFile) ~= ceil(bytes/target)
    val maxRecs: Option[Long] = targetFileSizeBytes.map { t =>
      val tRefs = targets.values.flatten.toSeq
      val totBytes = math.max(1L, targets.keys.map(sizesByDir).sum)
      val totRows = countFooterRows(spark, tRefs.map(r => refPath(dir, r)))
      math.max(1L, t * totRows / totBytes)
    }
    val anyDv = dels.exists(e => isDvRef(delParse(e)._1))
    val rawRows = readRefs(spark, dir, targets.values.flatten.toSeq,
      withPos = anyDv, pinned = metaAt(spark, dir, v).pinned)
    // pending MOR tombstones: a ZORDER pass rewrites EVERY partition
    // anyway, so it reads the tombstone-filtered view and the commit
    // drops the #del lines — compaction folded into the re-cluster for
    // free (Hudi's compact-on-clustering). The small-file pass is
    // layout-only on the RAW files: stale rows stay physical but the
    // carried tombstones keep hiding them, so nothing resurrects.
    // SCOPED tombstones must fold into ANY rewrite of covered files:
    // the compacted replacements are added at the optimize commit —
    // after every pending bound — so they would be EXEMPT, and raw
    // stale rows would resurrect. Applying the (scope-aware) MOR
    // filter during the rewrite keeps them gone; the carried `#del`
    // lines still cover the untouched old files. Global tombstones
    // keep the historical layout-only behavior (carried lines keep
    // hiding rows wherever they physically sit).
    // DELETION VECTORS must fold into ANY rewrite of their files: a DV
    // names (file, ordinal), so compacting file F into F' with the DV
    // carried would resurrect F's deleted rows in F'. Rewrites read the
    // MOR-filtered view; DV lines for dropped files become inert (they
    // match nothing) and carry harmlessly until materializeDeletes.
    val anyScoped = dels.exists(e => delParse(e)._2.isDefined)
    // dropping the #del lines is legal ONLY when this rewrite covers
    // EVERY live file: a SCOPED pass (OPTIMIZE WHERE, or the
    // incremental-clustering stripe via `onlyFiles`) leaves untouched
    // bulk files whose deleted rows the carried lines still hide —
    // dropping them there would resurrect every MOR-deleted row in
    // the bulk. The scoped rewrite still reads the MOR-FILTERED view
    // (its own replacements must not resurrect their stale rows:
    // replacements are added after every pending bound, hence exempt
    // from scoped tombstones, and DV lines for its dropped files go
    // inert), and the carried lines stay correct for the rest: a
    // tombstone hides rows wherever they still physically sit, and
    // the rewritten files simply no longer hold them.
    val fullRewrite = onlyFiles.isEmpty && partitionFilter.isEmpty
    val (rowsPhys, nextDels) =
      if (zorder.isDefined && fullRewrite)
        (applyTombstones(spark, dir, v, rawRows).drop(DvSrcPos), Nil)
      else if (zorder.isDefined || anyScoped || anyDv)
        (applyTombstones(spark, dir, v, rawRows).drop(DvSrcPos), dels)
      else (rawRows, dels)
    // cluster in the LOGICAL view (a caller's zorder key references
    // logical names), write back physical — identity when no mapping
    val meta0opt = metaAt(spark, dir, v)
    val rows = applyColumnMapping(meta0opt, rowsPhys)
    val clustered = zorder match {
      case Some(z) =>
        // range-split on (partition, zkey): each task holds one
        // contiguous zkey slice of one partition (a slice straddling a
        // partition boundary just splits into two files at the write),
        // and the in-task sort tightens row-group stats too. With a
        // byte target, split to ~one slice per target-sized file (the
        // write's maxRecordsPerFile then enforces the size exactly —
        // sequential splits of a sorted task stay contiguous in zkey)
        val nSlices = targetFileSizeBytes match {
          case Some(t) => math.max(targets.size,
            ((targets.keys.map(sizesByDir).sum + t - 1) / t).toInt)
          case None => targets.size * targetFilesPerPartition
        }
        val keys = partitionKeys.map(col) :+ col("__zkey")
        rows.withColumn("__zkey", z)
          .repartitionByRange(nSlices, keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("__zkey")
      case None if partitionKeys.isEmpty =>
        // the append-path passthrough for empty keys is WRONG here:
        // binpack exists to reduce file count, so the root group
        // explicitly repartitions to its target width (byte-target
        // splits still apply via maxRecordsPerFile)
        val nOut = targetFileSizeBytes match {
          case Some(t) => math.max(1L,
            (sizesByDir.getOrElse("", 0L) + t - 1) / t).toInt
          case None => targetFilesPerPartition
        }
        rows.repartition(nOut)
      case None => clusterByKeys(rows, partitionKeys)
    }
    val staged = stage(spark, dir,
      toPhysical(meta0opt, clustered), partitionKeys, maxRecs)
    val newFiles = staged.files
    val replaced = targets.values.flatten.toSet
    // COMMIT-ONLY CAS rebase (the disjoint-merge/append discipline,
    // applied to compaction): losing the manifest race to a writer
    // that did NOT remove any file this compaction read and changed
    // no table rule must not discard the full rewrite — compaction is
    // layout-only, so (winner's live − replaced) ∪ new is still
    // exactly right against the winner's snapshot. A winner that
    // removed a replaced file (its rows would resurrect through our
    // rewrite), moved tombstones (the fold/carry decision was made
    // against v), or changed any semantics-bearing property forces
    // the abandon-and-rerun path as before.
    var curV = v
    var curLive = live
    var committed = -1L
    var attempt = 1
    while (committed < 0) {
      beforeCommitHook()
      try {
        val cmOpt = carryMeta(spark, dir, curV, commitTs, None, nextDels,
          "optimize")
        writeCommit(fs, dir, curV + 1, curLive.filterNot(replaced) ++ newFiles,
          curLive,
          if (stampClusterAt) cmOpt.copy(clusterAt = Some(curV + 1))
          else cmOpt, staged.sizes)
        committed = curV + 1
      } catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("concurrent commit") && attempt < 5 =>
          attempt += 1
          val newV = currentVersion(spark, dir)
          val newMeta = metaAt(spark, dir, newV)
          val newLive = filesAt(spark, dir, newV)
          val rebaseOk = replaced.subsetOf(newLive.toSet) &&
            newMeta.dels == meta0opt.dels &&
            newMeta.chks == meta0opt.chks &&
            newMeta.cdf == meta0opt.cdf &&
            newMeta.renames == meta0opt.renames &&
            newMeta.droppedCols == meta0opt.droppedCols &&
            newMeta.pkeys == meta0opt.pkeys &&
            newMeta.gens == meta0opt.gens &&
            newMeta.pinnedSchema == meta0opt.pinnedSchema
          if (!rebaseOk) throw e
          curV = newV
          curLive = newLive
      }
    }
    maybeWriteIncStats(spark, dir, committed - 1, newFiles, Nil)
    committed
  }

  /** Metadata-only COUNT(*) of a snapshot: sums parquet footer record
    * counts over the version's manifest files — one distributed footer
    * read per file, ZERO data rows scanned. At 100 TB this answers the
    * most common query of all at listing cost. Exact by the parquet
    * contract (the footer's record count is authoritative).
    *
    * Pending DELETION VECTORS stay metadata-only: a DV names exact
    * (file, ordinal) rows, so its row effect is its own cardinality —
    * the count subtracts the distinct DV entries that still reference
    * a LIVE file (entries for since-rewritten files are inert and
    * subtract nothing), read from the metadata-sized sidecars.
    * Pending EQUALITY tombstones still refuse: a key list's row
    * effect genuinely cannot be known without scanning the data
    * (materializeDeletes first, or count the [[snapshot]]). */
  def fastRowCount(spark: SparkSession, dir: String, version: Long = -1L): Long = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    val (dvEs, eqEs) = deleteFilesAt(spark, dir, v).map(delParse)
      .partition(e => isDvRef(e._1))
    require(eqEs.isEmpty,
      "fastRowCount under unmaterialized equality deletes would overcount: " +
        "materializeDeletes() first or count the snapshot")
    val base = countFooterRows(spark,
      filesAt(spark, dir, v).map(f => refPath(dir, f)))
    base - dvDeletedCount(spark, dir, filesAt(spark, dir, v),
      dvEs.map(_._1))
  }

  /** Distinct deletion-vector entries that still reference a LIVE
    * file = the rows a metadata-only count must subtract (entries for
    * since-rewritten files are inert). ONE implementation shared by
    * [[fastRowCount]] and [[metadataAggregate]] so the DV path-match
    * normalization ([[encodedLeafPath]] — the exact bug class it
    * exists to prevent) lives in a single place. Distinct because
    * stacked vectors can never re-delete a row (each evaluates on the
    * MOR view), but replay debris could duplicate entries. */
  private def dvDeletedCount(spark: SparkSession, dir: String,
      liveRefs: Seq[String], dvRels: Seq[String]): Long =
    if (dvRels.isEmpty) 0L
    else dvEntriesLocal(spark, dir, dvRels) match {
      case Some(entries) =>
        // driver-side: the vectors are metadata-sized (file, pos)
        // pairs; distinct + live-filter in plain Scala, zero jobs
        val live = liveRefs.map(r => encodedLeafPath(refPath(dir, r))).toSet
        entries.distinct.count { case (f, _) => live.contains(f) }.toLong
      case None =>
        val liveDf = spark.createDataFrame(
            liveRefs.map(r => Tuple1(encodedLeafPath(refPath(dir, r)))))
          .toDF("__live_file")
        spark.read.schema(dvReadSchema)
          .parquet(dvRels.map(rel => s"$dir/$rel"): _*)
          .dropDuplicates(DvFileCol, DvPosCol)
          .join(liveDf, col(DvFileCol) === col("__live_file"), "left_semi")
          .count()
    }

  /** Driver-side read of deletion-vector entries as (file, pos) pairs,
    * None when the vectors exceed [[metaLocalMaxBytes]] (the
    * distributed read takes over). */
  private def dvEntriesLocal(spark: SparkSession, dir: String,
      dvRels: Seq[String]): Option[Seq[(String, Long)]] = {
    val budget = metaLocalMaxBytes(spark)
    if (budget <= 0L) return None
    val fs = fsOf(spark, dir)
    val parts = dvRels.flatMap(rel =>
      LocalParquet.dataFiles(fs, new Path(dir, rel)))
    if (parts.map(_._2).sum > budget) return None
    Some(LocalParquet.readRows(spark.sparkContext.hadoopConfiguration,
        parts.map(_._1), Seq(DvFileCol, DvPosCol))
      .map(m => (m(DvFileCol).asInstanceOf[String],
        m(DvPosCol).asInstanceOf[Long])))
  }

  /** One distributed footer read per file, summed — shared by
    * [[fastRowCount]], the binpack sizing pass and [[stage]]. Ships
    * the SESSION's Hadoop conf to the tasks (fs.* keys, object-store
    * credentials): a fresh Configuration() would read local disk fine
    * but fail to authenticate anywhere real. */
  private def countFooterRows(spark: SparkSession, files: Seq[String]): Long = {
    if (files.size <= footerLocalMaxFiles(spark))
      // commit-sized file sets: sequential driver-side footer reads
      // beat scheduling a distributed job (guide §1.2); large tables
      // keep the parallel pass below
      return files.map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(p), spark.sparkContext.hadoopConfiguration))
        try r.getRecordCount finally r.close()
      }.sum
    val hconf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(p), hconf.value.value))
        try r.getRecordCount finally r.close()
      }.sum().toLong
  }

  /** Time-based retention (Delta's `VACUUM ... RETAIN n HOURS`): keeps
    * every version committed within `retainMillis` of `nowMillis` —
    * and always the current one — then reaps exactly like [[vacuum]].
    * Commit timestamps are clamped monotonically non-decreasing at
    * commit time ([[carryMeta]]), so the cutoff maps to a contiguous
    * version suffix; a legacy manifest without `#ts` is never
    * time-reaped (conservative: it and everything after it stay). */
  def vacuumRetain(spark: SparkSession, dir: String, retainMillis: Long,
      nowMillis: Long = System.currentTimeMillis()): Unit = {
    require(retainMillis >= 0, "need retainMillis >= 0")
    val versions = listManifests(fsOf(spark, dir), dir).map(_._1).sorted
    require(versions.nonEmpty, s"no manifest in $dir")
    val cutoff = nowMillis - retainMillis
    val keepFrom = versions
      .find(v => commitTimeAt(spark, dir, v).forall(_ >= cutoff))
      .getOrElse(versions.last)
    vacuum(spark, dir,
      keepVersions = (versions.last - keepFrom + 1).toInt)
  }

  /** The user-facing table properties at `version` — what SQL `SHOW
    * TBLPROPERTIES` reports through the catalog: the SAME `graft.*`
    * names `ALTER TABLE SET TBLPROPERTIES` speaks (constraints, the
    * change feed) plus read-only operational facts (version, protocol
    * level + feature names, partition keys, generated columns, the
    * column mapping). Metadata-only — one manifest resolution. */
  def tableProperties(spark: SparkSession, dir: String,
      version: Long = -1L): Map[String, String] = {
    val v = if (version >= 0) version else currentVersion(spark, dir)
    require(v >= 0, s"no manifest in $dir — not a graft table")
    val m = metaAt(spark, dir, v)
    val (lvl, feats) = m.protocol
    Map(
      "graft.version" -> v.toString,
      "graft.minReaderLevel" -> lvl.toString,
      "graft.partitionKeys" -> m.pkeys
        .getOrElse(layoutPartitionKeys(spark, dir)).mkString(",")) ++
      (if (feats.nonEmpty) Map("graft.features" -> feats.mkString(","))
       else Map.empty) ++
      m.cdf.map(ks => "graft.changeFeed.keys" -> ks.mkString(",")) ++
      m.cluster.map(cs => "graft.clusterBy" -> cs.mkString(",")) ++
      m.chks.map { case (n, e) => s"graft.constraint.$n" -> e } ++
      m.gens.map { case (c, e) => s"graft.generated.$c" -> e } ++
      m.defaults.map { case (c, e) => s"graft.default.$c" -> e } ++
      m.idents.map { case (c, r) => s"graft.identity.$c" ->
        (s"start=${r.start},step=${r.step}," +
          s"last=${r.hw.map(_.toString).getOrElse("-")}," +
          s"allowExplicit=${r.allowExplicit}") } ++
      m.renames.map { case (l, p) => s"graft.columnMapping.$l" -> p }
  }

  /** DRY-RUN preview of [[vacuumRetain]]: the (path, kind) list a
    * vacuum at this retention WOULD remove — unreferenced data files
    * (`kind=data`) and pre-retention manifests (`kind=manifest`) —
    * with NOTHING deleted and no cache dropped. Change increments and
    * tombstones are age-gated at vacuum time (their candidacy depends
    * on the wall clock at execution), so the preview reports the two
    * categories whose fate is decided by the retention alone; Delta's
    * `VACUUM ... DRY RUN` scopes the same way (data files only). */
  def vacuumPlan(spark: SparkSession, dir: String, retainMillis: Long,
      nowMillis: Long = System.currentTimeMillis()): Seq[(String, String)] = {
    require(retainMillis >= 0, "need retainMillis >= 0")
    val fs = fsOf(spark, dir)
    val versions = listManifests(fs, dir).map(_._1).sorted
    require(versions.nonEmpty, s"no manifest in $dir")
    val cutoff = nowMillis - retainMillis
    val keepFrom = versions
      .find(v => commitTimeAt(spark, dir, v).forall(_ >= cutoff))
      .getOrElse(versions.last)
    val cur = versions.last
    val referenced = (keepFrom to cur)
      .flatMap(v => filesAt(spark, dir, v)).toSet
    val data = listDataFiles(fs, new Path(dir), new Path(dir))
      .filterNot(referenced).sorted.map((_, "data"))
    val manifests = versions.filter(_ < keepFrom).flatMap { v =>
      Seq(ckptPath(dir, v), deltaPath(dir, v))
        .filter(fs.exists).map(p => (s"_manifest/${p.getName}", "manifest"))
    }
    data ++ manifests
  }

  /** Minimum age before [[vacuum]] reaps an UNREFERENCED change
    * increment directory (`_changes/inc_*`). A committing writer
    * writes its increment BEFORE its manifest CAS (by design — the
    * CAS publishes the pointer crash-atomically), so at any instant
    * an unreferenced increment may belong to an in-flight commit;
    * reaping it would leave the winner's `#cdfinc` pointing at a
    * deleted directory and permanently break feed reads of that
    * version. Delta's vacuum solves the same window with a retention
    * clock — an increment older than this is an orphan from a crash
    * or lost CAS, not an in-flight write. */
  val ChangeIncRetainMillis: Long = 60L * 60 * 1000

  /** Delete data files unreferenced by the newest `keepVersions`
    * manifests, the older manifests themselves, and any equality-delete
    * tombstone files no retained manifest references. After vacuum,
    * time travel reaches back exactly `keepVersions` versions.
    *
    * Streaming exactly-once survives any retention: every manifest
    * re-publishes the full `#txn` high-water map, so reaping the
    * manifest that originally recorded a marker loses nothing.
    * If the oldest retained version's manifest is a delta, it is first
    * rewritten as an equivalent checkpoint (same resolved listing and
    * meta) so the retained tail resolves without the reaped manifests;
    * readers prefer the checkpoint when the crash window leaves both
    * forms. */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int): Unit =
    vacuum(spark, dir, keepVersions, System.currentTimeMillis())

  private[lake] def vacuum(spark: SparkSession, dir: String,
      keepVersions: Int, nowMillis: Long): Unit = {
    require(keepVersions >= 1, "must keep at least the current version")
    val fs = fsOf(spark, dir)
    val ms = listManifests(fs, dir)
    val cur = ms.map(_._1).foldLeft(-1L)(math.max)
    require(cur >= 0, s"no manifest in $dir")
    val keepFrom = math.max(0L, cur - keepVersions + 1)
    cacheDrop(dir) // reaped versions must stop resolving from cache
    if (ms.exists { case (mv, isDelta) => mv == keepFrom && isDelta }) {
      val files = filesAt(spark, dir, keepFrom)
      val meta = metaAt(spark, dir, keepFrom)
      // sizes the about-to-be-reaped manifests record for still-live
      // files bake into the rewritten checkpoint — vacuum never turns
      // a metadata-only DESCRIBE/binpack back into per-file RPCs
      val sizes = fileSizesKnown(spark, dir, keepFrom)
      val sizeLines = files.filter(sizes.contains).sorted
        .map(f => s"#bytes ${b64e(f)} ${sizes(f)}") :+ "#bytesall"
      val dst = ckptPath(dir, keepFrom)
      val tmp = writeManifestFile(fs, dst,
        meta.render ++ files.sorted ++ sizeLines)
      require(fs.rename(tmp, dst), s"checkpoint rewrite failed for $dst")
      fs.delete(deltaPath(dir, keepFrom), false)
    }
    // stats AND bloom sidecars follow the manifest retention: if a
    // family's base FULL sidecar would fall outside it, re-base an
    // equivalent full at keepFrom ASSEMBLED from the existing sidecars
    // (metadata-only — a file's sidecar rows are immutable facts about
    // an immutable file, so nothing is ever re-read or re-built), then
    // drop pre-retention sidecars. A lake with broken/no coverage just
    // loses the stale sidecars (the family's backfill re-establishes).
    Seq("stats", "bloom").foreach { kind =>
      val sidecars = listSidecars(fs, dir, kind)
      if (sidecars.nonEmpty) {
        val fullsBelow = sidecars.collect { case (sv, true) if sv <= keepFrom => sv }
        if (fullsBelow.nonEmpty && fullsBelow.max < keepFrom) {
          val live = filesAt(spark, dir, keepFrom)
          val base = fullsBelow.max
          val parts = fullSidecarPath(dir, kind, base).toString +:
            sidecars.collect { case (sv, false) if sv > base && sv <= keepFrom =>
              incSidecarPath(dir, kind, sv).toString }
          val liveDf = spark.createDataFrame(live.map(Tuple1(_))).toDF("ref")
          spark.read.option("mergeSchema", "true").parquet(parts: _*)
            .dropDuplicates("file", "col")
            .join(liveDf, col("file") === col("ref"), "left_semi")
            .coalesce(1).write.mode("overwrite")
            .parquet(fullSidecarPath(dir, kind, keepFrom).toString)
        }
        sidecars.filter(_._1 < keepFrom).foreach { case (sv, isFull) =>
          fs.delete(if (isFull) fullSidecarPath(dir, kind, sv)
            else incSidecarPath(dir, kind, sv), true)
        }
      }
    }
    val referenced = (keepFrom to cur)
      .flatMap(v => filesAt(spark, dir, v)).toSet
    val all = listDataFiles(fs, new Path(dir), new Path(dir))
    all.filterNot(referenced).foreach(rel =>
      fs.delete(new Path(dir, rel), false))
    // change increments live under _changes/ (invisible to
    // listDataFiles): drop the ones no retained manifest references —
    // which also reaps orphans from lost CAS attempts and crashes.
    // AGE-GATED ([[ChangeIncRetainMillis]]): an increment is written
    // BEFORE its commit's manifest CAS, so a young unreferenced one
    // may belong to an in-flight commit whose `#cdfinc` pointer is
    // about to land — reaping it would break that version's feed
    // reads forever. Only increments past the retention clock are
    // provably orphans.
    val refIncs = (keepFrom to cur)
      .flatMap(v => metaAt(spark, dir, v).cdfInc).toSet
    val chRoot = new Path(dir, "_changes")
    if (fs.exists(chRoot)) {
      fs.listStatus(chRoot).foreach { st =>
        if (!refIncs.contains(s"_changes/${st.getPath.getName}") &&
            st.getModificationTime < nowMillis - ChangeIncRetainMillis)
          fs.delete(st.getPath, true)
      }
    }
    // tombstones live under _deletes/ (invisible to listDataFiles):
    // drop the ones only pre-retention manifests referenced. A SCOPED
    // tombstone still pending at a retained version needs the
    // manifests back to its bound (its exemption set reads their `+`
    // lines) — vacuuming past the bound would break every later read,
    // so it is refused with the repair named.
    val scopedEntries = (keepFrom to cur)
      .flatMap(v => metaAt(spark, dir, v).dels.map(delParse))
    // strict (> keepFrom): the keepFrom manifest is rewritten as a
    // checkpoint below, and resolving the BOUND version's additions
    // needs the version before it
    scopedEntries.foreach { case (p, bound) =>
      bound.foreach(b => require(b > keepFrom,
        s"cannot vacuum $dir to version $keepFrom: pending scoped " +
          s"tombstone $p (bound $b) needs the manifests back past its " +
          "bound — materializeDeletes() first, or retain more versions"))
    }
    val refDels = scopedEntries.map(_._1).toSet
    val delRoot = new Path(dir, "_deletes")
    if (fs.exists(delRoot)) {
      val rootUri = new Path(dir).toUri.getPath.stripSuffix("/")
      PathModel.walk(fs, delRoot).foreach { st =>
        val f = st.getPath
        val rel = f.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        // same age gate as the change increments: a tombstone is
        // written BEFORE its commit's CAS, so a young unreferenced one
        // may belong to an in-flight deleteWhere/mergeIntoMor
        if (f.getName.endsWith(".parquet") && !refDels.contains(rel) &&
            st.getModificationTime < nowMillis - ChangeIncRetainMillis)
          fs.delete(f, false)
      }
    }
    (0L until keepFrom).foreach { v =>
      fs.delete(ckptPath(dir, v), false)
      fs.delete(deltaPath(dir, v), false)
    }
  }
}
