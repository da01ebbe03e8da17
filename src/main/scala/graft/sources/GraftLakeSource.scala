package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BoundReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, GraftPartitionBridge, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{SaveMode}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{ByteType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}

import graft.lake.{PruneIn, PruneIsNull, PruneNotNull, PrunePred, PruneRange, Versioned}

/** `spark.read.format("graft").load(dir)` — the versioned lake as a
  * first-class Spark data source, so CATALYST drives the reads: the
  * planner's column pruning reaches the parquet scan, its partition
  * filters prune the manifest's Hive directories, and its data
  * filters route to the commit-time stats/bloom sidecars through the
  * one pruning core ([[Versioned.prunedScanCandidates]]) for file
  * skipping — the core `Versioned.prunedScan` reads through as a
  * library call, now reachable from a plain DataFrame (or SQL view)
  * without the caller knowing it exists.
  *
  * Options: `versionAsOf` (manifest version) / `timestampAsOf`
  * (epoch millis, or `yyyy-MM-dd HH:mm:ss`) — Delta's time-travel
  * read surface.
  *
  * Two relation shapes, chosen by the version's commit meta:
  *
  *  - FAST PATH (no column mapping, no pending MOR tombstones — the
  *    steady state, and always reachable via `materializeDeletes`):
  *    a [[HadoopFsRelation]] over a manifest-driven [[GraftFileIndex]]
  *    with Spark's own vectorized [[ParquetFileFormat]]. Whole-stage
  *    codegen, parquet row-group pushdown, and partition pruning all
  *    behave exactly as on a native parquet table, PLUS sidecar file
  *    skipping in [[GraftFileIndex.listFiles]].
  *  - SNAPSHOT PATH (mapping or tombstones in force): the read must
  *    apply a rename-select and/or an anti-join, which no
  *    `FileIndex` can express — a [[PrunedFilteredScan]] wraps
  *    [[Versioned.snapshot]], forwarding the planner's pruned columns
  *    and pushable filters into the inner DataFrame (whose own plan
  *    pushes them to ITS parquet scan) and declaring every filter
  *    unhandled so Spark re-checks exactly (row-at-a-time conversion
  *    at the boundary is the honest cost of the MOR window).
  *
  * The reference's user surface is declarative commands over a
  * catalog (`summary.py:343-402`, `main.py:309-330`); the Spark-
  * native equivalent of "commands anyone can run" is exactly this —
  * a format string any `spark.read` / `CREATE TEMP VIEW ... USING`
  * can name. */
final class GraftLakeSource extends RelationProvider
  with CreatableRelationProvider with StreamSinkProvider
  with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** The WRITE surface — `df.write.format("graft")`:
    *  - `mode("append")` on an existing lake → [[Versioned.append]]
    *    (manifest-committed, constraints/generated/spec enforced,
    *    change feed published — never a bare file drop);
    *  - `mode("overwrite")` → [[Versioned.overwrite]] (one
    *    full-replace commit, old versions still travel);
    *  - first write to a fresh directory (any mode) lays the data out
    *    Hive-partitioned by the REQUIRED `partitionKeys` option
    *    (comma-separated), commits v0 and DECLARES the spec
    *    (`changePartitionSpec` metadata-only), so every later writer
    *    is spec-checked;
    *  - on an existing lake the keys come from the declared spec /
    *    the live layout — the option may be omitted.
    * SQL `INSERT INTO` a fast-path relation is handled one layer up:
    * with [[graft.GraftExtensions]] registered, [[GraftRowLevelSql]]
    * reroutes Spark's bare `InsertIntoHadoopFsRelationCommand` into a
    * manifest-committed [[GraftInsertCommand]]; without the rule, the
    * bare write fails loudly ([[GraftFileIndex.refresh]] throws) and
    * its unreferenced files stay invisible to readers until vacuum —
    * the silent-bypass hazard documented in earlier rounds is closed
    * both ways. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val opts = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val dir = opts.getOrElse("path", throw new IllegalArgumentException(
      "the graft writer needs a table directory: " +
        "df.write.format(\"graft\").save(dir)"))
    val exists = Versioned.currentVersion(spark, dir) >= 0
    val optKeys = opts.get("partitionkeys")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    if (!exists) {
      val keys = optKeys.getOrElse(throw new IllegalArgumentException(
        "creating a graft lake needs .option(\"partitionKeys\", \"k1,k2\")"))
      data.write.mode("errorifexists").partitionBy(keys: _*).parquet(dir)
      Versioned.init(spark, dir)
      Versioned.changePartitionSpec(spark, dir, keys) // declare (metadata-only)
    } else {
      val keys = optKeys.getOrElse(Versioned.layoutPartitionKeys(spark, dir))
      mode match {
        case SaveMode.Append =>
          Versioned.append(spark, dir, data, keys)
        case SaveMode.Overwrite =>
          Versioned.overwrite(spark, dir, data, keys)
        case SaveMode.ErrorIfExists =>
          throw new IllegalArgumentException(
            s"$dir is already a versioned graft lake (mode ErrorIfExists)")
        case SaveMode.Ignore => ()
      }
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val opts = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val dir = opts.getOrElse("path", throw new IllegalArgumentException(
      "the graft source needs a table directory: " +
        "spark.read.format(\"graft\").load(dir)"))
    val cur = Versioned.currentVersion(spark, dir)
    require(cur >= 0,
      s"$dir is not a versioned graft lake (no _manifest): Versioned.init() first")
    val version = opts.get("versionasof").map(_.toLong)
      .orElse(opts.get("timestampasof").map(ts =>
        Versioned.versionAsOf(spark, dir, parseTs(ts))))
      .getOrElse(cur)
    require(version >= 0 && version <= cur,
      s"versionAsOf $version does not exist in $dir (current is $cur)")
    val mor = Versioned.deleteFilesAt(spark, dir, version).nonEmpty
    // an EMPTY version (CREATE TABLE before the first write) has no
    // files for a FileIndex — the snapshot relation serves the typed
    // zero-row frame from the _schema anchor. Pending MOR tombstones
    // need an anti-join no FileIndex can express — snapshot path.
    // COLUMN MAPPING stays on the VECTORIZED fast path: the relation's
    // file format translates logical names to the files' physical ones
    // at the reader seam ([[GraftMappedParquetFileFormat]]).
    val empty = Versioned.filesAt(spark, dir, version).isEmpty
    if (mor || empty)
      new GraftSnapshotRelation(sqlContext, dir, version)
    else GraftFileIndex.relation(sqlContext, dir, version)
  }

  /** The STREAMING write surface — see [[GraftStreamSink]]. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      "the graft sink is append-only: express updates with " +
        "foreachBatch + Versioned.mergeInto (or StreamingMerge)")
    val opts = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val dir = opts.getOrElse("path", throw new IllegalArgumentException(
      "the graft sink needs a table directory: .start(dir)"))
    val keys =
      if (partitionColumns.nonEmpty) Some(partitionColumns)
      else opts.get("partitionkeys")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    // the txn id must be UNIQUE PER QUERY and stable across restarts.
    // The checkpoint location is exactly that; the table dir is NOT (two
    // queries appending to one lake would share an id, and whichever
    // query's batchId lags would see its batches dropped as replays) —
    // so when the checkpoint rides only the session conf (absent from
    // the writer options), refuse rather than guess
    val txnId = opts.get("txnid")
      .orElse(opts.get("checkpointlocation").map("graft-sink:" + _))
      .getOrElse(throw new IllegalArgumentException(
        "the graft sink needs a stable per-query identity for " +
          "exactly-once replay: set .option(\"checkpointLocation\", ...) " +
          "on this writer (a spark.sql.streaming.checkpointLocation conf " +
          "is not visible here) or .option(\"txnId\", ...)"))
    new GraftStreamSink(sqlContext, dir, keys, txnId)
  }

  /** The STREAMING read surface — see [[GraftStreamSource]].
    * Options: `startingVersion` (serve appends after it instead of an
    * initial snapshot), `startingTimestamp` (the same floor seeded by
    * commit time — epoch millis or `yyyy-MM-dd HH:mm:ss[.f]`; resolved
    * ONCE to a version, commits at or after the timestamp stream;
    * refuses when vacuum reaped the anchoring history),
    * `maxVersionsPerTrigger` (backpressure, in
    * commits per micro-batch), `readChanges` (CDC mode — Delta's
    * `readChangeFeed`: batches are the change-feed increments with
    * `_action`/`_commit_version` columns; requires `startingVersion`/
    * `startingTimestamp` and a table with `enableChangeFeed` in
    * force). */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val opts = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val dir = opts.getOrElse("path", throw new IllegalArgumentException(
      "the graft stream source needs a table directory: " +
        "spark.readStream.format(\"graft\").load(dir)"))
    val spark = sqlContext.sparkSession
    require(Versioned.currentVersion(spark, dir) >= 0,
      s"$dir is not a versioned graft lake (no _manifest): Versioned.init() first")
    val base = Versioned.snapshot(spark, dir).schema
    val out =
      if (opts.get("readchanges").exists(_.toBoolean)) StructType(
        base.fields.toSeq :+
          org.apache.spark.sql.types.StructField("_action",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType))
      else base
    (shortName(), schema.getOrElse(out))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val opts = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val dir = opts.getOrElse("path", throw new IllegalArgumentException(
      "the graft stream source needs a table directory: " +
        "spark.readStream.format(\"graft\").load(dir)"))
    // `startingTimestamp` (Delta's twin of startingVersion): the seed
    // resolves to a version INSIDE the source's pinned-floor
    // initializer — only when the checkpoint has no floor yet — so a
    // restarted stream never re-resolves against the clock (vacuum
    // reaping the anchoring manifests mid-life cannot fail a restart
    // whose floor the checkpoint already owns). Both options together
    // are ambiguous and refuse.
    val tsOpt = opts.get("startingtimestamp").map(parseTs)
    require(opts.get("startingversion").isEmpty || tsOpt.isEmpty,
      "set startingVersion OR startingTimestamp, not both — they " +
        "seed the same replay floor")
    new GraftStreamSource(sqlContext, dir, metadataPath,
      opts.get("startingversion").map(_.toLong),
      opts.get("maxversionspertrigger").map(_.toLong)
        .getOrElse(Long.MaxValue),
      readChanges = opts.get("readchanges").exists(_.toBoolean),
      startingTimestampMs = tsOpt)
  }

  private def parseTs(s: String): Long =
    try s.toLong
    catch { case _: NumberFormatException =>
      java.sql.Timestamp.valueOf(s).getTime }
}

/** Manifest-driven [[FileIndex]]: the listing is `filesAt(version)`
  * (never a directory walk — a reader holding the relation is
  * snapshot-isolated by construction), partition values parse from
  * the Hive paths with Spark's own parser, and `listFiles` is where
  * the engine's metadata does planner work:
  *
  *  - PARTITION filters evaluate against the parsed values
  *    (bound by name, the `PartitioningAwareFileIndex` discipline) —
  *    directories whose values fail never reach the scan;
  *  - DATA filters translate to [[PrunePred]]s and route to the
  *    commit-time stats/bloom sidecars; files whose boxes/blooms
  *    exclude the predicate are skipped. Translation is conservative
  *    (strict bounds widen to inclusive, untracked columns drop) —
  *    false survivors cost a file open, never a wrong row, because
  *    Spark re-applies every filter exactly on the scan output.
  *
  * Driver cost: one manifest resolution + one `listStatus` per
  * partition directory at construction (the same O(files) class as
  * any listing), zero data I/O. */
final class GraftFileIndex(
    spark: SparkSession, private[graft] val dir: String,
    private[graft] val version: Long,
    override val partitionSchema: StructType,
    parts: Seq[(InternalRow, Array[FileStatus])]) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(dir))

  /** A committed version is immutable, so there is nothing to refresh
    * — and the ONE caller that invokes this on a write path is
    * Spark's own `InsertIntoHadoopFsRelationCommand` after a bare
    * file write that the manifest would never reference (invisible to
    * readers, then vacuum-reaped). Throwing turns that documented
    * silent-data-loss trap into a loud refusal even on sessions
    * without [[graft.GraftExtensions]] registered (with them, SQL
    * INSERT is intercepted and routed through [[Versioned.append]]
    * before this command ever runs). */
  override def refresh(): Unit =
    throw new UnsupportedOperationException(
      s"writes to graft table $dir must go through the manifest: use " +
        "df.write.format(\"graft\"), Versioned.append/overwrite, or SQL " +
        "INSERT with graft.GraftExtensions registered — a bare file write " +
        "would be invisible to readers and reaped by vacuum")

  override lazy val sizeInBytes: Long =
    parts.iterator.flatMap(_._2).map(_.getLen).sum

  override def inputFiles: Array[String] =
    parts.iterator.flatMap(_._2).map(_.getPath.toString).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) parts
      else {
        // bind by NAME against the partition schema (the incoming
        // attributes carry the relation's exprIds, not ours)
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(
              _.name.equalsIgnoreCase(a.name))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }
        val predicate = CatalystPredicate.createInterpreted(bound)
        predicate.initialize(0)
        parts.filter { case (values, _) => predicate.eval(values) }
      }
    // sidecar file skipping, driven by the PLANNER's data filters: what
    // the sidecars cannot serve is dropped (the scan still applies every
    // filter exactly — skipping is only ever an optimization)
    val surviving = Some(dataFilters.flatMap(GraftFileIndex.toPrunePreds))
      .filter(_.nonEmpty)
      .map(Versioned.prunedScanCandidates(spark, dir, _, version = version))
      .filter(_.served.nonEmpty).map(_.files.toSet)
    val listed = pruned.map { case (values, files) =>
      val kept = surviving match {
        case None => files
        case Some(s) => files.filter(f =>
          s.contains(graft.lake.SkipIndex.normalizePath(f.getPath.toString)))
      }
      PartitionDirectory(values, kept)
    }
    GraftFileIndex.lastListedFiles =
      listed.flatMap(_.files.map(_.getPath.toString))
    listed
  }
}

object GraftFileIndex {

  /** The file set the most recent `listFiles` returned (post partition
    * pruning AND sidecar skipping) — observability for pruning specs:
    * "assert on files read, not timing". Driver-side, test-facing. */
  @volatile var lastListedFiles: Seq[String] = Nil

  /** Driver-side builds of the relation (cache MISSES) — the seam the
    * caching spec counts: a repeat read of the same (dir, version)
    * must not re-stat partitions or re-infer the schema. */
  @volatile var relationBuilds: Long = 0L

  // A committed version's relation is immutable (same reasoning as
  // Versioned's resolution cache): one (dir, version) construction —
  // one listStatus per partition dir + one mergeSchema footer pass —
  // serves every later read in this driver. At 100× file counts the
  // uncached re-resolution is the first thing a dashboard user feels;
  // cached, a repeat `spark.read.format("graft")` plans with ZERO
  // driver file-system calls. Invalidation rides Versioned's own
  // cache-drop fan-out (vacuum, clone localization). Bounded LRU.
  //
  // The key carries the OWNING SESSION (by reference — SparkSession
  // equality is identity), not just (dir, version): a HadoopFsRelation
  // is bound to the SQLContext that built it, and its partition values
  // were parsed under that session's spark.sql.session.timeZone —
  // serving it to a second session (or one created after the first was
  // stopped) would pin plans to the wrong/stopped session. Each
  // session builds its own entry; entries of stopped sessions are
  // dropped on sight (and age out of the LRU regardless).
  private val relationCache =
    new java.util.LinkedHashMap[(SparkSession, String, Long), BaseRelation](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, Long), BaseRelation])
          : Boolean = size > 64
    }
  Versioned.cacheDropHooks.add((dir: String) =>
    relationCache.synchronized {
      relationCache.keySet.removeIf(_._2 == dir)
    })

  /** Build (or serve cached) the fast-path relation for a committed
    * version — see [[buildRelation]] for what a build does. */
  def relation(sqlContext: SQLContext, dir: String,
      version: Long): BaseRelation = {
    val session = sqlContext.sparkSession
    val key = (session, dir, version)
    relationCache.synchronized {
      // stopped sessions cannot serve plans; purge their entries so the
      // LRU never keeps a dead session (or its relation) reachable
      relationCache.keySet.removeIf(_._1.sparkContext.isStopped)
      Option(relationCache.get(key))
    } match {
      case Some(r) => r
      case None =>
        val r = buildRelation(sqlContext, dir, version)
        relationCache.synchronized(relationCache.put(key, r))
        r
    }
  }

  /** Build the fast-path relation: resolve the manifest, stat the
    * files (one `listStatus` per partition directory), parse partition
    * values with Spark's parser, infer the data schema from the files
    * (mergeSchema — commits may have evolved it), and wrap it all in a
    * [[HadoopFsRelation]] over Spark's vectorized parquet format. */
  private def buildRelation(sqlContext: SQLContext, dir: String,
      version: Long): BaseRelation = {
    relationBuilds += 1
    val spark = sqlContext.sparkSession
    val refs = Versioned.filesAt(spark, dir, version)
    require(refs.nonEmpty, s"version $version of $dir has no files")
    val abs = refs.map(r => Versioned.refPath(dir, r))
    // one listStatus per partition dir, filtered to the manifest's
    // members (a dir can hold files of several versions)
    val byDir = abs.groupBy(p => new Path(p).getParent)
    // compare both sides as DECODED scheme-less URI paths: listStatus
    // returns fully-qualified paths (`file:/...`, `hdfs://nn/...`)
    // while the manifest refs are plain strings that may themselves be
    // scheme-qualified — raw string equality would silently match
    // NOTHING on a qualified table dir and read an empty table
    val wanted = abs.map(p => new Path(p).toUri.getPath).toSet
    val statuses: Map[Path, Array[FileStatus]] = byDir.map { case (d, members) =>
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val matched = fs.listStatus(d).filter(st =>
        wanted.contains(st.getPath.toUri.getPath))
      require(matched.nonEmpty,
        s"manifest of $dir@v$version references ${members.size} file(s) " +
          s"under $d but the listing matched none — path scheme/encoding " +
          "mismatch or missing data files")
      d -> matched
    }
    val tz = spark.conf.get("spark.sql.session.timeZone")
    // partition values parse PER ROOT (Spark's parser refuses mixed
    // roots), then the specs merge — a shallow clone's foreign refs
    // and its local files carry the same Hive columns; roots whose
    // layouts genuinely diverged refuse with the localization repair
    val leafToRoot: Seq[(Path, String)] = refs.map { r =>
      new Path(Versioned.refPath(dir, r)).getParent ->
        Versioned.refRoot(dir, r)
    }.distinct
    val spec = leafToRoot.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (root, pairs) =>
        GraftPartitionBridge.parsePartitions(
          pairs.map(_._1).distinct.sortBy(_.toString),
          Set(new Path(root)), tz)
      }
      .reduce { (a, b) =>
        require(a.partitionColumns == b.partitionColumns,
          s"clone roots of $dir parse different partition schemas " +
            s"(${a.partitionColumns.fieldNames.mkString(",")} vs " +
            s"${b.partitionColumns.fieldNames.mkString(",")}): " +
            "OPTIMIZE the clone to localize its foreign references")
        org.apache.spark.sql.execution.datasources.PartitionSpec(
          a.partitionColumns, a.partitions ++ b.partitions)
      }
    val parts: Seq[(InternalRow, Array[FileStatus])] =
      if (spec.partitionColumns.isEmpty)
        Seq((InternalRow.empty, statuses.values.flatten.toArray))
      else spec.partitions.map(pp => (pp.values, statuses(pp.path)))
    // files carry PHYSICAL column names; the relation exposes LOGICAL
    // ones (dropped physicals pruned, renames applied) and the file
    // format translates back at the reader seam — the column-mapping
    // read stays on the vectorized pipe
    val (renames, dropped) = Versioned.columnMappingRaw(spark, dir, version)
    val physToLog = renames.map(_.swap)
    // a PINNED schema (type widening in force) replaces footer
    // inference: mixed pre/post-widen footers legitimately disagree
    // and the vectorized reader promotes narrow stored types under
    // the declared wide schema — the fast path stays fast
    val physSchema = Versioned.pinnedSchemaAt(spark, dir, version)
      // uniform footers (the un-evolved common case) serve the data
      // schema driver-side — no per-relation-build inference job
      // (guide §2.4); genuinely mixed footers keep the merge
      .orElse(Versioned.uniformSchemaLocal(spark, abs.map(new Path(_))))
      .getOrElse(spark.read.option("mergeSchema", "true")
        .parquet(abs: _*).schema)
    val mapped = StructType(physSchema.flatMap { f =>
      if (dropped.contains(f.name)) None
      else Some(f.copy(name = physToLog.getOrElse(f.name, f.name)))
    })
    // `#addcol` columns no file carries yet: requested-but-absent
    // parquet columns null-fill on the vectorized path already, so
    // extending the data schema is the whole read-side cost
    val dataSchema = Versioned.addedColumnsAt(spark, dir, version)
      .foldLeft(mapped) { case (sch, (n, t)) =>
        if (sch.fieldNames.contains(n)) sch
        else sch.add(org.apache.spark.sql.types.StructField(n, t))
      }
    val fmt =
      if (renames.isEmpty && dropped.isEmpty) new ParquetFileFormat
      else new GraftMappedParquetFileFormat(renames)
    val index = new GraftFileIndex(spark, dir, version,
      spec.partitionColumns, parts)
    HadoopFsRelation(index, spec.partitionColumns, dataSchema, None,
      fmt, Map.empty[String, String])(
      sqlContext.sparkSession)
  }

  private def toScala(l: Literal): Any =
    CatalystTypeConverters.createToScalaConverter(l.dataType)(l.value)

  private def numeric(l: Literal): Option[Double] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType =>
      Option(l.value).map(_.asInstanceOf[Number].doubleValue())
    case _ => None
  }

  /** Conservative Catalyst→[[PrunePred]] translation: strict bounds
    * widen to inclusive (a skipped file must be provably predicate-
    * free), only plain `attr ⋈ literal` shapes translate (casts and
    * functions don't — their files just aren't skipped), equality
    * doubles as a range AND a bloom probe. Dates/timestamps stay
    * untranslated: their sidecar encoding is the stats builder's
    * concern, not this layer's guess. */
  private[sources] def toPrunePreds(e: Expression): Seq[PrunePred] = e match {
    case And(l, r) => toPrunePreds(l) ++ toPrunePreds(r)
    case GreaterThan(a: AttributeReference, l: Literal) =>
      numeric(l).map(d => PruneRange(a.name, d, Double.MaxValue)).toSeq
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      numeric(l).map(d => PruneRange(a.name, d, Double.MaxValue)).toSeq
    case LessThan(a: AttributeReference, l: Literal) =>
      numeric(l).map(d => PruneRange(a.name, -Double.MaxValue, d)).toSeq
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      numeric(l).map(d => PruneRange(a.name, -Double.MaxValue, d)).toSeq
    // flipped literal-first spellings
    case GreaterThan(l: Literal, a: AttributeReference) =>
      numeric(l).map(d => PruneRange(a.name, -Double.MaxValue, d)).toSeq
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      numeric(l).map(d => PruneRange(a.name, -Double.MaxValue, d)).toSeq
    case LessThan(l: Literal, a: AttributeReference) =>
      numeric(l).map(d => PruneRange(a.name, d, Double.MaxValue)).toSeq
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      numeric(l).map(d => PruneRange(a.name, d, Double.MaxValue)).toSeq
    case EqualTo(a: AttributeReference, l: Literal) if l.value != null =>
      numeric(l).map(d => PruneRange(a.name, d, d)).toSeq :+
        PruneIn(a.name, Seq(toScala(l)))
    case EqualTo(l: Literal, a: AttributeReference) if l.value != null =>
      numeric(l).map(d => PruneRange(a.name, d, d)).toSeq :+
        PruneIn(a.name, Seq(toScala(l)))
    case In(a: AttributeReference, vs)
        if vs.nonEmpty && vs.forall(v =>
          v.isInstanceOf[Literal] && v.asInstanceOf[Literal].value != null) =>
      Seq(PruneIn(a.name, vs.map(v => toScala(v.asInstanceOf[Literal]))))
    case InSet(a: AttributeReference, set) if !set.contains(null) =>
      Seq(PruneIn(a.name, set.toSeq.map(v =>
        CatalystTypeConverters.createToScalaConverter(a.dataType)(v))))
    case IsNull(a: AttributeReference) => Seq(PruneIsNull(a.name))
    case IsNotNull(a: AttributeReference) => Seq(PruneNotNull(a.name))
    case _ => Nil
  }
}

/** The mapping/MOR-window relation: correctness first. The inner
  * DataFrame is [[Versioned.snapshot]] (rename-select + tombstone
  * anti-join applied); the planner's pruned columns and pushable
  * filters forward into it, so ITS parquet scan still prunes and
  * pushes — what this path gives up is the vectorized row pipe at
  * the relation boundary, not pushdown. Every filter is declared
  * unhandled: Spark re-applies them exactly on top, so the forwarded
  * pushdown can stay best-effort. */
private[graft] final class GraftSnapshotRelation(
    @transient override val sqlContext: SQLContext,
    private[graft] val dir: String, private[graft] val version: Long)
  extends BaseRelation with PrunedFilteredScan {

  @transient private lazy val snap: DataFrame =
    Versioned.snapshot(sqlContext.sparkSession, dir, version)

  override val schema: StructType = snap.schema

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters // best-effort pushdown below; Spark re-checks exactly

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(GraftSnapshotRelation.toColumn)
      .foldLeft(snap)(_.filter(_))
    filtered.select(requiredColumns.map(col).toSeq: _*).rdd
  }
}

private[sources] object GraftSnapshotRelation {
  /** `sources.Filter` → `Column`, for the shapes worth forwarding;
    * None falls back to Spark's own residual evaluation. Shared by
    * the format relation and the catalog's V1 scan. */
  private[sources] def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.StringEndsWith(a, p) => Some(col(a).endsWith(p))
    case sources.StringContains(a, p) => Some(col(a).contains(p))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}
