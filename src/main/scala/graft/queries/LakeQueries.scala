package graft.queries

import java.io.{BufferedWriter, File, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.lake.{BloomIndex, Maintenance, PathModel, PruneIn,
  PruneIsNull, PruneNotNull, PruneRange, Readers, SkipIndex, Versioned}
import graft.ops.{MergeData, Overview}

/** End-to-end csv.gz lake queries — the reference's core abstraction
  * (`collect_data_metadata.py:17-63`, `merge-data.py:54-100`,
  * `process-overview.py:35-166`) exercised against a REAL on-disk lake:
  * `ROOT/raw/SITE/PARTICIPANT/METRIC/YYYYMMDD_HHMM[_i].csv.gz` files with
  * gzipped header-CSV content, scanned by [[PathModel.listFiles]] (S1),
  * parsed by [[PathModel.parsePaths]] (S2+S3), pruned by
  * [[PathModel.includeExclude]] (F1), read by [[Readers.csvGz]] (S4) with
  * schema inference, time-resolved by [[Readers.eventTime]] (quirk
  * §2.11.7 ordered coalesce), lineage-joined (P1) and aggregated by
  * [[Overview.stats]] (A1-A3).
  *
  * The lake is a deterministic function of the `events` table (users
  * 0-11, ~800 rows at any sf), so the DuckDB oracle derives the same
  * rows straight from `events.parquet` — no CSV on the oracle side.
  * Fixture generation collects that bounded subset to the driver; it is
  * test scaffolding, not a production operator (the write path at scale
  * is [[MergeData.writeMerged]]).
  *
  * Layout rules (mirrored in the oracle):
  *  - site = "site_" + (user_id % 3); participant = "p" + user_id;
  *    metric = event_type; one file per (site, participant, metric,
  *    epoch-week), named by the week's first day — weekly rather than
  *    daily so the fixture exercises multi-row files instead of
  *    degenerating into a tiny-file swarm
  *  - site_0 groups with >= 2 rows in a week are split into TWO shards,
  *    `<day>_0000.csv.gz` and `<day>_0001_1.csv.gz` — exercising both the
  *    optional `_i` shard suffix (S3) and multi-file-per-window union
  *    (U1). The two shards carry distinct HHMM stamps so per-group
  *    distinct-file-timestamp counts are meaningful.
  *
  * The read applies an explicit schema (the documented 100 TB path —
  * inference would double the I/O; inference itself is exercised by
  * ReadersSpec/scanLake).
  */
object LakeQueries {

  private val ExcludedSite = "site_2"

  /** Run a MAINTENANCE VERB statement: through the session's own parser
    * when the graft parser extension is installed (every `GraftSession`,
    * mains and tests alike — the production path), else through the
    * parser's direct lowering (a live session built without extensions
    * cannot swap its parser). Same command plan either way. */
  private def sqlMaint(s: SparkSession, text: String)
      : org.apache.spark.sql.DataFrame =
    if (graft.GraftExtensions.injected(s))
      s.sql(text)
    else org.apache.spark.sql.GraftColumnBridge.ofRows(s,
      graft.sources.GraftSqlParser.parseMaintenance(s, text).get)

  /** Generate (once per sf dir) the fixture lake; returns its root. */
  def fixtureLake(spark: SparkSession, dir: String): String = synchronized {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    // under the build's target/ dir (cwd = repo for all runners): never
    // outside the repo, wiped by clean, invisible to git. The _v2 name
    // versions the layout (v2 adds per-metric schema.json sidecars) so
    // stale memoized fixtures from older code can't serve; the source
    // mtime stamp keys the memo on the events data itself, so a
    // regenerated testdata lake invalidates rather than serving rows
    // the oracle no longer has.
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_lake_v2_${tag}_$stamp")
    val marker = new File(root, "_SUCCESS")
    if (!marker.exists()) {
      import spark.implicits._
      val rows = Tables(spark, dir, "events")
        .filter(col("user_id") < 12)
        .select(
          concat(lit("site_"), (col("user_id") % 3).cast("string")).as("site"),
          concat(lit("p"), col("user_id").cast("string")).as("participant"),
          col("event_type").as("metric"),
          unix_seconds(col("ts").cast("timestamp")).as("t"),
          col("value").cast("double").as("v"))
        .filter(col("t").isNotNull)
        .as[(String, String, String, Long, Option[Double])]

      // DISTRIBUTED fixture write (no driver collect): each
      // (site, participant, metric, epoch-week) group becomes one task
      // that writes its csv.gz shard(s) directly — content is a
      // deterministic function of the group (rows sorted by
      // (t, value-string), the same order the old global sort induced
      // within a group), so the parallel write is replay-safe and the
      // oracle's derivation from `events` is unchanged. Only the tiny
      // distinct (site, participant, metric) list returns to the
      // driver, for the schema sidecars.
      val rootPath = root.getAbsolutePath
      val metricDirs = rows
        .groupByKey { case (s, p, m, t, _) =>
          (s, p, m, Math.floorDiv(Math.floorDiv(t, 86400L), 7L)) }
        .mapGroups { (key: (String, String, String, Long),
            it: Iterator[(String, String, String, Long, Option[Double])]) =>
          val (s, p, m, week) = key
          val lines = it.toSeq
            .sortBy { case (_, _, _, t, v) =>
              (t, v.map(_.toString).getOrElse("")) }
            .map { case (_, _, _, t, v) =>
              s"$t,${v.map(_.toString).getOrElse("")}" }
          val day = java.time.LocalDate.ofEpochDay(week * 7L)
            .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
          val base = new File(s"$rootPath/raw/$s/$p/$m")
          def writeGz(f: File, ls: Seq[String]): Unit = {
            f.getParentFile.mkdirs()
            val w = new BufferedWriter(new OutputStreamWriter(
              new GZIPOutputStream(new java.io.FileOutputStream(f)),
              StandardCharsets.UTF_8))
            try { w.write("timestamp,value\n")
              ls.foreach(l => { w.write(l); w.write("\n") }) }
            finally w.close()
          }
          if (s == "site_0" && lines.size >= 2) {
            val (h1, h2) = lines.splitAt(lines.size / 2)
            writeGz(new File(base, s"${day}_0000.csv.gz"), h1)
            writeGz(new File(base, s"${day}_0001_1.csv.gz"), h2)
          } else writeGz(new File(base, s"${day}_0000.csv.gz"), lines)
          (s, p, m)
        }
        .distinct().collect()
      // S7: one schema sidecar per metric directory (flat
      // {"col": "sqlType"} form, see Readers.sidecarStructType) — the
      // reference keeps a schema.json next to the data files
      metricDirs.foreach { case (s, p, m) =>
        java.nio.file.Files.writeString(
          new File(root, s"raw/$s/$p/$m/schema.json").toPath,
          """{"timestamp": "bigint", "value": "double"}""")
      }
      marker.createNewFile()
    }
    root.getAbsolutePath
  }

  /** Normalize `file:`-scheme URIs (Hadoop listing vs input_file_name
    * render the scheme with different slash counts) to plain paths. */
  private def plainPath(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^file:/+", "/")

  /** Events rewritten as 4 z-clustered parquet files (Morton key over
    * user_id × second-of-epoch), mtime-memoized per sf dir — the
    * steady-state layout q114 round-trips and q116's skip index prunes.
    */
  private def zCompactedEvents(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val outDir = new File(
      new File(sys.props("user.dir"), "target"),
      s"graft_zcompact_${tag}_$stamp").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(s"$outDir/_SUCCESS").exists()) {
        val ev = graft.Tables(s, dir, "events")
        Maintenance.compact(
          ev,
          Maintenance.mortonKey(
            col("user_id").bitwiseAND(lit(65535L)),
            coalesce(unix_seconds(col("ts").cast("timestamp")), lit(0L))
              .bitwiseAND(lit(65535L))),
          nFiles = 4, outDir)
      }
    }
    outDir
  }

  private val MergeCols = Seq("event_id", "user_id", "value", "event_type")

  /** The 3-batch CDC payload shared by q121 (replication), q139 (SCD2)
    * and q165 (versioned replication) — ONE definition so the three
    * queries can never drift from each other or from their oracles.
    * Batches touch the click/view slice: b0 = update/delete/insert,
    * b1 updates rows b0 inserted (key continuity across batches),
    * b2 deletes rows b0 updated. */
  private def cdcPayload(base: DataFrame): Seq[DataFrame] = {
    def t = base.filter(col("event_type").isin("click", "view"))
    def del(d: DataFrame) = d.withColumn("__delete", lit(true))
    def ups(d: DataFrame) = d.withColumn("__delete", lit(false))
    val b0 =
      ups(t.filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") * 2))
      .unionByName(del(t.filter(col("event_id") % 10 === 1)))
      .unionByName(ups(t.filter(col("event_id") % 100 === 2)
        .withColumn("event_id", col("event_id") + lit(10000000L))
        .withColumn("value", col("value") + 1)))
    val b1 =
      ups(t.filter(col("event_id") % 10 === 4)
        .withColumn("value", col("value") + 100))
      .unionByName(del(t.filter(col("event_id") % 10 === 5)))
      .unionByName(ups(t.filter(col("event_id") % 100 === 2)
        .withColumn("event_id", col("event_id") + lit(10000000L))
        .withColumn("value", (col("value") + 1) * 3)))
    val b2 =
      del(t.filter(col("event_id") % 10 === 0))
      .unionByName(ups(t.filter(col("event_id") % 10 === 6)
        .withColumn("value", col("value") - 1)))
      .unionByName(ups(t.filter(col("event_id") % 100 === 7)
        .withColumn("event_id", col("event_id") + lit(20000000L))
        .withColumn("value", col("value") + 10)))
    Seq(b0, b1, b2)
  }

  /** A fresh versioned table at `lake` (any earlier one wiped): `rows`
    * written partitioned by event_type, then [[Versioned.init]] as v0.
    * Per-run merge targets and replicas start here, so their state is
    * a pure function of (seed, log), never of a previous run. */
  private def seedVersioned(s: SparkSession, lake: String, rows: DataFrame,
      commitTs: Long = System.currentTimeMillis()): Unit = {
    val p = new org.apache.hadoop.fs.Path(lake)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    MergeData.writeMerged(s, rows, lake, keys = Seq("event_type"))
    Versioned.init(s, lake, commitTs)
  }

  /** Memoized CDF-enabled primary for the change-feed queries (q119,
    * q120, q121, q139, q165, q171): the full events base, the change
    * feed enabled on `event_id`, then the 3-batch [[cdcPayload]]. Each
    * merge publishes its increment with its commit, so the feed is
    * `changesBetween(lake, 1, 4)`. Versions (pinned commit timestamps):
    *   v0 init = full events base    (ts 1000)
    *   v1 enable-cdf rowKey=event_id (ts 1500)
    *   v2..v4 merge b0..b2           (ts 2000, 3000, 4000)
    * Memoized per testdata mtime (the fixtureLake pattern): the log is
    * immutable and deterministic in the source data, so one build is
    * every run's log; consumers still rebuild their REPLICAS fresh per
    * run. A half-built root (missing `_SUCCESS`) is wiped and rebuilt. */
  private def cdcFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_cdcfeed_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = Tables(s, dir, "events").select(MergeCols.map(col): _*).persist()
        try {
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.enableChangeFeed(s, lake, Seq("event_id"), commitTs = 1500L)
          cdcPayload(base).zipWithIndex.foreach { case (b, i) =>
            Versioned.mergeInto(s, lake, b, Seq("event_type"),
              Seq("event_id"), commitTs = 2000L + i * 1000L)
          }
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  /** Memoized MANIFEST-committed history (q172, q174, q176, q194):
    * the same [[cdcPayload]] sequence committed through
    * [[Versioned.mergeInto]] with no change feed, so its history is
    * exactly init + 3 merges. click/view slice only; versions:
    * v0 = base, v1..v3 = after b0..b2. */
  private def versionedCdcFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_vcdcfix_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view")).persist()
        try {
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          // PINNED commit timestamps (v0=1000, v1=2000, v2=3000,
          // v3=4000 epochMillis) so q172's TIMESTAMP AS OF legs are
          // deterministic — never the driver's wall clock
          Versioned.init(s, lake, commitTs = 1000L)
          val batches = cdcPayload(base)
          batches.zipWithIndex.foreach { case (b, i) =>
            Versioned.mergeInto(s, lake, b, Seq("event_type"),
              Seq("event_id"), commitTs = 2000L + i * 1000L)
          }
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  /** Stream the graft lake `src` into the graft lake `sink` through
    * `readStream.format("graft")` (q178, q181, q199): the current
    * snapshot first, then every appended version; each micro-batch is
    * one txn-marked sink commit. Drains what is available, then stops. */
  private def followInto(s: SparkSession, src: String, sink: String,
      ckpt: String): Unit =
    s.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("partitionKeys", "event_type")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(sink).awaitTermination()

  /** Memoized lake under the change-feed TABLE PROPERTY (q183, q187):
    * a mixed merge/append/delete/restore history where NO writer
    * passes a feed argument — emission is the commit path's own
    * invariant once [[Versioned.enableChangeFeed]] is in force, each
    * increment published crash-atomically by its commit's manifest
    * (`#cdfinc`). Versions (pinned commit timestamps):
    *   v0 init = click/view base            (ts 1000)
    *   v1 enable-cdf rowKey=(event_id)      (ts 2000)
    *   v2 merge  = cdcPayload b0            (ts 3000)
    *   v3 append = id%100==9 shifted +30M, value-5  (ts 4000)
    *   v4 deleteWhere event_id%100==3 (MOR) (ts 5000)
    *   v5 restore to v2                     (ts 6000)
    * Final state == b0's state (st1 in the oracles). */
  private def cdfPropFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_cdfprop_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view")).persist()
        try {
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.enableChangeFeed(s, lake, Seq("event_id"),
            commitTs = 2000L)
          Versioned.mergeInto(s, lake, cdcPayload(base).head,
            Seq("event_type"), Seq("event_id"), commitTs = 3000L)
          Versioned.append(s, lake,
            base.filter(col("event_id") % 100 === 9)
              .withColumn("event_id", col("event_id") + lit(30000000L))
              .withColumn("value", col("value") - 5),
            Seq("event_type"), commitTs = 4000L)
          Versioned.deleteWhere(s, lake, col("event_id") % 100 === 3,
            keyCols = Seq("event_id"), commitTs = 5000L)
          Versioned.restore(s, lake, 2L, commitTs = 6000L)
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  /** Memoized CDF-enabled lake whose history crosses a RENAME — the
    * shared SOURCE for q189 and q191 ([[renameReplicaAgg]]): one
    * build, two consumers, so the two queries' oracles cannot drift.
    * The replicas themselves are per-run. Versions:
    *   v0 init = click/view base                      (ts 1000)
    *   v1 enableChangeFeed(event_id)                  (ts 2000)
    *   v2 merge: id%10==0 -> value*2                  (ts 3000)
    *   v3 rename value -> reading                     (ts 4000)
    *   v4 merge: id%100==2 shifted +10M, reading+1    (ts 5000)
    *   v5 deleteWhere id%100==3                       (ts 6000) */
  private def cdfRenameFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_cdfren_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view")).persist()
        try {
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.enableChangeFeed(s, lake, Seq("event_id"),
            commitTs = 2000L)
          Versioned.mergeInto(s, lake,
            base.filter(col("event_id") % 10 === 0)
              .withColumn("value", col("value") * 2)
              .withColumn("__delete", lit(false)),
            Seq("event_type"), Seq("event_id"), commitTs = 3000L)
          Versioned.renameColumn(s, lake, "value", "reading",
            commitTs = 4000L)
          Versioned.mergeInto(s, lake,
            base.withColumnRenamed("value", "reading")
              .filter(col("event_id") % 100 === 2)
              .withColumn("event_id", col("event_id") + lit(10000000L))
              .withColumn("reading", col("reading") + 1)
              .withColumn("__delete", lit(false)),
            Seq("event_type"), Seq("event_id"), commitTs = 5000L)
          Versioned.deleteWhere(s, lake, col("event_id") % 100 === 3,
            keyCols = Seq("event_id"), commitTs = 6000L)
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  /** The flow q189 and q191 share: a per-run versioned replica under
    * `target/<memo>_<tag>/replica`, seeded from [[cdfRenameFixture]]'s
    * v1 and driven across the rename to v5 by `applyTableChanges`;
    * `checks(source, replica)` runs the query's own `require`s inside
    * the lock. Returns replica and source aggregated per event type. */
  private def renameReplicaAgg(s: SparkSession, dir: String, memo: String)(
      checks: (String, String) => Unit): DataFrame = {
    val src = cdfRenameFixture(s, dir) // memoized source (v0-v5)
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val replica = new File(new File(new File(sys.props("user.dir"), "target"),
      s"${memo}_$tag"), "replica").getAbsolutePath
    LakeQueries.synchronized {
      seedVersioned(s, replica, Versioned.snapshot(s, src, 1L),
        commitTs = 1500L)                                             // r0
      val cur = Versioned.applyTableChanges(s, src, replica,
        Seq("event_type"), sinceV = 1L)
      require(cur == 5L, s"replica must reach v5, got $cur")
      checks(src, replica)
    }
    def agg(d: DataFrame, tag: String) =
      d.groupBy("event_type").agg(
          count(lit(1)).as("row_count"),
          round(sum("reading"), 4).as("sum_reading"),
          count_distinct(col("event_id")).as("n_ids"))
        .withColumn("src", lit(tag))
    agg(Versioned.snapshot(s, replica), "replica")
      .unionByName(agg(Versioned.snapshot(s, src), "source"))
      .select("src", "event_type", "row_count", "sum_reading", "n_ids")
      .orderBy("src", "event_type")
  }

  /** Memoized SOURCE for q188: a table whose properties (mapping,
    * CHECK constraint, change feed) are all in force BEFORE a clone.
    *   v0 init = click/view base            (ts 1000)
    *   v1 rename value -> reading           (ts 2000)
    *   v2 CHECK id_pos: event_id > 0        (ts 3000)
    *   v3 enableChangeFeed(event_id)        (ts 4000) */
  private def clonePropsFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_cloneprops_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view")).persist()
        try {
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.renameColumn(s, lake, "value", "reading",
            commitTs = 2000L)
          Versioned.addConstraint(s, lake, "id_pos", "event_id > 0",
            commitTs = 3000L)
          Versioned.enableChangeFeed(s, lake, Seq("event_id"),
            commitTs = 4000L)
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  /** Memoized lake under COLUMN MAPPING (q184): rename + drop as
    * metadata-only commits, with merge/append traffic before and
    * after. Versions (pinned commit timestamps):
    *   v0 init = click/view base             (ts 1000)
    *   v1 rename value -> score              (ts 2000)
    *   v2 merge = cdcPayload b0, logical name score  (ts 3000)
    *   v3 drop user_id                       (ts 4000)
    *   v4 append = id%100==9 shifted +30M, score-5   (ts 5000) */
  private def colmapFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_colmap_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view")).persist()
        try {
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.renameColumn(s, lake, "value", "score",
            commitTs = 2000L)
          Versioned.mergeInto(s, lake,
            cdcPayload(base).head.withColumnRenamed("value", "score"),
            Seq("event_type"), Seq("event_id"), commitTs = 3000L)
          Versioned.dropColumn(s, lake, "user_id", commitTs = 4000L)
          Versioned.append(s, lake,
            base.filter(col("event_id") % 100 === 9)
              .withColumn("event_id", col("event_id") + lit(30000000L))
              .withColumn("score", col("value") - 5)
              .drop("value", "user_id"),
            Seq("event_type"), commitTs = 5000L)
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  /** Memoized lake with a NULLABLE tracked column (q185): value2 is
    * NULL exactly on the click partition, so null-count pruning has
    * real files to skip in both directions. v0 = base + backfilled
    * stats on (event_id, value2); v1 = an append wave (inherits the
    * discipline, so its files' null counts come from its own commit). */
  private def nullStatsFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_nullstats_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    def value2(scoreExpr: org.apache.spark.sql.Column) =
      when(col("event_type") === "click", lit(null).cast("double"))
        .otherwise(scoreExpr)
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_id"), value2(col("value")).as("value2"),
            col("event_type")).persist()
        try {
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.backfillStats(s, lake, Seq("event_id", "value2"))
          Versioned.append(s, lake,
            Tables(s, dir, "events")
              .filter(col("event_type").isin("click", "view") &&
                col("event_id") % 100 === 9)
              .select((col("event_id") + lit(30000000L)).as("event_id"),
                value2(col("value") - 5).as("value2"), col("event_type")),
            Seq("event_type"), commitTs = 2000L)
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  /** Memoized lake under the COMMIT-TIME STATS discipline (q177,
    * q180): fragmented base → v0 backfillStats(user_id, value) → v1
    * merge b0 (stats inherited) → v2 OPTIMIZE ZORDER (stats
    * inherited). v1 and v2 hold st1's rows; every version's boxes
    * were written by the commit that created its files. */
  private def statsLakeFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_statsfix_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = graft.Tables(s, dir, "events")
          .select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view")).persist()
        try {
          base.repartition(4) // fragmented on purpose
            .write.partitionBy("event_type").parquet(lake)
          Versioned.init(s, lake)
          Versioned.backfillStats(s, lake, Seq("user_id", "value"))
          Versioned.backfillBlooms(s, lake, Seq("event_id"),
            expectedPerFile = 200000L, fpp = 0.01)
          val Seq(b0, _, _) = cdcPayload(base)
          // NO statsCols passed: the commit inherits BOTH disciplines
          Versioned.mergeInto(s, lake, b0, Seq("event_type"),
            Seq("event_id"))
          Versioned.optimize(s, lake, Seq("event_type"),
            targetFilesPerPartition = 4,
            zorder = Some(Maintenance.mortonKey(
              col("user_id").bitwiseAND(lit(1023L)),
              Maintenance.gridBucket(col("value"), 0.0, 1000.0, 10),
              bits = 10)))
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  /** Memoized versioned lake with a Z-ORDERED latest snapshot (q166,
    * q167): v0 = deliberately fragmented click/view base (4 files per
    * partition), v1 = the q115-shaped merge, v2 = `OPTIMIZE ZORDER BY
    * morton(user_id, value)` under the manifest. v1 and v2 hold
    * IDENTICAL rows (optimize is layout-only); v2's files are
    * zkey-range slices with tight per-file (user_id, value) boxes. */
  private def versionedZLake(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val root = new File(new File(sys.props("user.dir"), "target"),
      s"graft_vzlake_${tag}_$stamp")
    val lake = new File(root, "lake").getAbsolutePath
    LakeQueries.synchronized {
      if (!new File(root, "_SUCCESS").exists()) {
        val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
        val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view")).persist()
        try {
          base.repartition(4) // fragmented on purpose
            .write.partitionBy("event_type").parquet(lake)
          Versioned.init(s, lake)
          val batch = // q115's update/delete/insert shapes
            base.filter(col("event_id") % 10 === 0)
              .withColumn("value", col("value") * 2)
              .withColumn("__delete", lit(false))
            .unionByName(base.filter(col("event_id") % 10 === 1)
              .withColumn("__delete", lit(true)))
            .unionByName(base.filter(col("event_id") % 100 === 2)
              .withColumn("event_id", col("event_id") + lit(10000000L))
              .withColumn("value", col("value") + 1)
              .withColumn("__delete", lit(false)))
          Versioned.mergeInto(s, lake, batch, Seq("event_type"), Seq("event_id"))
          Versioned.optimize(s, lake, Seq("event_type"),
            targetFilesPerPartition = 4,
            zorder = Some(Maintenance.mortonKey(
              col("user_id").bitwiseAND(lit(1023L)),
              Maintenance.gridBucket(col("value"), 0.0, 1000.0, 10),
              bits = 10)))
        } finally base.unpersist()
        new File(root, "_SUCCESS").createNewFile()
      }
    }
    lake
  }

  private def lakeOverview(s: SparkSession, dir: String): DataFrame = {
    val root = fixtureLake(s, dir)
    // normalize the listing's file:-scheme URIs before the relative parse
    val listed = PathModel.listFiles(s, root)
      .withColumn("path", plainPath(col("path")))
    val inv = PathModel.includeExclude(
      PathModel.parsePaths(listed, root),
      include = Nil, exclude = Seq(ExcludedSite))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    // the reader takes the lake ROOT (no driver-collected path list —
    // O(files) stays out of driver memory); the inventory join below
    // enforces include/exclude row-wise, the same filter the reference
    // applies to its walk
    val data = Readers.csvGzTree(s, root, Some(schema))
      .withColumn("path", plainPath(input_file_name()))
    // P1: content rows carry path-derived lineage via the inventory join
    // (INNER: excluded files' rows drop here); file-level aggregates come
    // from the inventory alone so the csv.gz scan happens exactly once
    // (for the content stats)
    val lined = data.join(
      inv.select("path", "site", "participant_id", "metric"), "path")
    val keys = Seq("site", "participant_id", "metric")
    val stats = Overview.stats(lined, keys, Readers.eventTime(lined))
    val fileAgg = MergeData.withLineage(inv).groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("file_count"),
      max(col("file_timestamp")).as("last_file_ts")) // ISO strings: lex max == chronological
    stats.join(fileAgg, keys)
      .orderBy(keys.map(col): _*)
  }

  private def lakeSubstringScan(s: SparkSession, dir: String): DataFrame = {
    val root = fixtureLake(s, dir)
    // S1+S4 in one reader (recursive lookup + glob + inference) — the
    // raw-walk form; metric comes from the legacy path layout via
    // regexp_extract (SURVEY.md §1.1.1), F2 = substring include
    val scanned = Readers.scanLake(s, s"$root/raw")
    PathModel.includeBySubstring(scanned, Seq("/p1/", "/p4/"))
      .withColumn("metric", regexp_extract(col("path"), "/raw/[^/]+/[^/]+/([^/]+)/", 1))
      .groupBy("metric")
      .agg(count(lit(1)).as("row_count"), count_distinct(col("path")).as("file_count"))
      .orderBy("metric")
  }

  /** U2 end-to-end: raw lake → [[MergeData.writeMerged]] (full write) →
    * a second writeMerged of ONE patched group (values doubled) — the
    * incremental path, where dynamic partition overwrite must rewrite
    * only the touched (site, participant, metric) directory — → read
    * the merged lake back and aggregate. The oracle derives the same
    * numbers from `events` with the patch as a CASE, so a stale or
    * clobbered untouched partition, or a patched partition that kept
    * its old rows, breaks the hash. */
  private def mergedReadback(s: SparkSession, dir: String): DataFrame = {
    val root = fixtureLake(s, dir)
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val outDir = new File(new File(sys.props("user.dir"), "target"),
      s"graft_merged_$tag").getAbsolutePath
    val listed = PathModel.listFiles(s, root)
      .withColumn("path", plainPath(col("path")))
    val inv = PathModel.parsePaths(listed, root)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    // root-driven scan + inventory join (no driver-side path list)
    val data = Readers.csvGzTree(s, root, Some(schema))
      .withColumn("path", plainPath(input_file_name()))
      .join(inv.select("path", "site", "participant_id", "metric"), "path")
      .select("site", "participant_id", "metric", "timestamp", "value")
      .persist()
    try {
      MergeData.writeMerged(s, data, outDir)
      val patch = data
        .filter(col("site") === "site_1" && col("participant_id") === "p1" &&
          col("metric") === "click")
        .withColumn("value", col("value") * 2)
      MergeData.writeMerged(s, patch, outDir)
    } finally data.unpersist()
    s.read.parquet(outDir)
      .groupBy("site", "participant_id", "metric")
      .agg(count(lit(1)).as("row_count"),
        round(sum("value"), 4).as("sum_value"))
      .orderBy("site", "participant_id", "metric")
  }

  val all: Seq[Q] = Seq(
    Q("q44_lake_overview",
      lakeOverview,
      Some(s"""
        WITH src AS (SELECT 'site_' || (user_id % 3)::VARCHAR AS site,
                            'p' || user_id::VARCHAR AS participant_id,
                            event_type AS metric,
                            make_timestamp((epoch_ns(ts) // 1000000000) * 1000000) AS ets
                     FROM events
                     WHERE user_id < 12 AND (user_id % 3) <> 2 AND ts IS NOT NULL),
        fc AS (SELECT site, participant_id, metric,
                      datediff('day', DATE '1970-01-01', CAST(ets AS DATE)) // 7 AS wk,
                      CASE WHEN site = 'site_0' AND count(*) >= 2 THEN 2 ELSE 1 END AS nf
               FROM src GROUP BY 1, 2, 3, 4),
        agg AS (SELECT site, participant_id, metric,
                       count(*) AS row_count,
                       strftime(min(ets), '%Y-%m-%d') AS start_date,
                       strftime(max(ets), '%Y-%m-%d') AS end_date,
                       count(DISTINCT CAST(ets AS DATE)) AS day_count
                FROM src GROUP BY 1, 2, 3),
        f AS (SELECT site, participant_id, metric,
                     sum(nf)::BIGINT AS file_count,
                     strftime(max((DATE '1970-01-01' + (wk * 7)::INT)::TIMESTAMP +
                                  CASE WHEN nf = 2 THEN INTERVAL '1 minute'
                                       ELSE INTERVAL '0 minute' END),
                              '%Y-%m-%dT%H:%M:%S') AS last_file_ts
              FROM fc GROUP BY 1, 2, 3)
        SELECT a.site, a.participant_id, a.metric, a.row_count, a.start_date,
               a.end_date, a.day_count, f.file_count, f.last_file_ts
        FROM agg a JOIN f USING (site, participant_id, metric)
        ORDER BY 1, 2, 3"""),
      "S1-S4 + F1 + P1 + quirk 2.11.7 + A1-A3 end-to-end over a real csv.gz lake"),

    Q("q46_lake_substring_scan",
      lakeSubstringScan,
      Some("""
        WITH src AS (SELECT user_id, event_type AS metric,
                            (epoch_ns(ts) // 1000000000) AS t
                     FROM events
                     WHERE user_id IN (1, 4) AND ts IS NOT NULL),
        wk AS (SELECT metric, user_id, (t // 86400) // 7 AS w FROM src)
        SELECT metric, count(*) AS row_count,
               count(DISTINCT (user_id, w)) AS file_count
        FROM wk GROUP BY 1 ORDER BY 1"""),
      "scanLake (recursive glob + inference) + F2 substring include over the fixture lake"),

    Q("q56_merged_readback",
      mergedReadback,
      Some("""
        WITH src AS (SELECT 'site_' || (user_id % 3)::VARCHAR AS site,
                            'p' || user_id::VARCHAR AS participant_id,
                            event_type AS metric,
                            value::DOUBLE AS v
                     FROM events
                     WHERE user_id < 12 AND ts IS NOT NULL)
        SELECT site, participant_id, metric,
               count(*) AS row_count,
               round(sum(CASE WHEN site = 'site_1' AND participant_id = 'p1'
                               AND metric = 'click'
                              THEN v * 2 ELSE v END), 4) AS sum_value
        FROM src GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      "U2: writeMerged full + one-group incremental overwrite, merged read-back (merge-data.py:54-100)"),

    Q("q66_sidecar_read",
      (s, dir) => {
        val root = fixtureLake(s, dir)
        // S7 end-to-end: the read schema comes from the schema.json
        // sidecar NEXT TO the data (summary.py:152-166 displays it; we
        // apply it — the documented improvement over the reference),
        // so no inference pass and typed columns on read.
        val listed = PathModel.listFiles(s, root)
          .withColumn("path", plainPath(col("path")))
        val inv = PathModel.parsePaths(listed, root)
          .filter(col("participant_id") === "p1")
        // this collect is bounded by ONE participant's files (the
        // filter above), not the lake: per-directory sidecar schemas
        // genuinely need a per-dir plan, and the dir set is the unit
        val paths = inv.select("path").collect().map(_.getString(0)).toSeq.sorted
        // EACH metric directory is read under ITS OWN sidecar — the
        // per-directory-schema contract S7 demonstrates; the per-dir
        // scans union by name (plans, not data movement)
        paths.groupBy(_.replaceAll("/[^/]+$", ""))
          .toSeq.sortBy(_._1)
          .map { case (dirPath, dirFiles) =>
            Readers.csvGzWithSidecar(s, dirFiles, s"$dirPath/schema.json")
              .withColumn("path", plainPath(input_file_name()))
          }
          .reduce(_.unionByName(_))
          .withColumn("metric",
            regexp_extract(col("path"), "/raw/[^/]+/[^/]+/([^/]+)/", 1))
          .groupBy("metric")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            min("timestamp").as("min_ts")) // bigint via the sidecar type
          .orderBy("metric")
      },
      Some("""
        SELECT event_type AS metric,
               count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               min(epoch_ns(ts) // 1000000000) AS min_ts
        FROM events
        WHERE user_id = 1 AND ts IS NOT NULL
        GROUP BY 1 ORDER BY 1"""),
      "S7: sidecar schema fetched, materialized, applied on the csv.gz read (no inference)"),

    // ---------------------------------------------------------------
    // Z-order (Morton) clustering key — the multi-dimensional layout
    // key behind OPTIMIZE/ZORDER-style compaction (lake/Maintenance).
    // Statically-unrolled shift/mask/or tree, whole-stage codegen; the
    // oracle recomputes every bit with a DuckDB list comprehension, so
    // a green row pins all 32 interleave positions.
    // ---------------------------------------------------------------
    Q("q113_zorder_key",
      (s, dir) => {
        val ev = graft.Tables(s, dir, "events").filter(col("ts").isNotNull)
        ev.select(
            col("event_id"),
            col("user_id"),
            Maintenance.mortonKey(
              col("user_id").bitwiseAND(lit(65535L)),
              unix_seconds(col("ts").cast("timestamp")).bitwiseAND(lit(65535L)))
              .as("zkey"))
          .orderBy("zkey", "event_id")
          .limit(500)
      },
      Some("""
        SELECT event_id, user_id,
               (list_sum([((((user_id & 65535) >> i::INT) & 1) << (2*i+1)::INT)
                          + (((((epoch_ns(ts) // 1000000000) & 65535) >> i::INT) & 1)
                             << (2*i)::INT)
                          for i in range(0, 16)]))::BIGINT AS zkey
        FROM events WHERE ts IS NOT NULL
        ORDER BY zkey, event_id LIMIT 500"""),
      "Morton interleave of (user_id, second-of-epoch) — codegen'd bit tree == DuckDB bit-comprehension oracle"),

    // ---------------------------------------------------------------
    // Compaction round-trip: events rewritten as 4 z-clustered parquet
    // files (repartitionByRange on the Morton key + in-file sort, key
    // dropped from the data), then read back and aggregated. The
    // oracle reads the ORIGINAL table — a green row proves the rewrite
    // is lossless for every column type while the layout changes
    // underneath. Write is mtime-memoized like q88's ORC copy, so the
    // timed plan is read-back + aggregate, not the rewrite.
    // ---------------------------------------------------------------
    Q("q114_compaction_roundtrip",
      (s, dir) => {
        s.read.parquet(zCompactedEvents(s, dir))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            min(unix_seconds(col("ts").cast("timestamp"))).as("min_ts"),
            max(unix_seconds(col("ts").cast("timestamp"))).as("max_ts"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type,
               count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               min(epoch_ns(ts) // 1000000000) AS min_ts,
               max(epoch_ns(ts) // 1000000000) AS max_ts
        FROM events
        GROUP BY 1 ORDER BY 1"""),
      "z-clustered small-file compaction is lossless: read-back aggregate == original-table oracle"),

    // ---------------------------------------------------------------
    // Row-level MERGE INTO (copy-on-write upsert/delete) — a versioned
    // lake partitioned by event_type, one deterministic batch touching
    // TWO of the five partitions: UPDATE (id%10=0 doubles value),
    // DELETE (id%10=1), INSERT (id%100=2 re-inserted under a new id).
    // The oracle recomputes the post-merge state from the original
    // table with CASE/filter/union. The lake is seeded fresh per run
    // and the batch merges TWICE — a green row therefore also proves
    // replay idempotence (MergeIntoSpec pins it mechanically too).
    // ---------------------------------------------------------------
    Q("q115_merge_upsert",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val lakeDir = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_vmergeq_$tag/lake").getAbsolutePath
        val base = graft.Tables(s, dir, "events").select(MergeCols.map(col): _*)
        val batch = cdcPayload(base).head
        LakeQueries.synchronized {
          seedVersioned(s, lakeDir, base)
          (1 to 2).foreach(_ => Versioned.mergeInto(s, lakeDir, batch,
            partitionKeys = Seq("event_type"), rowKey = Seq("event_id")))
        }
        Versioned.snapshot(s, lakeDir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        WITH fin AS (
          SELECT event_type, event_id,
                 CASE WHEN event_type IN ('click','view') AND event_id % 10 = 0
                      THEN value * 2 ELSE value END AS value
          FROM events
          WHERE NOT (event_type IN ('click','view') AND event_id % 10 = 1)
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM events
          WHERE event_type IN ('click','view') AND event_id % 100 = 2)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM fin GROUP BY 1 ORDER BY 1"""),
      "COW MERGE INTO: update/delete/insert batch == CASE/filter/union oracle; only touched partitions rewrite"),

    // ---------------------------------------------------------------
    // File-level min/max skip index over the z-compacted layout: one
    // tiny index scan picks candidate files, the reader opens ONLY
    // those, a residual filter restores exactness. The oracle is the
    // plain full-scan filter — a green row proves pruning loses
    // nothing; SkipIndexSpec proves files actually get skipped.
    // ---------------------------------------------------------------
    Q("q116_skip_index_scan",
      (s, dir) => {
        val layout = zCompactedEvents(s, dir)
        val idx = SkipIndex.build(s.read.parquet(layout), Seq("user_id"))
        Versioned.prunedScan(s, layout, Seq(PruneRange("user_id", 100, 220)),
            Some(idx))
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE user_id BETWEEN 100 AND 220
        GROUP BY 1 ORDER BY 1"""),
      "min/max skip-index pruned read == full-scan filter oracle; z-layout makes the boxes tight"),

    // ---------------------------------------------------------------
    // The METADATA-ONLY index build: same pruned-read contract as
    // q116, but the index comes from parquet footer statistics — one
    // distributed footer read per file, zero data scanned at build
    // time (the 100 TB build path; q116's scan build is the
    // cross-check twin). Different predicate + a second dimension so
    // the two rows don't collapse into one another.
    // ---------------------------------------------------------------
    Q("q161_footer_skip_index",
      (s, dir) => {
        val layout = zCompactedEvents(s, dir)
        val idx = SkipIndex.buildFromFooters(s, layout, Seq("user_id", "value"))
        Versioned.prunedScan(s, layout,
            Seq(PruneRange("user_id", 2, 95), PruneRange("value", 0.0, 80.0)),
            Some(idx))
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE user_id BETWEEN 2 AND 95 AND value BETWEEN 0.0 AND 80.0
        GROUP BY 1 ORDER BY 1"""),
      "footer-statistics skip index (no data scanned at build) pruned read == full-scan filter oracle"),

    // ---------------------------------------------------------------
    // Per-file BLOOM index, the point-lookup complement to q116/q161's
    // zone maps: the z-layout clusters (user_id, ts), so event_id's
    // min/max boxes span near the full range in every file and range
    // pruning keeps everything — the bloom answers "can this key be in
    // this file?" instead. IN-list primary-key lookup through the
    // bloom-pruned read; the oracle is the plain full-scan IN filter,
    // so a green row proves pruning loses no rows (BloomIndexSpec
    // proves files actually get skipped).
    // ---------------------------------------------------------------
    Q("q163_bloom_index_lookup",
      (s, dir) => {
        val layout = zCompactedEvents(s, dir)
        val idx = BloomIndex.build(s, layout, Seq("event_id"),
          expectedPerFile = 100000L, fpp = 0.01)
        Versioned.prunedScan(s, layout,
            Seq(PruneIn("event_id", Seq(7L, 250L, 861L))), Some(idx))
          .select(col("event_id"), col("event_type"), col("user_id"),
            round(col("value"), 4).as("value_r"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, event_type, user_id,
               round(value::DOUBLE, 4) AS value_r
        FROM events WHERE event_id IN (7, 250, 861)
        ORDER BY event_id"""),
      "per-file bloom index point lookup == full-scan IN filter; zone maps can't prune an unclustered key"),

    // ---------------------------------------------------------------
    // Change-data-feed: the SAME deterministic batch as q115 (it is
    // cdcPayload's b0), but the output is the FEED — the increment the
    // CDF-enabled cdcFixture's first merge published with its commit
    // (v2), every applied change with its resolved _action. The oracle
    // derives each action class straight from the events table.
    // Aggregated per action: a green row pins the classification, the
    // counts, the carried values, and the delete-of-absent no-op
    // (absent keys never reach the feed).
    // ---------------------------------------------------------------
    Q("q119_change_feed",
      (s, dir) =>
        Versioned.changesBetween(s, cdcFixture(s, dir), 1L, 2L)
          .groupBy("_action")
          .agg(count(lit(1)).as("n"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("_action"),
      Some("""
        WITH feed AS (
          SELECT 'update_postimage' AS _action, event_id, value * 2 AS value
          FROM events WHERE event_type IN ('click','view') AND event_id % 10 = 0
          UNION ALL
          SELECT 'update_preimage', event_id, value
          FROM events WHERE event_type IN ('click','view') AND event_id % 10 = 0
          UNION ALL
          SELECT 'delete', event_id, value
          FROM events WHERE event_type IN ('click','view') AND event_id % 10 = 1
          UNION ALL
          SELECT 'insert', event_id + 10000000, value + 1
          FROM events WHERE event_type IN ('click','view') AND event_id % 100 = 2)
        SELECT _action, count(*) AS n,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM feed GROUP BY 1 ORDER BY 1"""),
      "Delta-CDF feed: insert/update_pre+postimage/delete rows (preimages = old base rows) == per-class oracle"),

    // ---------------------------------------------------------------
    // Incremental view maintenance closed end-to-end: a grouped
    // (sum, count) view of the PRE-merge lake is advanced by
    // feedDeltas over q119's change increment alone — never rescanning
    // the merged data — and must land exactly on the POST-merge state,
    // which the oracle recomputes from events (q115's CASE/union
    // form). Green row = preimage algebra (post − pre ± ins/del) is
    // exact, not approximately right.
    // ---------------------------------------------------------------
    Q("q120_incremental_view",
      (s, dir) => {
        val lake = cdcFixture(s, dir)
        val before = Versioned.snapshot(s, lake, 1L).groupBy("event_type")
          .agg(sum("value").as("s"), count(lit(1)).as("n"))
        val deltas = MergeData.feedDeltas(
          Versioned.changesBetween(s, lake, 1L, 2L), Seq("event_type"), "value")
        before.join(deltas, Seq("event_type"), "left")
          .select(col("event_type"),
            round(col("s") + coalesce(col("delta_sum"), lit(0.0)), 4)
              .as("sum_value"),
            (col("n") + coalesce(col("delta_count"), lit(0L))).as("row_count"))
          .orderBy("event_type")
      },
      Some("""
        WITH fin AS (
          SELECT event_type,
                 CASE WHEN event_type IN ('click','view') AND event_id % 10 = 0
                      THEN value * 2 ELSE value END AS value
          FROM events
          WHERE NOT (event_type IN ('click','view') AND event_id % 10 = 1)
          UNION ALL
          SELECT event_type, value + 1
          FROM events
          WHERE event_type IN ('click','view') AND event_id % 100 = 2)
        SELECT event_type,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(*) AS row_count
        FROM fin GROUP BY 1 ORDER BY 1"""),
      "pre-merge view + feedDeltas == post-merge recompute oracle; the view never rescans the lake"),

    // ---------------------------------------------------------------
    // Multi-batch CDC replication closed end-to-end: the shared
    // 3-batch CDF-enabled cdcFixture (memoized per testdata mtime — the
    // log is deterministic in the source data, so one build IS every
    // run's log); a replica bootstrapped FRESH each run from the
    // pre-merge snapshot replays the feed with applyTableChanges —
    // versions 2-3 (batches 0-1) in one bounded pass (untilV = the
    // published watermark), then v4 (batch 2) ALONE from the returned
    // high-water mark (the log-consumer contract a real CDC pipeline
    // depends on). The
    // replica aggregate must land exactly on the primary's
    // post-3-batch state, which the oracle recomputes from events with
    // CASE/filter/union. Cross-batch sequencing is exercised for real:
    // batch 1 updates rows batch 0 inserted, batch 2 deletes rows
    // batch 0 updated.
    // ---------------------------------------------------------------
    Q("q121_cdf_replication",
      (s, dir) => {
        val lake = cdcFixture(s, dir)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val replica = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_cdcvrep_$tag/replica").getAbsolutePath
        val base = graft.Tables(s, dir, "events").select(MergeCols.map(col): _*)
        val pk = Seq("event_type")
        LakeQueries.synchronized {
          seedVersioned(s, replica, base)
          // catch-up to the watermark as of "before batch 2"...
          val hw = Versioned.applyTableChanges(s, lake, replica, pk,
            sinceV = 1L, untilV = 3L)
          // ...then apply ONLY batch 2 from the high-water mark
          Versioned.applyTableChanges(s, lake, replica, pk, sinceV = hw)
        }
        Versioned.snapshot(s, replica)
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        fin AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 4 THEN value + 100
                      WHEN event_id % 10 = 6 THEN value - 1
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (0, 1, 5)
          UNION ALL
          SELECT event_type, event_id, value FROM events
          WHERE event_type NOT IN ('click','view')
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2
          UNION ALL
          SELECT event_type, event_id + 20000000, value + 10
          FROM t WHERE event_id % 100 = 7)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM fin GROUP BY 1 ORDER BY 1"""),
      "3-batch CDC replication: snapshot bootstrap + feed replay (bounded pass, then the high-water increment) == direct-merge oracle"),

    // ---------------------------------------------------------------
    // Schema evolution under MERGE INTO (Delta mergeSchema semantics):
    // the batch carries a NEW column `src` absent from the base lake —
    // updated/inserted rows get its value, surviving rows and untouched
    // partitions null-fill it in the evolved snapshot. The versioned
    // lake is seeded fresh per run. The oracle recomputes the evolved
    // table from events with the new column as a CASE.
    // ---------------------------------------------------------------
    Q("q122_merge_schema_evolution",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val lakeDir = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_vmergevo_$tag/lake").getAbsolutePath
        val base = graft.Tables(s, dir, "events").select(MergeCols.map(col): _*)
        val batch = cdcPayload(base).head.withColumn("src", lit("cdc"))
        LakeQueries.synchronized {
          seedVersioned(s, lakeDir, base)
          Versioned.mergeInto(s, lakeDir, batch,
            partitionKeys = Seq("event_type"), rowKey = Seq("event_id"))
        }
        Versioned.snapshot(s, lakeDir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count(col("src")).as("n_src"))
          .orderBy("event_type")
      },
      Some("""
        WITH fin AS (
          SELECT event_type,
                 CASE WHEN event_type IN ('click','view') AND event_id % 10 = 0
                      THEN value * 2 ELSE value END AS value,
                 CASE WHEN event_type IN ('click','view') AND event_id % 10 = 0
                      THEN 'cdc' END AS src
          FROM events
          WHERE NOT (event_type IN ('click','view') AND event_id % 10 = 1)
          UNION ALL
          SELECT event_type, value + 1, 'cdc'
          FROM events
          WHERE event_type IN ('click','view') AND event_id % 100 = 2)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(src) AS n_src
        FROM fin GROUP BY 1 ORDER BY 1"""),
      "mergeSchema evolution: batch-added column lands on touched rows, null-fills survivors and untouched partitions"),

    // ---------------------------------------------------------------
    // Snapshot isolation + time travel on the manifest-committed lake
    // (lake/Versioned): v0 = the pre-merge table, a versioned MERGE
    // INTO commits v1 by manifest rename (data files are immutable;
    // the q115 batch shape supplies update/delete/insert). The query
    // reads BOTH versions after the merge landed — v0 must still be
    // exactly the pre-merge table (time travel / the state any reader
    // holding v0 sees during the commit), v1 the post-merge state the
    // oracle recomputes. Lake is rebuilt fresh each run: version
    // numbers are part of the output.
    // ---------------------------------------------------------------
    Q("q123_time_travel",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val lakeDir = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_ttq_${tag}_$stamp/lake").getAbsolutePath
        val base = graft.Tables(s, dir, "events").select(MergeCols.map(col): _*)
        val batch = cdcPayload(base).head
        LakeQueries.synchronized {
          seedVersioned(s, lakeDir, base)
          Versioned.mergeInto(s, lakeDir, batch,
            partitionKeys = Seq("event_type"), rowKey = Seq("event_id"))
        }
        def agg(version: Long) =
          Versioned.snapshot(s, lakeDir, version)
            .groupBy("event_type")
            .agg(count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"))
            .withColumn("version", lit(version))
        agg(0L).unionByName(agg(1L))
          .select("version", "event_type", "row_count", "sum_value")
          .orderBy("version", "event_type")
      },
      Some("""
        WITH fin AS (
          SELECT event_type,
                 CASE WHEN event_type IN ('click','view') AND event_id % 10 = 0
                      THEN value * 2 ELSE value END AS value
          FROM events
          WHERE NOT (event_type IN ('click','view') AND event_id % 10 = 1)
          UNION ALL
          SELECT event_type, value + 1
          FROM events
          WHERE event_type IN ('click','view') AND event_id % 100 = 2)
        SELECT 0::BIGINT AS version, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM events GROUP BY 2
        UNION ALL
        SELECT 1::BIGINT, event_type, count(*),
               round(sum(value::DOUBLE), 4)
        FROM fin GROUP BY 2
        ORDER BY 1, 2"""),
      "manifest-committed lake: v0 read AFTER the v1 commit == pre-merge table (snapshot isolation / time travel); v1 == direct-merge oracle"),

    // ---------------------------------------------------------------
    // Skip-index maintenance across a COW merge: the index is built
    // over v0 of a versioned lake seeded fresh per run (and pinned as
    // a local relation — a lazy plan could never go stale), the q115
    // merge batch rewrites two partitions in v1, then refreshForFiles
    // rebuilds ONLY those partitions' entries from v1's live files.
    // The pruned read over the refreshed index must equal the full
    // post-merge scan + filter, which the oracle recomputes; the
    // pruned read validates the index against v1's manifest before
    // trusting it.
    // ---------------------------------------------------------------
    Q("q125_skip_index_merge_refresh",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val lakeDir = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_vskipm_$tag/lake").getAbsolutePath
        val base = graft.Tables(s, dir, "events").select(MergeCols.map(col): _*)
        val batch = cdcPayload(base).head
        val (refreshed, v) = LakeQueries.synchronized {
          seedVersioned(s, lakeDir, base)
          val built = SkipIndex.build(Versioned.snapshot(s, lakeDir, 0L),
            Seq("user_id"))
          val idx0 = s.createDataFrame(
            java.util.Arrays.asList(built.collect(): _*), built.schema)
          val v = Versioned.mergeInto(s, lakeDir, batch,
            partitionKeys = Seq("event_type"), rowKey = Seq("event_id"))
          (SkipIndex.refreshForFiles(s, lakeDir, idx0, Seq("user_id"),
            Seq("event_type=click", "event_type=view"),
            Versioned.filesAt(s, lakeDir, v).map(f => s"$lakeDir/$f")), v)
        }
        Versioned.prunedScan(s, lakeDir, Seq(PruneRange("user_id", 100, 220)),
            Some(refreshed), v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""
        WITH fin AS (
          SELECT event_type, user_id,
                 CASE WHEN event_type IN ('click','view') AND event_id % 10 = 0
                      THEN value * 2 ELSE value END AS value
          FROM events
          WHERE NOT (event_type IN ('click','view') AND event_id % 10 = 1)
          UNION ALL
          SELECT event_type, user_id, value + 1
          FROM events
          WHERE event_type IN ('click','view') AND event_id % 100 = 2)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM fin WHERE user_id BETWEEN 100 AND 220
        GROUP BY 1 ORDER BY 1"""),
      "skip index incrementally refreshed across a COW merge: pruned read == post-merge full-scan oracle; staleness guard validates"),

    // ---------------------------------------------------------------
    // Versioned-lake maintenance end-to-end: a deliberately fragmented
    // base (4 files per partition), a versioned MERGE INTO (v1), then
    // manifest OPTIMIZE (v2) compacting the partitions the merge did
    // not already rewrite. The v2 snapshot must equal the post-merge
    // recompute — optimize is a pure layout change committed through
    // the same manifest protocol, and the fragmented v0/v1 layouts
    // stay time-travelable (VersionedSpec pins file counts; the oracle
    // pins the rows).
    // ---------------------------------------------------------------
    Q("q126_versioned_optimize",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val lakeDir = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_voptq_${tag}_$stamp/lake").getAbsolutePath
        val cols = Seq("event_id", "user_id", "value", "event_type")
        def base = graft.Tables(s, dir, "events").select(cols.map(col): _*)
        val touched = base.filter(col("event_type").isin("click", "view"))
        val batch =
          touched.filter(col("event_id") % 10 === 0)
            .withColumn("value", col("value") * 2)
            .withColumn("__delete", lit(false))
          .unionByName(
            touched.filter(col("event_id") % 10 === 1)
              .withColumn("__delete", lit(true)))
          .unionByName(
            touched.filter(col("event_id") % 100 === 2)
              .withColumn("event_id", col("event_id") + lit(10000000L))
              .withColumn("value", col("value") + 1)
              .withColumn("__delete", lit(false)))
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(lakeDir)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(lakeDir), true)
          base.repartition(4) // fragmented on purpose: 4 files/partition
            .write.partitionBy("event_type").parquet(lakeDir)
          Versioned.init(s, lakeDir)
          Versioned.mergeInto(s, lakeDir, batch,
            partitionKeys = Seq("event_type"), rowKey = Seq("event_id"))
          Versioned.optimize(s, lakeDir, Seq("event_type"))
        }
        Versioned.snapshot(s, lakeDir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        WITH fin AS (
          SELECT event_type, event_id,
                 CASE WHEN event_type IN ('click','view') AND event_id % 10 = 0
                      THEN value * 2 ELSE value END AS value
          FROM events
          WHERE NOT (event_type IN ('click','view') AND event_id % 10 = 1)
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM events
          WHERE event_type IN ('click','view') AND event_id % 100 = 2)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM fin GROUP BY 1 ORDER BY 1"""),
      "versioned merge + manifest OPTIMIZE: compacted snapshot == post-merge oracle (layout changed, rows identical)"),

    // ---------------------------------------------------------------
    // SCD Type 2 (Kimball slowly-changing dimension) DERIVED FROM THE
    // CHANGE FEED: the q121 three-batch merge sequence publishes its
    // CDF increments, and the full validity history is reconstructed
    // from snapshot + feed alone — never rescanning the lake. Opens =
    // base rows (valid_from −1) ∪ insert/postimage rows (valid_from =
    // _commit_version); an open's valid_to = the key's earliest close
    // (preimage/delete) in a LATER commit — one equi-join on the key +
    // a min, which also handles delete-then-reinsert correctly. The
    // oracle recomputes version counts from the batch formulas and the
    // open set from q121's direct-merge CASE/union; agreement proves
    // interval closure is exact (open set == final table, closed =
    // every superseded version).
    // ---------------------------------------------------------------
    Q("q139_scd2_history",
      (s, dir) => {
        // the shared memoized cdcFixture IS the (snapshot, log) pair;
        // the history derivation below reads ONLY snapshot + feed —
        // zero lake mutations per run
        val lake = cdcFixture(s, dir)
        val base = Versioned.snapshot(s, lake, 1L)
        val feed = Versioned.changesBetween(s, lake, 1L, 4L)
        val opens = base.select("event_id", "event_type", "value")
          .withColumn("valid_from", lit(-1L))
          .unionByName(
            feed.filter(col("_action").isin("insert", "update_postimage"))
              .select(col("event_id"), col("event_type"), col("value"),
                col("_commit_version").as("valid_from")))
        val closes = feed
          .filter(col("_action").isin("update_preimage", "delete"))
          .select(col("event_id"), col("_commit_version").as("__cb"))
        val scd = opens.join(closes, Seq("event_id"), "left")
          .withColumn("__cb2",
            when(col("__cb") > col("valid_from"), col("__cb")))
          .groupBy("event_id", "event_type", "value", "valid_from")
          .agg(min("__cb2").as("valid_to"))
        scd.groupBy("event_type")
          .agg(count(lit(1)).as("n_versions"),
            count(when(col("valid_to").isNull, 1)).as("n_open"),
            count(when(col("valid_to").isNotNull, 1)).as("n_closed"),
            round(sum(when(col("valid_to").isNull, col("value"))), 4)
              .as("sum_open_value"),
            count_distinct(when(col("valid_to").isNull, col("event_id")))
              .as("n_open_ids"))
          .orderBy("event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        vers AS (
          SELECT event_type FROM events
          UNION ALL SELECT event_type FROM t WHERE event_id % 10 = 0
          UNION ALL SELECT event_type FROM t WHERE event_id % 100 = 2
          UNION ALL SELECT event_type FROM t WHERE event_id % 10 = 4
          UNION ALL SELECT event_type FROM t WHERE event_id % 100 = 2
          UNION ALL SELECT event_type FROM t WHERE event_id % 10 = 6
          UNION ALL SELECT event_type FROM t WHERE event_id % 100 = 7),
        vc AS (SELECT event_type, count(*) AS n_versions FROM vers GROUP BY 1),
        fin AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 4 THEN value + 100
                      WHEN event_id % 10 = 6 THEN value - 1
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (0, 1, 5)
          UNION ALL
          SELECT event_type, event_id, value FROM events
          WHERE event_type NOT IN ('click','view')
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2
          UNION ALL
          SELECT event_type, event_id + 20000000, value + 10
          FROM t WHERE event_id % 100 = 7)
        SELECT event_type, n_versions,
               count(*) AS n_open,
               n_versions - count(*) AS n_closed,
               round(sum(value::DOUBLE), 4) AS sum_open_value,
               count(DISTINCT event_id) AS n_open_ids
        FROM fin JOIN vc USING (event_type)
        GROUP BY 1, 2 ORDER BY 1"""),
      "SCD2 validity intervals from snapshot + change feed alone: open set == final table, closed = superseded versions"),

    // ---------------------------------------------------------------
    // Merkle-style diff of two VERSIONED SNAPSHOTS (TableDiff over
    // Versioned.snapshot v0 vs v1): per-partition xor-of-row-hash
    // fingerprints find what drifted (a partition-count-sized
    // aggregate), then a row join scoped to the differing partitions
    // classifies added/removed/changed — no change feed needed, no
    // full-table row join. The lake is rebuilt and merged fresh every
    // run; the oracle derives the same classes from the batch's id
    // formulas.
    // ---------------------------------------------------------------
    Q("q152_versioned_diff",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val lakeDir = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_diffq_$tag/lake").getAbsolutePath
        // two event types: same mechanics, 40% of the rebuild cost
        val ev = graft.Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            round(col("value") * 10000).cast("long").as("vt"))
        val batch =
          ev.filter(col("event_id") % 20 === 1)
            .withColumn("vt", col("vt") * 2)
            .withColumn("__delete", lit(false))
          .unionByName(
            ev.filter(col("event_id") % 20 === 2)
              .withColumn("__delete", lit(true)))
          .unionByName(
            ev.filter(col("event_id") % 4 === 0)
              .withColumn("__delete", lit(false)))
        val v1 = LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(lakeDir)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(lakeDir), true)
          ev.filter(col("event_id") % 4 =!= 0)
            .write.partitionBy("event_type").parquet(lakeDir)
          Versioned.init(s, lakeDir)
          Versioned.mergeInto(s, lakeDir, batch,
            partitionKeys = Seq("event_type"), rowKey = Seq("event_id"))
        }
        graft.lake.TableDiff.diff(
            Versioned.snapshot(s, lakeDir, 0),
            Versioned.snapshot(s, lakeDir, v1),
            partitionKeys = Seq("event_type"), rowKey = Seq("event_id"))
          .groupBy("event_type", "change")
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type", "change")
      },
      Some("""
        WITH e AS (SELECT event_type, event_id FROM events
                   WHERE event_type IN ('click', 'view'))
        SELECT event_type, 'added' AS change, count(*) AS n
        FROM e WHERE event_id % 4 = 0 GROUP BY 1
        UNION ALL
        SELECT event_type, 'changed', count(*)
        FROM e WHERE event_id % 20 = 1 GROUP BY 1
        UNION ALL
        SELECT event_type, 'removed', count(*)
        FROM e WHERE event_id % 20 = 2 GROUP BY 1
        ORDER BY 1, 2"""),
      "snapshot diff without a feed: partition fingerprints -> scoped row join; classes match the merge batch formulas"),

    // ---------------------------------------------------------------
    // Snapshot isolation AND CDC on ONE write path: the q121 3-batch
    // sequence committed through Versioned.mergeInto on the CDF-enabled
    // cdcFixture — each manifest commit also publishes its CDF
    // increment. The query reads (a) a TIME-TRAVEL aggregate of the
    // click/view slice after every batch (v2/v3/v4, labelled v1..v3 by
    // batch), each oracled against that batch prefix's recomputed
    // state, and (b) a click/view replica bootstrapped fresh from the
    // pre-merge base and converged by replicating the feed (bounded
    // catch-up through batch 1, then the high-water increment) — which
    // must equal the last batch's state. A green row therefore pins
    // that the published increments replay to exactly the committed
    // state AND that every historical version stays readable
    // underneath the CDC stream.
    // ---------------------------------------------------------------
    Q("q165_versioned_cdf_replication",
      (s, dir) => {
        val lake = cdcFixture(s, dir)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val replica = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_vcdcvrep_$tag/replica").getAbsolutePath
        val cv = col("event_type").isin("click", "view")
        val pk = Seq("event_type")
        LakeQueries.synchronized {
          seedVersioned(s, replica, Versioned.snapshot(s, lake, 1L).filter(cv))
          val hw = Versioned.applyTableChanges(s, lake, replica, pk,
            sinceV = 1L, untilV = 3L)
          Versioned.applyTableChanges(s, lake, replica, pk, sinceV = hw)
        }
        def agg(d: DataFrame, tag: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag))
        agg(Versioned.snapshot(s, lake, 2L).filter(cv), "v1")
          .unionByName(agg(Versioned.snapshot(s, lake, 3L).filter(cv), "v2"))
          .unionByName(agg(Versioned.snapshot(s, lake, 4L).filter(cv), "v3"))
          .unionByName(agg(Versioned.snapshot(s, replica), "replica"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        st2 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2
                      WHEN event_id % 10 = 4 THEN value + 100
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2),
        st3 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 4 THEN value + 100
                      WHEN event_id % 10 = 6 THEN value - 1
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (0, 1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2
          UNION ALL
          SELECT event_type, event_id + 20000000, value + 10
          FROM t WHERE event_id % 100 = 7)
        SELECT 'v1' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM st1 GROUP BY 2
        UNION ALL
        SELECT 'v2', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st2 GROUP BY 2
        UNION ALL
        SELECT 'v3', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st3 GROUP BY 2
        UNION ALL
        SELECT 'replica', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st3 GROUP BY 2
        ORDER BY 1, 2"""),
      "manifest-committed CDC: time travel at every batch version + feed-replayed replica == per-prefix recompute oracle"),

    // ---------------------------------------------------------------
    // OPTIMIZE ZORDER BY under the manifest (Delta's composition):
    // fragmented v0 -> merge v1 -> z-order re-cluster v2, then a
    // footer-built skip index over v2's manifest serves a 2-predicate
    // pruned read that must equal the full-scan filter — and the
    // PRE-optimize v1 must still read identically through time travel
    // (both legs share one oracle because optimize is layout-only).
    // VersionedSpec pins that the clustering actually prunes files;
    // this row pins that it loses nothing, at 3 SFs.
    // ---------------------------------------------------------------
    Q("q166_versioned_zorder_scan",
      (s, dir) => {
        val lake = versionedZLake(s, dir)
        val live = Versioned.filesAt(s, lake).map(f => s"$lake/$f")
        val idx = SkipIndex.buildFromFooterFiles(s, live, Seq("user_id", "value"))
        def agg(d: DataFrame, tag: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("user_id")).as("n_users"))
            .withColumn("src", lit(tag))
        val pruned = agg(Versioned.prunedScan(s, lake,
          Seq(PruneRange("user_id", 2.0, 95.0), PruneRange("value", 0.0, 80.0)),
          Some(idx)), "pruned_v2")
        val travel = agg(Versioned.snapshot(s, lake, 1L)
          .filter(col("user_id").between(2, 95) &&
            col("value").between(0.0, 80.0)), "travel_v1")
        pruned.unionByName(travel)
          .select("src", "event_type", "row_count", "sum_value", "n_users")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH e AS (SELECT event_type, event_id, user_id, value FROM events
                   WHERE event_type IN ('click','view')),
        stm AS (
          SELECT event_type, event_id, user_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM e WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, user_id, value + 1
          FROM e WHERE event_id % 100 = 2),
        f AS (SELECT * FROM stm
              WHERE user_id BETWEEN 2 AND 95 AND value BETWEEN 0.0 AND 80.0)
        SELECT 'pruned_v2' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM f GROUP BY 2
        UNION ALL
        SELECT 'travel_v1', event_type, count(*),
               round(sum(value::DOUBLE), 4), count(DISTINCT user_id)
        FROM f GROUP BY 2
        ORDER BY 1, 2"""),
      "manifest OPTIMIZE ZORDER: footer-indexed pruned read of v2 == pre-optimize v1 time travel == full-scan oracle"),

    // ---------------------------------------------------------------
    // Versioned bloom index: point lookups ride the manifest. The v1
    // index (built from v1's manifest files) keeps serving v1 AFTER
    // the v2 zorder commit landed — the directory now holds three
    // layouts' files, and only manifest validation makes the lookup
    // sound. refreshForFiles then advances the index across the v2
    // commit (drop touched dirs' entries, rebuild from the manifest's
    // live files) for a latest-version lookup. One oracle serves both
    // (optimize is layout-only); distinct probe sets keep the rows
    // from collapsing. Probes deliberately include a deleted key
    // (861 when %10=1) — absent from both sides.
    // ---------------------------------------------------------------
    Q("q167_versioned_bloom_lookup",
      (s, dir) => {
        val lake = versionedZLake(s, dir)
        def live(v: Long) = Versioned.filesAt(s, lake, v).map(f => s"$lake/$f")
        val idx1 = BloomIndex.buildForFiles(s, lake, live(1L),
          Seq("event_id"), expectedPerFile = 100000L, fpp = 0.01)
        // probes picked to hit at every sf (ids' event_type is not
        // stable across testdata scales): 59/86/117 survive, 40 is a
        // b0-updated key (value*2), 861 is deleted (%10=1) — a
        // must-be-absent negative probe
        val r1 = Versioned.prunedScan(s, lake,
          Seq(PruneIn("event_id", Seq(59L, 86L, 117L, 40L, 861L))),
          Some(idx1), 1L)
        val idx2 = BloomIndex.refreshForFiles(s, lake, idx1, Seq("event_id"),
          expectedPerFile = 100000L, fpp = 0.01,
          touchedDirs = Seq("event_type=click", "event_type=view"),
          liveFiles = live(2L))
        // 139/182 survive, 330 is updated; the 1000040x trio are
        // b0-inserted keys — at least one exists at each sf
        val r2 = Versioned.prunedScan(s, lake,
          Seq(PruneIn("event_id", Seq(139L, 182L, 330L,
            10000402L, 10000002L, 10000302L))), Some(idx2))
        def sel(d: DataFrame, tag: String) = d.select(
          lit(tag).as("src"), col("event_id"), col("event_type"),
          col("user_id"), round(col("value"), 4).as("value_r"))
        sel(r1, "v1").unionByName(sel(r2, "v2"))
          .orderBy("src", "event_id")
      },
      Some("""
        WITH e AS (SELECT event_type, event_id, user_id, value FROM events
                   WHERE event_type IN ('click','view')),
        stm AS (
          SELECT event_type, event_id, user_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM e WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, user_id, value + 1
          FROM e WHERE event_id % 100 = 2)
        SELECT 'v1' AS src, event_id, event_type, user_id,
               round(value::DOUBLE, 4) AS value_r
        FROM stm WHERE event_id IN (59, 86, 117, 40, 861)
        UNION ALL
        SELECT 'v2', event_id, event_type, user_id, round(value::DOUBLE, 4)
        FROM stm WHERE event_id IN (139, 182, 330, 10000402, 10000002, 10000302)
        ORDER BY 1, 2"""),
      "manifest-validated bloom lookups: v1 index time-travels after the v2 commit; refreshForFiles serves latest"),

    // ---------------------------------------------------------------
    // MERGE-ON-READ equality deletes (Iceberg equality-delete files /
    // Hudi MOR tombstones, on the manifest protocol): v1 commits ONLY
    // the matching keys — zero data files rewritten, the O(keys)
    // 100 TB deletion path — and the snapshot hides the rows via one
    // anti-join; v2 materializes (compacts) the tombstones into the
    // affected partitions. All three reads share two oracle states:
    // v0 = the full table, v1 (merge-on-read) == v2 (materialized) =
    // the filtered table — a green row pins that the tombstone
    // anti-join and the compaction rewrite delete EXACTLY the same
    // rows the predicate names, and that pre-delete time travel
    // survives both commits. VersionedSpec pins the interplay rules
    // (merge materializes conflicts in-commit, zorder optimize
    // compacts, pruned reads apply tombstones on top) and the
    // partition-scoped rewrite.
    // ---------------------------------------------------------------
    Q("q168_mor_delete",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_morlake_${tag}_$stamp")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          if (!new File(root, "_SUCCESS").exists()) {
            val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
            val base = graft.Tables(s, dir, "events")
              .select(MergeCols.map(col): _*)
              .filter(col("event_type").isin("click", "view"))
            MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
            Versioned.init(s, lake)
            Versioned.deleteWhere(s, lake, col("user_id") % 7 === 3,
              keyCols = Seq("event_id"))
            Versioned.materializeDeletes(s, lake, Seq("event_type"))
            new File(root, "_SUCCESS").createNewFile()
          }
        }
        def agg(v: Long, tag2: String) =
          Versioned.snapshot(s, lake, v)
            .groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag2))
        agg(0L, "v0_full").unionByName(agg(1L, "v1_mor"))
          .unionByName(agg(2L, "v2_materialized"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH e AS (SELECT event_type, event_id, user_id, value FROM events
                   WHERE event_type IN ('click','view')),
        kept AS (SELECT * FROM e WHERE user_id % 7 <> 3)
        SELECT 'v0_full' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM e GROUP BY 2
        UNION ALL
        SELECT 'v1_mor', event_type, count(*),
               round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
        FROM kept GROUP BY 2
        UNION ALL
        SELECT 'v2_materialized', event_type, count(*),
               round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
        FROM kept GROUP BY 2
        ORDER BY 1, 2"""),
      "merge-on-read equality delete: tombstoned snapshot == materialized rewrite == filter oracle; pre-delete time travel intact"),

    // ---------------------------------------------------------------
    // Metadata-only COUNT(*): fastRowCount sums parquet footer record
    // counts over each version's manifest files — zero data rows
    // scanned, at ANY version (the shared z-lake's three layouts:
    // fragmented v0, merged v1, z-ordered v2). The oracle recomputes
    // each version's cardinality from the batch formulas; a green row
    // pins that manifests + footers alone answer the most common
    // query at listing cost, across rewrites that changed the file
    // layout twice.
    // ---------------------------------------------------------------
    Q("q169_fast_count",
      (s, dir) => {
        val lake = versionedZLake(s, dir)
        import s.implicits._
        (0L to 2L).map(v => (v, Versioned.fastRowCount(s, lake, v)))
          .toDF("version", "row_count")
          .orderBy("version")
      },
      Some("""
        WITH e AS (SELECT event_id FROM events
                   WHERE event_type IN ('click','view')),
        stm AS (
          SELECT event_id FROM e WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_id + 10000000 FROM e WHERE event_id % 100 = 2)
        SELECT 0::BIGINT AS version, (SELECT count(*) FROM e) AS row_count
        UNION ALL
        SELECT 1::BIGINT, (SELECT count(*) FROM stm)
        UNION ALL
        SELECT 2::BIGINT, (SELECT count(*) FROM stm)
        ORDER BY 1"""),
      "metadata-only COUNT(*) from manifest + parquet footers == per-version cardinality oracle; zero data rows scanned"),

    // ---------------------------------------------------------------
    // CDC across a MERGE-ON-READ delete: the tombstone commit also
    // publishes its deleted rows as a feed increment, so a replica
    // that replays the feed converges even though the primary's
    // delete never rewrote a data file. Primary = CDF-enabled
    // versioned lake with one deleteWhere (memoized; v0 init, v1
    // enable-cdf, v2 delete); replica = fresh versioned lake +
    // applyTableChanges per run. Both aggregates must equal the
    // same filter oracle — and the primary leg reads the TOMBSTONED
    // (un-materialized) snapshot, so the anti-join read path and the
    // feed-replayed COW merge are pinned equal through one oracle.
    // ---------------------------------------------------------------
    Q("q170_mor_delete_replication",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_morcdf_${tag}_$stamp")
        val lake = new File(root, "lake").getAbsolutePath
        def baseCV = graft.Tables(s, dir, "events")
          .select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view"))
        LakeQueries.synchronized {
          if (!new File(root, "_SUCCESS").exists()) {
            val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
            MergeData.writeMerged(s, baseCV, lake, keys = Seq("event_type"))
            Versioned.init(s, lake)
            Versioned.enableChangeFeed(s, lake, Seq("event_id"))
            Versioned.deleteWhere(s, lake, col("user_id") % 5 === 2,
              keyCols = Seq("event_id"))
            new File(root, "_SUCCESS").createNewFile()
          }
        }
        val replica = new File(new File(sys.props("user.dir"), "target"),
          s"graft_morcdf_vrep_$tag/replica").getAbsolutePath
        LakeQueries.synchronized {
          seedVersioned(s, replica, baseCV)
          Versioned.applyTableChanges(s, lake, replica, Seq("event_type"),
            sinceV = 1L)
        }
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(src))
        agg(Versioned.snapshot(s, lake), "primary_mor")
          .unionByName(agg(Versioned.snapshot(s, replica), "replica"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH kept AS (SELECT event_type, event_id, value FROM events
                      WHERE event_type IN ('click','view')
                        AND user_id % 5 <> 2)
        SELECT 'primary_mor' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM kept GROUP BY 2
        UNION ALL
        SELECT 'replica', event_type, count(*),
               round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
        FROM kept GROUP BY 2
        ORDER BY 1, 2"""),
      "MOR delete CDF: tombstoned primary snapshot == feed-replayed COW replica == filter oracle"),

    // ---------------------------------------------------------------
    // STREAMING change-feed source (Delta's readChangeFeed streaming
    // mode): readStream.format("graft") with readChanges over the
    // CDF-enabled cdcFixture, seeded at the enable version and capped
    // at one commit per micro-batch, drives a fresh VERSIONED replica
    // to convergence inside the query — Trigger.AvailableNow
    // terminates, then the replica's aggregate must equal the full
    // 3-batch recompute oracle (q165's st3). The replica applies each
    // increment through the manifest merge core with a (txnId,
    // micro-batch id) marker, so its version count is pinned too:
    // exactly init + one commit per merge increment. The REPLICA is
    // rebuilt fresh per run (replication must be a pure function of
    // (snapshot, log)); the primary is the memoized fixture.
    // ---------------------------------------------------------------
    Q("q171_streaming_replica",
      (s, dir) => {
        val lake = cdcFixture(s, dir)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_streplq_$tag")
        val replica = new File(root, "replica").getAbsolutePath
        val ckpt = new File(root, "ckpt").getAbsolutePath
        val baseCV = graft.Tables(s, dir, "events")
          .select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view"))
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          seedVersioned(s, replica, baseCV)
          s.readStream.format("graft")
            .option("readChanges", "true")
            .option("startingVersion", "1")
            .option("maxVersionsPerTrigger", "1")
            .load(lake)
            .writeStream
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (d: DataFrame, bid: Long) =>
              val b = d.filter(col("_action") =!= "update_preimage")
                .withColumn("__delete", col("_action") === "delete")
                .drop("_action", "_commit_version")
              if (!b.isEmpty)
                Versioned.mergeInto(s, replica, b, Seq("event_type"),
                  Seq("event_id"), txn = Some(("q171_follow", bid)))
              ()
            }
            .start().awaitTermination()
        }
        require(Versioned.currentVersion(s, replica) == 3L,
          "streamed replica must commit exactly one version per merge increment")
        Versioned.snapshot(s, replica)
          .groupBy("event_type").agg(
            count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("event_id")).as("n_ids"))
          .select("event_type", "row_count", "sum_value", "n_ids")
          .orderBy("event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st3 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 4 THEN value + 100
                      WHEN event_id % 10 = 6 THEN value - 1
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (0, 1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2
          UNION ALL
          SELECT event_type, event_id + 20000000, value + 10
          FROM t WHERE event_id % 100 = 7)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM st3 GROUP BY 1
        ORDER BY 1"""),
      "streaming CDF source: readChanges-stream-driven versioned replica converges to the 3-batch recompute oracle"),

    // ---------------------------------------------------------------
    // TIMESTAMP AS OF time travel: the versioned fixture commits with
    // PINNED timestamps (v0=1000, v1=2000, v2=3000, v3=4000), and each
    // leg resolves a timestamp — mid-interval, exact-boundary, and
    // far-future — through versionAsOf/snapshotAsOf. Every resolved
    // snapshot must equal its batch prefix's recompute oracle, so both
    // the timestamp->version resolution AND the resolved read are
    // oracle-gated at 3 SFs.
    // ---------------------------------------------------------------
    Q("q172_timestamp_travel",
      (s, dir) => {
        val vlake = versionedCdcFixture(s, dir)
        require(Versioned.versionAsOf(s, vlake, 1500L) == 0L)
        require(Versioned.versionAsOf(s, vlake, 2000L) == 1L)
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(src))
        agg(Versioned.snapshotAsOf(s, vlake, 2500L), "asof_v1")
          .unionByName(agg(Versioned.snapshotAsOf(s, vlake, 3000L), "asof_v2"))
          .unionByName(agg(Versioned.snapshotAsOf(s, vlake, 999999L), "asof_v3"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        st2 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2
                      WHEN event_id % 10 = 4 THEN value + 100
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2),
        st3 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 4 THEN value + 100
                      WHEN event_id % 10 = 6 THEN value - 1
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (0, 1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2
          UNION ALL
          SELECT event_type, event_id + 20000000, value + 10
          FROM t WHERE event_id % 100 = 7)
        SELECT 'asof_v1' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM st1 GROUP BY 2
        UNION ALL
        SELECT 'asof_v2', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st2 GROUP BY 2
        UNION ALL
        SELECT 'asof_v3', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st3 GROUP BY 2
        ORDER BY 1, 2"""),
      "TIMESTAMP AS OF: pinned-commit-ts fixture; mid/boundary/future timestamps resolve to per-prefix recompute oracles"),

    // ---------------------------------------------------------------
    // MOR deletes × OPTIMIZE ZORDER × skip index, composed: v1
    // equality-deletes by key (zero data files rewritten), v2's ZORDER
    // re-cluster COMPACTS the tombstones as part of the same commit
    // (the re-cluster rewrites every partition anyway, so the deletes
    // materialize for free and the #del lines drop), and a
    // footer-built skip index over v2 serves a 2-predicate pruned
    // read. Legs: pruned v2 read, and the TOMBSTONED v1 snapshot
    // (anti-join MOR read) under the same predicate — both must equal
    // one kept-rows oracle, pinning that the MOR anti-join, the
    // compact-on-cluster rewrite, and the pruned scan all delete/keep
    // exactly the same rows.
    // ---------------------------------------------------------------
    Q("q173_mor_zorder_pruned",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_morz_${tag}_$stamp")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          if (!new File(root, "_SUCCESS").exists()) {
            val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
            val base = graft.Tables(s, dir, "events")
              .select(MergeCols.map(col): _*)
              .filter(col("event_type").isin("click", "view"))
            base.repartition(4) // fragmented on purpose
              .write.partitionBy("event_type").parquet(lake)
            Versioned.init(s, lake)
            Versioned.deleteWhere(s, lake, col("user_id") % 7 === 3,
              keyCols = Seq("event_id"))
            Versioned.optimize(s, lake, Seq("event_type"),
              targetFilesPerPartition = 4,
              zorder = Some(Maintenance.mortonKey(
                col("user_id").bitwiseAND(lit(1023L)),
                Maintenance.gridBucket(col("value"), 0.0, 1000.0, 10),
                bits = 10)))
            new File(root, "_SUCCESS").createNewFile()
          }
        }
        require(Versioned.deleteFilesAt(s, lake, 1L).nonEmpty,
          "v1 must be merge-on-read")
        require(Versioned.deleteFilesAt(s, lake, 2L).isEmpty,
          "zorder optimize must have compacted the tombstones")
        val live = Versioned.filesAt(s, lake, 2L).map(f => s"$lake/$f")
        val idx = SkipIndex.buildFromFooterFiles(s, live, Seq("user_id", "value"))
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("user_id")).as("n_users"))
            .withColumn("src", lit(src))
        val pruned = agg(Versioned.prunedScan(s, lake,
          Seq(PruneRange("user_id", 2.0, 95.0), PruneRange("value", 0.0, 80.0)),
          Some(idx), 2L), "pruned_v2")
        val morV1 = agg(Versioned.snapshot(s, lake, 1L)
          .filter(col("user_id").between(2, 95) &&
            col("value").between(0.0, 80.0)), "mor_v1")
        pruned.unionByName(morV1)
          .select("src", "event_type", "row_count", "sum_value", "n_users")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH kept AS (
          SELECT event_type, user_id, value FROM events
          WHERE event_type IN ('click','view') AND user_id % 7 <> 3
            AND user_id BETWEEN 2 AND 95
            AND value BETWEEN 0.0 AND 80.0)
        SELECT 'mor_v1' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM kept GROUP BY 2
        UNION ALL
        SELECT 'pruned_v2', event_type, count(*),
               round(sum(value::DOUBLE), 4), count(DISTINCT user_id)
        FROM kept GROUP BY 2
        ORDER BY 1, 2"""),
      "MOR delete x compacting ZORDER x skip-index pruned read: tombstoned v1 anti-join == compacted v2 pruned scan == kept-rows oracle"),

    // ---------------------------------------------------------------
    // DESCRIBE HISTORY over the pinned-timestamp fixture: version ids,
    // commit timestamps (pinned 1000..4000 at build), manifest form
    // (v0 checkpoint, v1-v3 deltas under the every-10th cadence), and
    // pending-tombstone counts are all deterministic, so the whole
    // history row set is oracle-gated as constants — pinning that the
    // commit log records exactly what the protocol says it records.
    // n_files is layout-dependent (task parallelism) and excluded;
    // row counts per version are pinned by q165/q172 instead.
    // ---------------------------------------------------------------
    Q("q174_describe_history",
      (s, dir) => {
        val vlake = versionedCdcFixture(s, dir)
        Versioned.history(s, vlake)
          .select(col("version"), col("commit_ts"), col("operation"),
            col("is_checkpoint"), col("n_pending_delete_files"))
          .orderBy("version")
      },
      Some("""
        SELECT * FROM (VALUES
          (0::BIGINT, 1000::BIGINT, 'init',  true,  0::BIGINT),
          (1::BIGINT, 2000::BIGINT, 'merge', false, 0::BIGINT),
          (2::BIGINT, 3000::BIGINT, 'merge', false, 0::BIGINT),
          (3::BIGINT, 4000::BIGINT, 'merge', false, 0::BIGINT))
          AS t(version, commit_ts, operation, is_checkpoint,
               n_pending_delete_files)
        ORDER BY version"""),
      "DESCRIBE HISTORY: versions, pinned commit timestamps, operations, checkpoint cadence, tombstone counts == constant oracle"),

    // ---------------------------------------------------------------
    // RESTORE TABLE TO VERSION AS OF (Delta's RESTORE): its own
    // memoized CDF-enabled fixture commits v0 = base, v1 = enable-cdf,
    // v2 = b0, v3 = b1, then RESTORES to v2 as v4 — a metadata-only
    // commit (zero data files moved) that also publishes the row-level
    // v3→v2 diff as its increment. Legs: the restored latest snapshot
    // == v2's recompute oracle (st1), the rolled-back v3 still
    // time-travels to st2, and a fresh per-run replica seeded from the
    // BASE converges to st1 by replicating all three increments — the
    // merge increments AND the restore diff through one consumer path.
    // require()s pin the protocol shape: 5 versions, restore replay is
    // a version-level no-op, and no data file was written by it.
    // ---------------------------------------------------------------
    Q("q175_restore",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_restcdf_${tag}_$stamp")
        val lake = new File(root, "lake").getAbsolutePath
        def baseCV = graft.Tables(s, dir, "events")
          .select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view"))
        LakeQueries.synchronized {
          if (!new File(root, "_SUCCESS").exists()) {
            val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
            val base = baseCV.persist()
            try {
              MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
              Versioned.init(s, lake, commitTs = 1000L)
              Versioned.enableChangeFeed(s, lake, Seq("event_id"),
                commitTs = 1500L)
              val Seq(b0, b1, _) = cdcPayload(base)
              Versioned.mergeInto(s, lake, b0, Seq("event_type"),
                Seq("event_id"), commitTs = 2000L)
              Versioned.mergeInto(s, lake, b1, Seq("event_type"),
                Seq("event_id"), commitTs = 3000L)
              def physicalParquetCount(): Int =
                PathModel.walk(fs, new org.apache.hadoop.fs.Path(lake))
                  .map(_.getPath).count(p => p.getName.endsWith(".parquet") &&
                    !p.toString.contains("/_"))
              val physBefore = physicalParquetCount()
              Versioned.restore(s, lake, 2L, commitTs = 4000L)
              // metadata-only: exactly the target version's files, and
              // not one physical data file written
              require(Versioned.filesAt(s, lake, 4L) ==
                Versioned.filesAt(s, lake, 2L),
                "restore must reference exactly the target version's files")
              require(physicalParquetCount() == physBefore,
                "restore must not write data files")
            } finally base.unpersist()
            new File(root, "_SUCCESS").createNewFile()
          }
        }
        require(Versioned.currentVersion(s, lake) == 4L)
        // replay is a version-level no-op
        require(Versioned.restore(s, lake, 2L) == 4L)
        // fresh per-run replica: base + all three increments == st1
        val replica = new File(new File(sys.props("user.dir"), "target"),
          s"graft_restcdf_vrep_$tag/replica").getAbsolutePath
        LakeQueries.synchronized {
          seedVersioned(s, replica, baseCV)
          Versioned.applyTableChanges(s, lake, replica, Seq("event_type"),
            sinceV = 1L)
        }
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(src))
        agg(Versioned.snapshot(s, lake), "restored")
          .unionByName(agg(Versioned.snapshot(s, lake, 3L), "pre_restore"))
          .unionByName(agg(Versioned.snapshot(s, replica), "replica"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        st2 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2
                      WHEN event_id % 10 = 4 THEN value + 100
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2)
        SELECT 'pre_restore' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM st2 GROUP BY 2
        UNION ALL
        SELECT 'replica', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st1 GROUP BY 2
        UNION ALL
        SELECT 'restored', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st1 GROUP BY 2
        ORDER BY 1, 2"""),
      "RESTORE TO VERSION: metadata-only rollback == target recompute; rolled-back state still travels; replica converges through the restore's CDF diff"),

    // ---------------------------------------------------------------
    // SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): the
    // clone's v0 manifest holds FOREIGN refs into the shared versioned
    // fixture's files at v1 — zero data bytes copied (require()-pinned:
    // every v0 entry foreign, zero parquet files under the clone) —
    // then b1 merges INTO THE CLONE, localizing its touched partitions
    // copy-on-write. Legs: clone v0 == st1 (reads entirely through
    // foreign refs), clone latest == st2 (independent evolution), and
    // the SOURCE's latest == st3 (the clone's writes are invisible to
    // it). Cloning is read-only on the source, so the shared fixture
    // stays valid for q165/q171/q172/q174.
    // ---------------------------------------------------------------
    Q("q176_shallow_clone",
      (s, dir) => {
        val vlake = versionedCdcFixture(s, dir)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_clonefix_${tag}_$stamp")
        val clone = new File(root, "clone").getAbsolutePath
        LakeQueries.synchronized {
          if (!new File(root, "_SUCCESS").exists()) {
            val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
            Versioned.cloneAt(s, vlake, clone, version = 1L,
              commitTs = 5000L)
            require(Versioned.filesAt(s, clone, 0L)
              .forall(Versioned.refIsForeign),
              "a shallow clone's v0 must be entirely foreign refs")
            def localParquet(): Int =
              PathModel.walk(fs, new org.apache.hadoop.fs.Path(clone))
                .map(_.getPath).count(p => p.getName.endsWith(".parquet") &&
                  !p.toString.contains("/_"))
            require(localParquet() == 0,
              "a shallow clone must copy zero data files")
            val base = graft.Tables(s, dir, "events")
              .select(MergeCols.map(col): _*)
              .filter(col("event_type").isin("click", "view")).persist()
            try {
              val Seq(_, b1, _) = cdcPayload(base)
              Versioned.mergeInto(s, clone, b1, Seq("event_type"),
                Seq("event_id"), commitTs = 6000L)
            } finally base.unpersist()
            new File(root, "_SUCCESS").createNewFile()
          }
        }
        require(Versioned.currentVersion(s, clone) == 1L)
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(src))
        agg(Versioned.snapshot(s, clone, 0L), "clone_v0")
          .unionByName(agg(Versioned.snapshot(s, clone), "clone_latest"))
          .unionByName(agg(Versioned.snapshot(s, vlake), "src_latest"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        st2 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2
                      WHEN event_id % 10 = 4 THEN value + 100
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2),
        st3 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 4 THEN value + 100
                      WHEN event_id % 10 = 6 THEN value - 1
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (0, 1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2
          UNION ALL
          SELECT event_type, event_id + 20000000, value + 10
          FROM t WHERE event_id % 100 = 7)
        SELECT 'clone_latest' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM st2 GROUP BY 2
        UNION ALL
        SELECT 'clone_v0', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st1 GROUP BY 2
        UNION ALL
        SELECT 'src_latest', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st3 GROUP BY 2
        ORDER BY 1, 2"""),
      "SHALLOW CLONE: zero-copy v0 reads the source's files == st1; COW merge evolves the clone to st2; the source's latest stays st3"),

    // ---------------------------------------------------------------
    // COMMIT-TIME FILE STATS (Iceberg's min/max metadata): ONE
    // backfillStats pass at v0 establishes (user_id, value) boxes;
    // the b0 merge (v1) and the ZORDER optimize (v2) then extend
    // coverage AUTOMATICALLY — no SkipIndex build or refresh is called
    // anywhere in this query; every box was written by the commit that
    // created its file. Legs: prunedScan under a 2-predicate box
    // at v0 == base filter, at v1 == st1 filter, at v2 (re-clustered,
    // all-new files) == the same st1 filter — pruned exactness across
    // three generations of stats. require()s pin that v1's incremental
    // sidecar covers only the merge's own files and that the z-layout
    // actually skips files at v2.
    // ---------------------------------------------------------------
    Q("q177_commit_time_stats",
      (s, dir) => {
        val lake = statsLakeFixture(s, dir)
        // v1's incremental sidecar is bounded by the merge's own files
        val incFiles = s.read.parquet(
            s"$lake/_manifest/stats/v000001.inc.parquet")
          .select("file").distinct().count()
        val newAtV1 = (Versioned.filesAt(s, lake, 1L).toSet --
          Versioned.filesAt(s, lake, 0L).toSet).size
        require(incFiles == newAtV1.toLong,
          "v1 inc sidecar must cover exactly the merge's own new files")
        // the z-layout's commit-time boxes actually skip files
        require(SkipIndex.candidateFilesMulti(
            Versioned.statsAt(s, lake, 2L),
            Seq(("user_id", 2.0, 95.0), ("value", 0.0, 80.0))).size <
          Versioned.filesAt(s, lake, 2L).size,
          "commit-time stats must prune the z-clustered layout")
        val preds = Seq(PruneRange("user_id", 2.0, 95.0),
          PruneRange("value", 0.0, 80.0))
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("user_id")).as("n_users"))
            .withColumn("src", lit(src))
        agg(Versioned.prunedScan(s, lake, preds, version = 0L), "pruned_v0")
          .unionByName(agg(Versioned.prunedScan(s, lake, preds, version = 1L),
            "pruned_v1"))
          .unionByName(agg(Versioned.prunedScan(s, lake, preds, version = 2L),
            "pruned_v2"))
          .select("src", "event_type", "row_count", "sum_value", "n_users")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, user_id, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, user_id, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, user_id, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        kept0 AS (SELECT * FROM t
                  WHERE user_id BETWEEN 2 AND 95 AND value BETWEEN 0.0 AND 80.0),
        kept1 AS (SELECT * FROM st1
                  WHERE user_id BETWEEN 2 AND 95 AND value BETWEEN 0.0 AND 80.0)
        SELECT 'pruned_v0' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM kept0 GROUP BY 2
        UNION ALL
        SELECT 'pruned_v1', event_type, count(*),
               round(sum(value::DOUBLE), 4), count(DISTINCT user_id)
        FROM kept1 GROUP BY 2
        UNION ALL
        SELECT 'pruned_v2', event_type, count(*),
               round(sum(value::DOUBLE), 4), count(DISTINCT user_id)
        FROM kept1 GROUP BY 2
        ORDER BY 1, 2"""),
      "commit-time stats: backfill once, merge and ZORDER commits extend coverage automatically; stats-pruned reads match filter oracles at all three versions"),

    // ---------------------------------------------------------------
    // APPEND ingest + STREAM-FROM-TABLE (Delta's streaming source):
    // the fixture commits two blind APPEND waves onto the v0 base
    // (delta manifests of +file lines, no resolution, no rewrite);
    // appendsBetween(0, 2) reads exactly the appended rows from the
    // manifests alone == the two slices' recompute; a fresh-per-run
    // readStream.format("graft") streams the table (initial snapshot
    // + append ranges, manifest-gated visibility) into a txn-marked
    // graft sink that must equal the source. fastRowCount rides the
    // appends (require: metadata count == oracle row total via the
    // snapshot leg).
    // ---------------------------------------------------------------
    Q("q178_append_follow",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_appfix_${tag}_$stamp")
        val lake = new File(root, "lake").getAbsolutePath
        def slice(i: Int) = graft.Tables(s, dir, "events")
          .select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view") &&
            col("event_id") % 3 === i)
        LakeQueries.synchronized {
          if (!new File(root, "_SUCCESS").exists()) {
            val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
            MergeData.writeMerged(s, slice(0), lake, keys = Seq("event_type"))
            Versioned.init(s, lake, commitTs = 1000L)
            Versioned.append(s, lake, slice(1), Seq("event_type"),
              commitTs = 2000L)
            Versioned.append(s, lake, slice(2), Seq("event_type"),
              commitTs = 3000L)
            new File(root, "_SUCCESS").createNewFile()
          }
        }
        require(Versioned.currentVersion(s, lake) == 2L)
        // metadata-only count stays exact across append commits
        require(Versioned.fastRowCount(s, lake) ==
          Versioned.snapshot(s, lake).count())
        // fresh-per-run stream: initial snapshot + both append
        // ranges stream into a txn-marked graft sink
        val froot = new File(new File(sys.props("user.dir"), "target"),
          s"graft_appfix_follow_$tag")
        val sink = new File(froot, "sink").getAbsolutePath
        val ckpt = new File(froot, "ckpt").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(froot.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(froot.getAbsolutePath), true)
          followInto(s, lake, sink, ckpt)
        }
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(src))
        agg(Versioned.appendsBetween(s, lake, 0L, 2L), "appends")
          .unionByName(agg(Versioned.snapshot(s, lake), "snap"))
          .unionByName(agg(Versioned.snapshot(s, sink), "followed"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        s12 AS (SELECT * FROM t WHERE event_id % 3 IN (1, 2))
        SELECT 'appends' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM s12 GROUP BY 2
        UNION ALL
        SELECT 'followed', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM t GROUP BY 2
        UNION ALL
        SELECT 'snap', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM t GROUP BY 2
        ORDER BY 1, 2"""),
      "APPEND ingest + stream-from-table: appendsBetween == appended slices; followed txn-marked sink == source == full recompute"),

    // ---------------------------------------------------------------
    // CHECK CONSTRAINTS (Delta's table constraints): two constraints
    // added at v1/v2 (metadata-only commits — addConstraint first
    // validates the EXISTING rows in one scan), then a valid append
    // commits under them. Per run: a VIOLATING append must be refused
    // pre-write (caught and require()d — nothing lands, versions don't
    // advance). Legs: the constraint listing == a constant oracle
    // (q174's pattern — the fixture pins everything), and the data
    // under enforcement == the recompute oracle, proving enforcement
    // rejected nothing valid.
    // ---------------------------------------------------------------
    Q("q179_check_constraints",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_chkfix_${tag}_$stamp")
        val lake = new File(root, "lake").getAbsolutePath
        def slice(i: Int) = graft.Tables(s, dir, "events")
          .select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view") &&
            col("event_id") % 2 === i)
        LakeQueries.synchronized {
          if (!new File(root, "_SUCCESS").exists()) {
            val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
            MergeData.writeMerged(s, slice(0), lake, keys = Seq("event_type"))
            Versioned.init(s, lake, commitTs = 1000L)
            Versioned.addConstraint(s, lake, "value_nonneg",
              "value >= 0", commitTs = 2000L)
            Versioned.addConstraint(s, lake, "etype_known",
              "event_type IN ('click','view')", commitTs = 3000L)
            Versioned.append(s, lake, slice(1), Seq("event_type"),
              commitTs = 4000L)
            new File(root, "_SUCCESS").createNewFile()
          }
        }
        require(Versioned.currentVersion(s, lake) == 3L)
        // per run: a violating append is refused BEFORE anything lands
        val caught =
          try {
            Versioned.append(s, lake,
              slice(1).limit(5).withColumn("value", lit(-5.0)),
              Seq("event_type"))
            false
          } catch {
            case e: IllegalArgumentException =>
              e.getMessage.contains("value_nonneg")
          }
        require(caught, "a violating append must be refused by name")
        require(Versioned.currentVersion(s, lake) == 3L,
          "a refused append must not advance the version")
        val cons = Versioned.constraints(s, lake)
          .withColumn("src", lit("constraint"))
          .withColumn("row_count", lit(null).cast("long"))
          .withColumn("sum_value", lit(null).cast("double"))
          .select("src", "name", "expr", "row_count", "sum_value")
        val data = Versioned.snapshot(s, lake)
          .groupBy("event_type").agg(
            count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"))
          .withColumn("src", lit("data"))
          .withColumn("name", col("event_type"))
          .withColumn("expr", lit(""))
          .select("src", "name", "expr", "row_count", "sum_value")
        cons.unionByName(data).orderBy("src", "name")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view'))
        SELECT * FROM (
          SELECT 'constraint' AS src, 'etype_known' AS name,
                 'event_type IN (''click'',''view'')' AS expr,
                 NULL::BIGINT AS row_count, NULL::DOUBLE AS sum_value
          UNION ALL
          SELECT 'constraint', 'value_nonneg', 'value >= 0',
                 NULL::BIGINT, NULL::DOUBLE
          UNION ALL
          SELECT 'data', event_type, '', count(*),
                 round(sum(value::DOUBLE), 4)
          FROM t GROUP BY 2, 3)
        ORDER BY 1, 2"""),
      "CHECK constraints: listing == constant oracle; enforced appends == recompute; violating append refused by name, nothing lands"),

    // ---------------------------------------------------------------
    // Metadata-only MIN/MAX from commit-time stats: fastMinMax reads
    // the stats sidecars — zero data rows AND zero footers — and is
    // EXACT (parquet column statistics are exact file values; the two
    // inexact cases, unusable stats and past-2^53 widening, are
    // refused). Legs: (user_id, value) extrema at v1 (merge-shaped
    // files) and v2 (z-clustered files) on the q177 fixture — four
    // metadata answers, each == the recompute oracle over st1. The
    // require pins that a column the sidecars never tracked refuses
    // by name rather than answering.
    // ---------------------------------------------------------------
    Q("q180_fast_min_max",
      (s, dir) => {
        val lake = statsLakeFixture(s, dir)
        val caught =
          try { Versioned.fastMinMax(s, lake, "event_id"); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("backfillStats") }
        require(caught, "an untracked column must refuse by name")
        val rows = for {
          (ver, src) <- Seq((1L, "v1"), (2L, "v2"))
          c <- Seq("user_id", "value")
        } yield {
          val (lo, hi) = Versioned.fastMinMax(s, lake, c, ver)
          (src, c, lo, hi)
        }
        import s.implicits._
        rows.toDF("src", "metric", "lo", "hi").orderBy("src", "metric")
      },
      Some("""
        WITH t AS (SELECT event_type, user_id, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, user_id, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, user_id, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2)
        SELECT * FROM (
          SELECT 'v1' AS src, 'user_id' AS metric,
                 min(user_id)::DOUBLE AS lo, max(user_id)::DOUBLE AS hi
          FROM st1
          UNION ALL
          SELECT 'v1', 'value', min(value)::DOUBLE, max(value)::DOUBLE FROM st1
          UNION ALL
          SELECT 'v2', 'user_id', min(user_id)::DOUBLE, max(user_id)::DOUBLE
          FROM st1
          UNION ALL
          SELECT 'v2', 'value', min(value)::DOUBLE, max(value)::DOUBLE FROM st1)
        ORDER BY 1, 2"""),
      "metadata-only MIN/MAX from commit-time stats: zero rows, zero footers, exact == recompute oracle at both layouts; untracked column refused"),

    // ---------------------------------------------------------------
    // GOVERNED STREAMING INGEST capstone — the round-10 verbs composed
    // on ONE lake: a CHECK constraint and the stats discipline are
    // established up front, then TWO micro-batches stream in through
    // StreamingMerge.startAppend (maxFilesPerTrigger=1 pins one
    // versioned append commit per wave, txn-marked exactly-once; every
    // batch validated against the constraint pre-write; every commit
    // extends the stats sidecars), a FOLLOWER streams the committed
    // table into its own txn-marked sink, and the metadata layer
    // answers without touching data (fastRowCount == snapshot count,
    // fastMinMax on the streamed column — both require()d). Legs: the
    // governed table == recompute, the followed sink == the same, and
    // the history's (operation, commit-form) sequence == a constant
    // oracle — init, add-constraint, append, append, all deltas after
    // the v0 checkpoint.
    // ---------------------------------------------------------------
    Q("q181_governed_ingest",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val stamp = new File(dir, "events.parquet").lastModified()
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_govfix_${tag}_$stamp")
        val lake = new File(root, "lake").getAbsolutePath
        def slice(i: Int) = graft.Tables(s, dir, "events")
          .select(MergeCols.map(col): _*)
          .filter(col("event_type").isin("click", "view") &&
            col("event_id") % 3 === i)
        LakeQueries.synchronized {
          if (!new File(root, "_SUCCESS").exists()) {
            val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
            val in = new File(root, "in").getAbsolutePath
            val ckpt = new File(root, "ingest_ckpt").getAbsolutePath
            MergeData.writeMerged(s, slice(0), lake, keys = Seq("event_type"))
            Versioned.init(s, lake, commitTs = 1000L)
            Versioned.addConstraint(s, lake, "value_nonneg", "value >= 0",
              commitTs = 2000L)
            Versioned.backfillStats(s, lake, Seq("user_id", "value"))
            // two single-file waves → exactly two streamed commits
            slice(1).coalesce(1).write.parquet(s"$in/w1")
            slice(2).coalesce(1).write.parquet(s"$in/w2")
            val stream = s.readStream.schema(slice(1).schema)
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(in)
            graft.streaming.StreamingMerge.startAppend(stream, lake,
              Seq("event_type"), ckpt).awaitTermination()
            new File(root, "_SUCCESS").createNewFile()
          }
        }
        require(Versioned.currentVersion(s, lake) == 3L,
          "exactly one versioned append commit per streamed wave")
        // the metadata layer answers without touching data
        require(Versioned.fastRowCount(s, lake) ==
          Versioned.snapshot(s, lake).count())
        val (loV, hiV) = Versioned.fastMinMax(s, lake, "value")
        val mm = Versioned.snapshot(s, lake)
          .agg(min("value"), max("value")).collect()(0)
        require(loV == mm.getDouble(0) && hiV == mm.getDouble(1),
          "fastMinMax must equal the streamed table's true extrema")
        // fresh-per-run stream over the governed table
        val froot = new File(new File(sys.props("user.dir"), "target"),
          s"graft_govfix_follow_$tag")
        val sink = new File(froot, "sink").getAbsolutePath
        val fckpt = new File(froot, "ckpt").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(froot.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(froot.getAbsolutePath), true)
          followInto(s, lake, sink, fckpt)
        }
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(src))
            .withColumn("operation", lit(""))
            .withColumn("is_checkpoint", lit(null).cast("boolean"))
            .select("src", "event_type", "operation", "is_checkpoint",
              "row_count", "sum_value", "n_ids")
        val hist = Versioned.history(s, lake)
          .withColumn("src", lit("history"))
          .withColumn("event_type",
            concat(lit("v"), col("version").cast("string")))
          .withColumn("row_count", lit(null).cast("long"))
          .withColumn("sum_value", lit(null).cast("double"))
          .withColumn("n_ids", lit(null).cast("long"))
          .select("src", "event_type", "operation", "is_checkpoint",
            "row_count", "sum_value", "n_ids")
        agg(Versioned.snapshot(s, lake), "governed")
          .unionByName(agg(Versioned.snapshot(s, sink), "followed"))
          .unionByName(hist)
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view'))
        SELECT * FROM (
          SELECT 'followed' AS src, event_type, '' AS operation,
                 NULL::BOOLEAN AS is_checkpoint,
                 count(*) AS row_count, round(sum(value::DOUBLE), 4) AS sum_value,
                 count(DISTINCT event_id) AS n_ids
          FROM t GROUP BY 2, 3, 4
          UNION ALL
          SELECT 'governed', event_type, '', NULL::BOOLEAN, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM t GROUP BY 2, 3, 4
          UNION ALL
          SELECT 'history', h.et, h.op, h.ck,
                 NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT
          FROM (VALUES ('v0', 'init', true), ('v1', 'add-constraint', false),
                       ('v2', 'append', false), ('v3', 'append', false))
            AS h(et, op, ck))
        ORDER BY 1, 2"""),
      "governed streaming ingest capstone: constraint + stats + txn-marked streamed appends + followed sink == recompute; history operations == constant oracle; metadata answers require()d"),

    // ---------------------------------------------------------------
    // COMMIT-TIME BLOOM FILTERS (Delta's write-time blooms / Iceberg
    // Puffin): the stats fixture also carries a bloom discipline on
    // event_id — the unclustered high-cardinality key whose min/max
    // boxes prune nothing — backfilled ONCE at v0 and inherited by the
    // merge (v1) and the ZORDER re-cluster (v2). Point/IN lookups are
    // served with NO index build or refresh anywhere in this query.
    // Probes hit updated keys (40, 100 — %10==0, st1 doubles their
    // value; present in click/view at every SF), kept keys (59, 86),
    // and a merge-inserted shifted key (10000302, present at sf0.1)
    // that only the v1/v2 commits' OWN bloom sidecars can know.
    // Legs: lookups at v1 (merge-shaped files) and v2 (z-clustered
    // files) == the st1 IN-filter oracle.
    // ---------------------------------------------------------------
    Q("q182_commit_time_blooms",
      (s, dir) => {
        val lake = statsLakeFixture(s, dir)
        val probes = PruneIn("event_id", Seq(40L, 100L, 59L, 86L, 10000302L))
        // the shifted insert's probe must actually skip base files:
        // only the merge commit's own files can hold it
        require(BloomIndex.candidateFilesIn(s,
            Versioned.bloomsAt(s, lake, 1L), "event_id",
            Seq(lit(10000302L))).size <
          Versioned.filesAt(s, lake, 1L).size,
          "commit-time blooms must prune the unclustered key lookup")
        def leg(v: Long, src: String) =
          Versioned.prunedScan(s, lake, Seq(probes), version = v)
            .select(lit(src).as("src"), col("event_id"), col("event_type"),
              col("user_id"), round(col("value"), 4).as("value_r"))
        leg(1L, "v1").unionByName(leg(2L, "v2"))
          .orderBy("src", "event_id", "event_type", "user_id")
      },
      Some("""
        WITH t AS (SELECT event_type, user_id, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, user_id, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, user_id, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        hit AS (SELECT * FROM st1
                WHERE event_id IN (40, 100, 59, 86, 10000302))
        SELECT 'v1' AS src, event_id, event_type, user_id,
               round(value::DOUBLE, 4) AS value_r
        FROM hit
        UNION ALL
        SELECT 'v2', event_id, event_type, user_id, round(value::DOUBLE, 4)
        FROM hit
        ORDER BY 1, 2, 3, 4"""),
      "commit-time blooms: backfill once, merge and ZORDER commits inherit; point lookups at both layouts == IN-filter oracle with zero index builds"),

    // ---------------------------------------------------------------
    // CHANGE FEED AS A TABLE PROPERTY (Delta's enableChangeDataFeed):
    // a mixed merge/append/MOR-delete/restore history where NO writer
    // passes a feed argument — each commit's increment is published
    // crash-atomically by its own manifest (#cdfinc), so a hole is
    // structurally impossible (and pre-CDF builds are fenced by the
    // #ver 1 floor). Legs: time travel at v2/v3/v4 + the current
    // (restored) state, each against its recomputed-prefix oracle,
    // and a replica seeded from the enable-version snapshot and
    // converged by applyTableChanges — which must equal the current
    // state across all four commit kinds.
    // ---------------------------------------------------------------
    Q("q183_cdf_table_property",
      (s, dir) => {
        val lake = cdfPropFixture(s, dir)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val replica = new File(
          new File(sys.props("user.dir"), "target"),
          s"graft_cdfprop_vrep_$tag/replica").getAbsolutePath
        LakeQueries.synchronized {
          seedVersioned(s, replica, Versioned.snapshot(s, lake, 1L))
          Versioned.applyTableChanges(s, lake, replica,
            Seq("event_type"), sinceV = 1L)
        }
        def agg(d: DataFrame, tag: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag))
        agg(Versioned.snapshot(s, lake, 2L), "v2_merge")
          .unionByName(agg(Versioned.snapshot(s, lake, 3L), "v3_append"))
          .unionByName(agg(Versioned.snapshot(s, lake, 4L), "v4_delete"))
          .unionByName(agg(Versioned.snapshot(s, lake), "v5_restored"))
          .unionByName(agg(Versioned.snapshot(s, replica), "replica"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        v3 AS (
          SELECT * FROM st1
          UNION ALL
          SELECT event_type, event_id + 30000000, value - 5
          FROM t WHERE event_id % 100 = 9),
        v4 AS (SELECT * FROM v3 WHERE event_id % 100 <> 3)
        SELECT 'v2_merge' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM st1 GROUP BY 2
        UNION ALL
        SELECT 'v3_append', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM v3 GROUP BY 2
        UNION ALL
        SELECT 'v4_delete', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM v4 GROUP BY 2
        UNION ALL
        SELECT 'v5_restored', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st1 GROUP BY 2
        UNION ALL
        SELECT 'replica', event_type, count(*), round(sum(value::DOUBLE), 4),
               count(DISTINCT event_id)
        FROM st1 GROUP BY 2
        ORDER BY 1, 2"""),
      "change feed as table property: argument-less merge/append/delete/restore all publish; time travel at each version + applyTableChanges replica == per-prefix recompute"),

    // ---------------------------------------------------------------
    // OPTIMIZE BINPACK (Delta's size-targeted small-file compaction):
    // a per-run lake accumulates 4 append waves of small files, then
    // one size-targeted pass collapses every partition to its byte
    // budget (8 MB >> partition bytes at every SF -> one file each;
    // file-count collapse require()d, as is trigger idempotence).
    // Layout-only: the compacted snapshot AND the pre-compaction
    // version both equal the recompute oracle (time travel intact).
    // ---------------------------------------------------------------
    Q("q186_binpack_compaction",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_binpackq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        val preV = LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          (0 until 4).foreach { i =>
            Versioned.append(s, lake,
              base.filter(col("event_id") % 4 === i)
                .withColumn("event_id",
                  col("event_id") + lit((i + 1) * 100000000L)),
              Seq("event_type"), commitTs = 2000L + i * 1000L)
          }
          val v0 = Versioned.currentVersion(s, lake)
          val before = Versioned.filesAt(s, lake).size
          val v = Versioned.optimize(s, lake, Seq("event_type"),
            targetFileSizeBytes = Some(8L * 1024 * 1024),
            commitTs = 9000L)
          require(v == v0 + 1 &&
            Versioned.filesAt(s, lake).size < before,
            s"binpack must collapse the $before small files")
          require(Versioned.optimize(s, lake, Seq("event_type"),
            targetFileSizeBytes = Some(8L * 1024 * 1024),
            commitTs = 9500L) == v,
            "a partition within its byte budget must not re-compact")
          v0
        }
        def agg(d: DataFrame, tag: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag))
        agg(Versioned.snapshot(s, lake), "compacted")
          .unionByName(agg(Versioned.snapshot(s, lake, preV), "pre_binpack"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        w AS (
          SELECT * FROM t
          UNION ALL
          SELECT event_type, event_id + 100000000, value FROM t
          WHERE event_id % 4 = 0
          UNION ALL
          SELECT event_type, event_id + 200000000, value FROM t
          WHERE event_id % 4 = 1
          UNION ALL
          SELECT event_type, event_id + 300000000, value FROM t
          WHERE event_id % 4 = 2
          UNION ALL
          SELECT event_type, event_id + 400000000, value FROM t
          WHERE event_id % 4 = 3)
        SELECT * FROM (
          SELECT 'compacted' AS src, event_type, count(*) AS row_count,
                 round(sum(value::DOUBLE), 4) AS sum_value,
                 count(DISTINCT event_id) AS n_ids
          FROM w GROUP BY 2
          UNION ALL
          SELECT 'pre_binpack', event_type, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM w GROUP BY 2)
        ORDER BY 1, 2"""),
      "size-targeted binpack: file count collapse + idempotence require()d; compacted and pre-compaction versions both == recompute (layout-only, travel intact)"),

    // ---------------------------------------------------------------
    // SHALLOW CLONE INHERITS TABLE PROPERTIES (Delta's clone copies
    // the table metadata wholesale): the source renames a column,
    // adds a CHECK constraint and enables the change feed BEFORE the
    // clone — the clone must read the physically-named files under
    // the LOGICAL schema, refuse what the source refuses (require()d
    // in-body), and publish a change increment on its first
    // argument-less merge (require()d). The data legs: clone-after-
    // merge, clone's v0 time travel, and the untouched source, all
    // against one recompute oracle.
    // ---------------------------------------------------------------
    Q("q188_clone_inherits_properties",
      (s, dir) => {
        val src = clonePropsFixture(s, dir) // memoized source (v0-v3)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_clonepropq_$tag")
        val cln = new File(root, "clone").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view")).persist()
          Versioned.cloneAt(s, src, cln, commitTs = 5000L)              // clone v0
          val renamed = base.withColumnRenamed("value", "reading")
          val inserts = renamed.filter(col("event_id") % 100 === 2)
            .withColumn("event_id", col("event_id") + lit(10000000L))
            .withColumn("reading", col("reading") + 1)
          Versioned.mergeInto(s, cln,
            renamed.filter(col("event_id") % 10 === 0)
              .withColumn("reading", col("reading") * 2)
              .unionByName(inserts)
              .withColumn("__delete", lit(false)),
            Seq("event_type"), Seq("event_id"), commitTs = 6000L)       // clone v1
          // inherited CHECK: the clone refuses what the source refuses
          val refused = try {
            Versioned.append(s, cln,
              renamed.limit(1).withColumn("event_id", lit(-1L)),
              Seq("event_type"), commitTs = 7000L)
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("id_pos") }
          require(refused, "clone must inherit the CHECK constraint")
          // inherited CHANGE FEED: the argument-less merge published
          val inc = Versioned.changeIncrementAt(s, cln, 1L).getOrElse(
            sys.error("clone must inherit the change-feed property"))
          require(inc.filter(col("_action") === "insert").count() ==
            inserts.count(), "clone increment must carry the inserts")
          // inherited MAPPING: logical schema, not field-id spellings
          require(Versioned.snapshot(s, cln).columns.contains("reading") &&
            !Versioned.snapshot(s, cln).columns.contains("value"),
            "clone must read under the source's logical column mapping")
          base.unpersist()
        }
        def agg(d: DataFrame, tag: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("reading"), 4).as("sum_reading"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag))
        agg(Versioned.snapshot(s, cln), "clone")
          .unionByName(agg(Versioned.snapshot(s, cln, 0L), "clone_v0"))
          .unionByName(agg(Versioned.snapshot(s, src), "source"))
          .select("src", "event_type", "row_count", "sum_reading", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        m AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS reading
          FROM t
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2)
        SELECT * FROM (
          SELECT 'clone' AS src, event_type, count(*) AS row_count,
                 round(sum(reading::DOUBLE), 4) AS sum_reading,
                 count(DISTINCT event_id) AS n_ids
          FROM m GROUP BY 2
          UNION ALL
          SELECT 'clone_v0', event_type, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM t GROUP BY 2
          UNION ALL
          SELECT 'source', event_type, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM t GROUP BY 2)
        ORDER BY 1, 2"""),
      "shallow clone inherits column mapping + CHECK + change feed + txn marks: logical reads, refused violations, published increment all require()d; clone/travel/source == recompute"),

    // ---------------------------------------------------------------
    // CHANGE FEED ACROSS A RENAME (Delta refuses this; converging is
    // strictly stronger): a replica seeded BEFORE a rename converges
    // THROUGH it — changesBetween re-spells pre-rename increments to
    // the range-end schema along the stable physical rail, and
    // applyTableChanges mirrors the rename onto the replica.
    // History: merge (old name) -> RENAME -> merge (new name) -> MOR
    // delete; replica == source == recompute, under the NEW name.
    // ---------------------------------------------------------------
    Q("q189_cdf_replica_across_rename",
      (s, dir) => renameReplicaAgg(s, dir, "graft_cdfrenvq") { (src, _) =>
        // the batch read serves ONE schema — the range end's
        val ch = Versioned.changesBetween(s, src, 1L, 5L)
        require(ch.columns.contains("reading") &&
          !ch.columns.contains("value"),
          "pre-rename increments must re-spell to the range-end schema")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        m1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS reading
          FROM t),
        m2 AS (
          SELECT * FROM m1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        fin AS (SELECT * FROM m2 WHERE event_id % 100 <> 3)
        SELECT * FROM (
          SELECT 'replica' AS src, event_type, count(*) AS row_count,
                 round(sum(reading::DOUBLE), 4) AS sum_reading,
                 count(DISTINCT event_id) AS n_ids
          FROM fin GROUP BY 2
          UNION ALL
          SELECT 'source', event_type, count(*),
                 round(sum(reading::DOUBLE), 4), count(DISTINCT event_id)
          FROM fin GROUP BY 2)
        ORDER BY 1, 2"""),
      "replica converges THROUGH a rename: changesBetween re-spells increments to range-end schema, applyTableChanges mirrors the rename onto the replica; replica == source == recompute under the new name"),

    // ---------------------------------------------------------------
    // PARTITION SPEC AS A TABLE PROPERTY (#pkeys, reader protocol 3):
    // declaring the current layout is metadata-only (require()d); a
    // stale-keyed writer is refused by name (require()d); re-keying
    // the table is ONE rewrite commit (the Delta road — the full
    // rewrite is what keeps every version single-spec, so time travel
    // reads each version under its own layout). Legs: pre-re-spec
    // version (old layout), post-re-spec snapshot (new layout), and
    // the new key's own grouping — all against one recompute oracle.
    // ---------------------------------------------------------------
    Q("q190_partition_respec",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_respecq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        val preV = LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
            .withColumn("bucket", pmod(col("user_id"), lit(8L)))
            .persist()
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)                     // v0
          val f0 = Versioned.filesAt(s, lake, 0L)
          require(Versioned.changePartitionSpec(s, lake, Seq("event_type"),
              commitTs = 2000L) == 1L &&
            Versioned.filesAt(s, lake, 1L) == f0,
            "declaring the current layout must be metadata-only")      // v1
          Versioned.mergeInto(s, lake,
            base.filter(col("event_id") % 10 === 0)
              .withColumn("value", col("value") * 2)
              .withColumn("__delete", lit(false)),
            Seq("event_type"), Seq("event_id"), commitTs = 3000L)      // v2
          Versioned.changePartitionSpec(s, lake, Seq("bucket"),
            commitTs = 4000L)                                          // v3
          require(Versioned.filesAt(s, lake).forall(_.startsWith("bucket=")),
            "the re-spec must re-key every directory")
          val refused = try {
            Versioned.append(s, lake, base.limit(1)
                .withColumn("event_id", col("event_id") + lit(20000000L)),
              Seq("event_type"), commitTs = 4500L)
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("declared spec") }
          require(refused, "a stale-keyed writer must be refused by name")
          Versioned.append(s, lake,
            base.filter(col("event_id") % 100 === 2)
              .withColumn("event_id", col("event_id") + lit(10000000L))
              .withColumn("value", col("value") + 1),
            Seq("bucket"), commitTs = 5000L)                           // v4
          base.unpersist()
          2L
        }
        def agg(d: DataFrame, tag: String, grp: org.apache.spark.sql.Column) =
          d.groupBy(grp.as("grp")).agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag))
        val cur = Versioned.snapshot(s, lake)
        agg(Versioned.snapshot(s, lake, preV), "pre_respec", col("event_type"))
          .unionByName(agg(cur, "post_respec", col("event_type")))
          .unionByName(agg(cur, "by_bucket",
            concat(lit("b"), col("bucket").cast("string"))))
          .select("src", "grp", "row_count", "sum_value", "n_ids")
          .orderBy("src", "grp")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, user_id, value FROM events
                   WHERE event_type IN ('click','view')),
        m AS (
          SELECT event_type, event_id, user_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t),
        p AS (
          SELECT * FROM m
          UNION ALL
          SELECT event_type, event_id + 10000000, user_id, value + 1
          FROM t WHERE event_id % 100 = 2)
        SELECT * FROM (
          SELECT 'pre_respec' AS src, event_type AS grp, count(*) AS row_count,
                 round(sum(value::DOUBLE), 4) AS sum_value,
                 count(DISTINCT event_id) AS n_ids
          FROM m GROUP BY 2
          UNION ALL
          SELECT 'post_respec', event_type, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM p GROUP BY 2
          UNION ALL
          SELECT 'by_bucket', 'b' || (user_id % 8)::VARCHAR, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM p GROUP BY 2)
        ORDER BY 1, 2"""),
      "partition re-spec: metadata-only declare + stale-writer refusal + new-layout dirs require()d; pre/post versions and the new key's grouping == recompute"),

    // ---------------------------------------------------------------
    // VERSIONED REPLICA ACROSS A RENAME (the metadata payoff): the
    // replica is ITSELF a versioned table, so the source's RENAME
    // commit mirrors onto it as one renameColumn — ZERO files moved on
    // either side (require()d on the replica's own manifest) — while
    // increments before and after apply under their own version's
    // names.
    // ---------------------------------------------------------------
    Q("q191_versioned_replica_rename",
      (s, dir) => renameReplicaAgg(s, dir, "graft_vreplq") { (_, replica) =>
        // replica history: r1 merge, r2 mirrored rename, r3 merge,
        // r4 delete-merge — the rename moved ZERO files
        require(Versioned.filesAt(s, replica, 2L) ==
          Versioned.filesAt(s, replica, 1L),
          "the mirrored rename must be metadata-only on the replica")
        require(Versioned.snapshot(s, replica).columns.contains("reading"),
          "the replica must speak the new name")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        m1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS reading
          FROM t),
        m2 AS (
          SELECT * FROM m1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        fin AS (SELECT * FROM m2 WHERE event_id % 100 <> 3)
        SELECT * FROM (
          SELECT 'replica' AS src, event_type, count(*) AS row_count,
                 round(sum(reading::DOUBLE), 4) AS sum_reading,
                 count(DISTINCT event_id) AS n_ids
          FROM fin GROUP BY 2
          UNION ALL
          SELECT 'source', event_type, count(*),
                 round(sum(reading::DOUBLE), 4), count(DISTINCT event_id)
          FROM fin GROUP BY 2)
        ORDER BY 1, 2"""),
      "a VERSIONED replica mirrors the source's rename metadata-only (zero files moved, require()d) and converges; replica == source == recompute under the new name"),

    // ---------------------------------------------------------------
    // HIDDEN PARTITIONING (Iceberg's bucket transform, composed from
    // two table properties): `bucket` is GENERATED ALWAYS AS
    // pmod(user_id, 8) — one declare-commit computes it for existing
    // rows — and the table is then RE-KEYED onto it. From that point
    // writers NEVER spell the bucket: merge and append batches omit
    // the column and the write path computes it; a batch that
    // disagrees with the rule is refused by name (require()d). Legs:
    // the pre-declare version (no bucket), the current snapshot, and
    // the bucket's own grouping — one recompute oracle.
    // ---------------------------------------------------------------
    Q("q192_hidden_partitioning",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_hiddenq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view")).persist()
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)                     // v0
          Versioned.addGeneratedColumn(s, lake, "bucket",
            "pmod(user_id, 8)", commitTs = 2000L)                       // v1
          Versioned.changePartitionSpec(s, lake, Seq("bucket"),
            commitTs = 3000L)                                           // v2
          require(Versioned.filesAt(s, lake).forall(_.startsWith("bucket=")),
            "the generated column keys every directory")
          // writers never spell the bucket
          Versioned.mergeInto(s, lake,
            base.filter(col("event_id") % 10 === 0)
              .withColumn("value", col("value") * 2)
              .withColumn("__delete", lit(false)),
            Seq("bucket"), Seq("event_id"), commitTs = 4000L)           // v3
          Versioned.append(s, lake,
            base.filter(col("event_id") % 100 === 2)
              .withColumn("event_id", col("event_id") + lit(10000000L))
              .withColumn("value", col("value") + 1),
            Seq("bucket"), commitTs = 5000L)                            // v4
          // a batch that disagrees with the rule is refused by name
          val refused = try {
            Versioned.append(s, lake, base.limit(1)
                .withColumn("event_id", col("event_id") + lit(20000000L))
                .withColumn("bucket", lit(99L)),
              Seq("bucket"), commitTs = 5500L)
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("GENERATED ALWAYS AS") }
          require(refused, "a disagreeing batch must be refused by name")
          base.unpersist()
        }
        def agg(d: DataFrame, tag: String, grp: org.apache.spark.sql.Column) =
          d.groupBy(grp.as("grp")).agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag))
        val cur = Versioned.snapshot(s, lake)
        agg(Versioned.snapshot(s, lake, 0L), "pre_gen", col("event_type"))
          .unionByName(agg(cur, "hidden", col("event_type")))
          .unionByName(agg(cur, "by_bucket",
            concat(lit("b"), col("bucket").cast("string"))))
          .select("src", "grp", "row_count", "sum_value", "n_ids")
          .orderBy("src", "grp")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, user_id, value FROM events
                   WHERE event_type IN ('click','view')),
        m AS (
          SELECT event_type, event_id, user_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t),
        p AS (
          SELECT * FROM m
          UNION ALL
          SELECT event_type, event_id + 10000000, user_id, value + 1
          FROM t WHERE event_id % 100 = 2)
        SELECT * FROM (
          SELECT 'pre_gen' AS src, event_type AS grp, count(*) AS row_count,
                 round(sum(value::DOUBLE), 4) AS sum_value,
                 count(DISTINCT event_id) AS n_ids
          FROM t GROUP BY 2
          UNION ALL
          SELECT 'hidden', event_type, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM p GROUP BY 2
          UNION ALL
          SELECT 'by_bucket', 'b' || (user_id % 8)::VARCHAR, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM p GROUP BY 2)
        ORDER BY 1, 2"""),
      "hidden partitioning = generated column + partition re-spec: writers never spell the bucket (computed on merge AND append), disagreeing batch refused by name; pre/current/by-bucket == recompute"),

    // ---------------------------------------------------------------
    // TIME-BASED RETENTION (Delta's VACUUM RETAIN n HOURS): commit
    // timestamps are pinned, so the cutoff is deterministic — retain
    // 2500ms at now=5500 keeps exactly ts>=3000 (v2, v3). The
    // pre-cutoff version must become UNREADABLE (require()d) while
    // the oldest retained version still time-travels; both retained
    // snapshots equal the recompute oracle.
    // ---------------------------------------------------------------
    Q("q193_vacuum_retain",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_vretainq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view")).persist()
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)                     // v0
          Versioned.append(s, lake,
            base.filter(col("event_id") % 100 === 1)
              .withColumn("event_id", col("event_id") + lit(10000000L)),
            Seq("event_type"), commitTs = 2000L)                        // v1
          Versioned.append(s, lake,
            base.filter(col("event_id") % 100 === 2)
              .withColumn("event_id", col("event_id") + lit(20000000L)),
            Seq("event_type"), commitTs = 3000L)                        // v2
          Versioned.mergeInto(s, lake,
            base.filter(col("event_id") % 10 === 0)
              .withColumn("value", col("value") * 2)
              .withColumn("__delete", lit(false)),
            Seq("event_type"), Seq("event_id"), commitTs = 4000L)       // v3
          Versioned.vacuumRetain(s, lake, retainMillis = 2500L,
            nowMillis = 5500L) // cutoff 3000: v2 and v3 stay
          val gone = try { Versioned.filesAt(s, lake, 1L); false }
            catch { case _: Exception => true }
          require(gone, "the pre-cutoff version must be unreadable")
          require(Versioned.currentVersion(s, lake) == 3L)
          base.unpersist()
        }
        def agg(d: DataFrame, tag: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag))
        agg(Versioned.snapshot(s, lake, 2L), "oldest_retained")
          .unionByName(agg(Versioned.snapshot(s, lake), "current"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        v2 AS (
          SELECT * FROM t
          UNION ALL
          SELECT event_type, event_id + 10000000, value
          FROM t WHERE event_id % 100 = 1
          UNION ALL
          SELECT event_type, event_id + 20000000, value
          FROM t WHERE event_id % 100 = 2),
        v3 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM v2)
        SELECT * FROM (
          SELECT 'current' AS src, event_type, count(*) AS row_count,
                 round(sum(value::DOUBLE), 4) AS sum_value,
                 count(DISTINCT event_id) AS n_ids
          FROM v3 GROUP BY 2
          UNION ALL
          SELECT 'oldest_retained', event_type, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM v2 GROUP BY 2)
        ORDER BY 1, 2"""),
      "time-based retention: pinned timestamps make the cutoff deterministic — pre-cutoff version unreadable require()d; oldest-retained travel + current == recompute"),

    // ---------------------------------------------------------------
    // UNIFIED TABLE STREAM ACROSS REWRITE RANGES (Delta's streaming
    // CDF read): readStream.format("graft") with readChanges, seeded
    // at the enable version, streams the WHOLE mixed history — every
    // commit's #cdfinc increment — into a versioned replica that
    // merges each batch, which must equal the primary. The replica is
    // seeded fresh per run. maxVersionsPerTrigger=1 keeps
    // every batch to one commit, so no batch holds two actions for
    // one key. The non-empty batch count is pinned as a constant leg:
    // (1,2] merge, (2,3] append, (3,4] delete, (4,5] restore = 4,
    // proving the cap bit from the first batch on (not one lump).
    // ---------------------------------------------------------------
    Q("q187_unified_table_stream",
      (s, dir) => {
        val lake = cdfPropFixture(s, dir)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val froot = new File(new File(sys.props("user.dir"), "target"),
          s"graft_cdfprop_vfollow_$tag")
        val replica = new File(froot, "replica").getAbsolutePath
        val ckpt = new File(froot, "ckpt").getAbsolutePath
        val nBatches = LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(froot.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(froot.getAbsolutePath), true)
          seedVersioned(s, replica, Versioned.snapshot(s, lake, 1L))
          var applied = 0
          s.readStream.format("graft")
            .option("readChanges", "true")
            .option("startingVersion", "1")
            .option("maxVersionsPerTrigger", "1")
            .load(lake)
            .writeStream
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (d: DataFrame, _: Long) =>
              val b = d.filter(col("_action") =!= "update_preimage")
                .withColumn("__delete", col("_action") === "delete")
                .drop("_action", "_commit_version")
              if (!b.isEmpty) {
                Versioned.mergeInto(s, replica, b,
                  Seq("event_type"), Seq("event_id"))
                applied += 1
              }
              ()
            }
            .start().awaitTermination()
          applied
        }
        def agg(d: DataFrame, tag: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(tag))
        agg(Versioned.snapshot(s, lake), "primary")
          .unionByName(agg(Versioned.snapshot(s, replica), "followed"))
          .unionByName(s.range(1).select(
            lit(s"n=$nBatches").as("event_type"),
            lit(null).cast("long").as("row_count"),
            lit(null).cast("double").as("sum_value"),
            lit(null).cast("long").as("n_ids"),
            lit("ranges").as("src")))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2)
        SELECT * FROM (
          SELECT 'primary' AS src, event_type, count(*) AS row_count,
                 round(sum(value::DOUBLE), 4) AS sum_value,
                 count(DISTINCT event_id) AS n_ids
          FROM st1 GROUP BY 2
          UNION ALL
          SELECT 'followed', event_type, count(*), round(sum(value::DOUBLE), 4),
                 count(DISTINCT event_id)
          FROM st1 GROUP BY 2
          UNION ALL
          SELECT 'ranges', 'n=4', NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT)
        ORDER BY 1, 2"""),
      "unified table stream: readStream.format(graft) with readChanges across merge/append/delete/restore, one commit per batch; replica == primary, batch count pinned"),

    // ---------------------------------------------------------------
    // COLUMN MAPPING (Delta name-mapping / Iceberg field IDs): RENAME
    // and DROP COLUMN as metadata-only commits — files keep their
    // physical names forever, reads select through the manifest's
    // mapping, writers reverse it, and old versions time-travel under
    // their own meta. Legs: v0 under the ORIGINAL names, v2 (post-
    // merge, renamed, user_id still visible), the current state (drop
    // + append through the mapping), and the visible schema pinned as
    // a constant — every leg against a recomputed-prefix oracle.
    // ---------------------------------------------------------------
    Q("q184_column_mapping",
      (s, dir) => {
        val lake = colmapFixture(s, dir)
        require(Versioned.filesAt(s, lake, 1L) ==
          Versioned.filesAt(s, lake, 0L),
          "rename must be metadata-only (identical file list)")
        def agg(d: DataFrame, tag: String, score: String, users: org.apache.spark.sql.Column) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum(score), 4).as("sum_score"),
              users.as("n_users"))
            .withColumn("src", lit(tag))
        val cols = Versioned.snapshot(s, lake).columns.sorted.mkString(",")
        agg(Versioned.snapshot(s, lake, 0L), "v0_original",
            "value", count_distinct(col("user_id")))
          .unionByName(agg(Versioned.snapshot(s, lake, 2L), "v2_renamed",
            "score", count_distinct(col("user_id"))))
          .unionByName(agg(Versioned.snapshot(s, lake), "v4_current",
            "score", lit(null).cast("long")))
          .unionByName(s.range(1).select(
            lit(cols).as("event_type"),
            lit(null).cast("long").as("row_count"),
            lit(null).cast("double").as("sum_score"),
            lit(null).cast("long").as("n_users"),
            lit("schema").as("src")))
          .select("src", "event_type", "row_count", "sum_score", "n_users")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, user_id, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, user_id, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, user_id, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        cur AS (
          SELECT event_type, event_id, value FROM st1
          UNION ALL
          SELECT event_type, event_id + 30000000, value - 5
          FROM t WHERE event_id % 100 = 9)
        SELECT * FROM (
          SELECT 'v0_original' AS src, event_type, count(*) AS row_count,
                 round(sum(value::DOUBLE), 4) AS sum_score,
                 count(DISTINCT user_id) AS n_users
          FROM t GROUP BY 2
          UNION ALL
          SELECT 'v2_renamed', event_type, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT user_id)
          FROM st1 GROUP BY 2
          UNION ALL
          SELECT 'v4_current', event_type, count(*),
                 round(sum(value::DOUBLE), 4), NULL::BIGINT
          FROM cur GROUP BY 2
          UNION ALL
          SELECT 'schema', 'event_id,event_type,score',
                 NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT)
        ORDER BY 1, 2"""),
      "column mapping: rename/drop metadata-only (file list require()d identical); reads+writes through the mapping at every version == recomputed oracle; visible schema pinned"),

    // ---------------------------------------------------------------
    // NULL-COUNT PRUNING + THE ONE FRONT DOOR: stats sidecars carry
    // per-file footer null counts, so IS NULL skips every no-null file
    // and IS NOT NULL skips every all-null file — require()d to
    // actually prune (value2 is null exactly on the click partition).
    // prunedScan routes range -> boxes, null tests -> counts, IN ->
    // blooms-or-residual, intersects the survivors, and re-applies
    // everything exactly. fastNullCount answers metadata-only and is
    // maintained by the append commit's own inc sidecar.
    // ---------------------------------------------------------------
    Q("q185_null_stats_pruning",
      (s, dir) => {
        val lake = nullStatsFixture(s, dir)
        val total = Versioned.filesAt(s, lake).size
        val isnullC = Versioned.prunedScanCandidates(s, lake,
          Seq(PruneIsNull("value2"))).files
        require(isnullC.nonEmpty && isnullC.size < total &&
          isnullC.forall(_.contains("event_type=click")),
          "IS NULL must skip the view files")
        val nnC = Versioned.prunedScanCandidates(s, lake,
          Seq(PruneNotNull("value2"))).files
        require(nnC.nonEmpty && nnC.size < total &&
          nnC.forall(_.contains("event_type=view")),
          "IS NOT NULL must skip the all-null click files")
        def agg(d: DataFrame, tag: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value2"), 4).as("sum_v"))
            .withColumn("src", lit(tag))
        agg(Versioned.prunedScan(s, lake, Seq(PruneIsNull("value2"))),
            "isnull")
          .unionByName(agg(Versioned.prunedScan(s, lake,
            Seq(PruneNotNull("value2"),
              PruneRange("event_id", 0.0, 100000.0))), "notnull_range"))
          .unionByName(agg(Versioned.prunedScan(s, lake,
            Seq(PruneIn("event_id", Seq(40L, 59L, 86L, 100L)))), "probe"))
          .unionByName(s.range(1).select(
            concat(lit("nulls="), lit(Versioned.fastNullCount(s, lake,
              "value2")).cast("string")).as("event_type"),
            lit(null).cast("long").as("row_count"),
            lit(null).cast("double").as("sum_v"),
            lit("nullcount").as("src")))
          .select("src", "event_type", "row_count", "sum_v")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        w AS (
          SELECT event_type, event_id,
                 CASE WHEN event_type = 'click' THEN NULL
                      ELSE value END AS value2
          FROM t
          UNION ALL
          SELECT event_type, event_id + 30000000,
                 CASE WHEN event_type = 'click' THEN NULL
                      ELSE value - 5 END
          FROM t WHERE event_id % 100 = 9)
        SELECT * FROM (
          SELECT 'isnull' AS src, event_type, count(*) AS row_count,
                 round(sum(value2::DOUBLE), 4) AS sum_v
          FROM w WHERE value2 IS NULL GROUP BY 2
          UNION ALL
          SELECT 'notnull_range', event_type, count(*),
                 round(sum(value2::DOUBLE), 4)
          FROM w WHERE value2 IS NOT NULL
            AND event_id BETWEEN 0 AND 100000 GROUP BY 2
          UNION ALL
          SELECT 'probe', event_type, count(*),
                 round(sum(value2::DOUBLE), 4)
          FROM w WHERE event_id IN (40, 59, 86, 100) GROUP BY 2
          UNION ALL
          SELECT 'nullcount', 'nulls=' || count(*)::VARCHAR,
                 NULL::BIGINT, NULL::DOUBLE
          FROM w WHERE value2 IS NULL)
        ORDER BY 1, 2"""),
      "null-count stats: IS NULL / IS NOT NULL file pruning require()d real; one prunedScan front door routes boxes/nulls/blooms; fastNullCount == recomputed count"),

    // ---------------------------------------------------------------
    // THE DATA SOURCE SURFACE (spark.read.format("graft")): the same
    // versioned CDC fixture read through the PLANNER instead of the
    // library — a HadoopFsRelation over the manifest-driven FileIndex,
    // so Catalyst's column pruning, partition pruning and parquet
    // pushdown all operate on the lake. Three legs: the latest
    // snapshot, VERSION AS OF 1 (time travel as a reader option), and
    // a pushed range filter (event_id < 10M cuts the synthetic-insert
    // rows) — each must equal its batch prefix's recompute oracle.
    // The require pins that the planner actually planned our index
    // (scheme, not timing); file-skipping exactness is pinned by
    // GraftLakeSourceSpec on a stats-bearing fixture.
    // ---------------------------------------------------------------
    Q("q194_datasource_read",
      (s, dir) => {
        val vlake = versionedCdcFixture(s, dir)
        val latest = s.read.format("graft").load(vlake)
        require(latest.queryExecution.executedPlan.toString()
          .contains("GraftFileIndex"),
          "the read must plan through the manifest-driven FileIndex")
        val v1 = s.read.format("graft").option("versionAsOf", "1").load(vlake)
        // the SQL catalog surface: VERSION AS OF through spark.sql
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        val sqlV1 = s.sql(s"SELECT * FROM graft.`$vlake` VERSION AS OF 1")
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(src))
        agg(latest, "ds_latest")
          .unionByName(agg(v1, "ds_v1"))
          .unionByName(agg(sqlV1, "ds_sql_v1"))
          .unionByName(agg(latest.filter(col("event_id") < 10000000L),
            "ds_range"))
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        st3 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 4 THEN value + 100
                      WHEN event_id % 10 = 6 THEN value - 1
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (0, 1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2
          UNION ALL
          SELECT event_type, event_id + 20000000, value + 10
          FROM t WHERE event_id % 100 = 7)
        SELECT * FROM (
          SELECT 'ds_latest' AS src, event_type, count(*) AS row_count,
                 round(sum(value::DOUBLE), 4) AS sum_value,
                 count(DISTINCT event_id) AS n_ids
          FROM st3 GROUP BY 2
          UNION ALL
          SELECT 'ds_v1', event_type, count(*), round(sum(value::DOUBLE), 4),
                 count(DISTINCT event_id)
          FROM st1 GROUP BY 2
          UNION ALL
          SELECT 'ds_sql_v1', event_type, count(*), round(sum(value::DOUBLE), 4),
                 count(DISTINCT event_id)
          FROM st1 GROUP BY 2
          UNION ALL
          SELECT 'ds_range', event_type, count(*), round(sum(value::DOUBLE), 4),
                 count(DISTINCT event_id)
          FROM st3 WHERE event_id < 10000000 GROUP BY 2)
        ORDER BY 1, 2"""),
      "spark.read.format(graft) + the SQL catalog: planner-driven lake reads — latest, VERSION AS OF (option and SQL syntax), and a pushed range filter each equal the recompute oracle"),

    // ---------------------------------------------------------------
    // ROW-LEVEL MERGE-ON-READ (scoped tombstones): the same 3-batch
    // CDC payload as q165, committed via mergeIntoMor — each batch
    // writes ONE key file + its own rows, ZERO partition rewrites
    // (require()d: every pre-existing file stays referenced through
    // all three merges). Chained scoped tombstones must resolve to
    // exactly the COW semantics: batch-1 state (time travel), the
    // final state, and the post-materializeDeletes state all equal
    // the recompute oracles; the require pins fastRowCount after the
    // fold (the metadata-only count sees the same cardinality).
    // ---------------------------------------------------------------
    Q("q195_mor_merge",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_morlake_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view")).persist()
          try {
            MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
            Versioned.init(s, lake, commitTs = 1000L)
            val v0Files = Versioned.filesAt(s, lake, 0L).toSet
            cdcPayload(base).zipWithIndex.foreach { case (b, i) =>
              Versioned.mergeIntoMor(s, lake, b, Seq("event_type"),
                Seq("event_id"), commitTs = 2000L + 1000L * i)
            }
            require(v0Files.subsetOf(Versioned.filesAt(s, lake, 3L).toSet),
              "MOR merges must not rewrite or drop any pre-existing file")
          } finally base.unpersist()
        }
        def agg(d: DataFrame, src: String) =
          d.groupBy("event_type").agg(
              count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("event_id")).as("n_ids"))
            .withColumn("src", lit(src))
        val out = agg(Versioned.snapshot(s, lake, 1L), "mor_v1")
          .unionByName(agg(Versioned.snapshot(s, lake), "mor_final"))
        // fold the tombstones; the materialized state re-reads equal
        val folded = LakeQueries.synchronized {
          Versioned.materializeDeletes(s, lake, Seq("event_type"))
          require(Versioned.deleteFilesAt(s, lake).isEmpty)
          agg(Versioned.snapshot(s, lake), "mor_materialized")
        }
        require(Versioned.fastRowCount(s, lake) ==
          Versioned.snapshot(s, lake).count(),
          "metadata-only count must agree after the fold")
        out.unionByName(folded)
          .select("src", "event_type", "row_count", "sum_value", "n_ids")
          .orderBy("src", "event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        st1 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2),
        st3 AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 4 THEN value + 100
                      WHEN event_id % 10 = 6 THEN value - 1
                      ELSE value END AS value
          FROM t WHERE event_id % 10 NOT IN (0, 1, 5)
          UNION ALL
          SELECT event_type, event_id + 10000000, (value + 1) * 3
          FROM t WHERE event_id % 100 = 2
          UNION ALL
          SELECT event_type, event_id + 20000000, value + 10
          FROM t WHERE event_id % 100 = 7)
        SELECT * FROM (
          SELECT 'mor_v1' AS src, event_type, count(*) AS row_count,
                 round(sum(value::DOUBLE), 4) AS sum_value,
                 count(DISTINCT event_id) AS n_ids
          FROM st1 GROUP BY 2
          UNION ALL
          SELECT 'mor_final', event_type, count(*), round(sum(value::DOUBLE), 4),
                 count(DISTINCT event_id)
          FROM st3 GROUP BY 2
          UNION ALL
          SELECT 'mor_materialized', event_type, count(*),
                 round(sum(value::DOUBLE), 4), count(DISTINCT event_id)
          FROM st3 GROUP BY 2)
        ORDER BY 1, 2"""),
      "row-level MOR merge: 3 chained scoped-tombstone upsert batches, zero partition rewrites require()d; v1 travel, final, and materialized states == COW recompute oracles"),

    // ---------------------------------------------------------------
    // SQL MERGE INTO — q115's exact merge scenario as SQL TEXT through
    // the catalog (GraftRowLevelSql lowers the analyzed MergeIntoTable
    // onto Versioned.mergeInto): WHEN MATCHED AND s.del THEN DELETE,
    // WHEN MATCHED THEN UPDATE SET *, WHEN NOT MATCHED THEN INSERT *.
    // The readback is ALSO SQL (catalog name), so the whole row is the
    // declarative surface end-to-end; the oracle is q115's recompute
    // restricted to the same click/view base.
    // ---------------------------------------------------------------
    Q("q196_sql_merge",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_sqlmq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          base.filter(col("event_id") % 10 === 0)
              .withColumn("value", col("value") * 2)
              .withColumn("del", lit(false))
            .unionByName(base.filter(col("event_id") % 10 === 1)
              .withColumn("del", lit(true)))
            .unionByName(base.filter(col("event_id") % 100 === 2)
              .withColumn("event_id", col("event_id") + lit(10000000L))
              .withColumn("value", col("value") + 1)
              .withColumn("del", lit(false)))
            .createOrReplaceTempView("q196_batch_src")
          s.sql(
            s"""MERGE INTO gsql.`$lake` t USING q196_batch_src s
               |ON t.event_id = s.event_id
               |WHEN MATCHED AND s.del THEN DELETE
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED AND NOT s.del THEN INSERT *""".stripMargin)
        }
        s.sql(
          s"""SELECT event_type, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT event_id) AS n_ids
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        fin AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
          FROM t WHERE event_id % 10 <> 1
          UNION ALL
          SELECT event_type, event_id + 10000000, value + 1
          FROM t WHERE event_id % 100 = 2)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM fin GROUP BY 1 ORDER BY 1"""),
      "SQL MERGE INTO (DELETE / UPDATE SET * / conditional INSERT *) through the catalog == q115's recompute oracle; readback is SQL too"),

    // ---------------------------------------------------------------
    // SQL UPDATE + DELETE as text — partition-scoped COW commits
    // (Versioned.updateWhere / deleteWhereCow) with the usual oracle
    // recompute. The UPDATE assigns an ABSOLUTE expression so the row
    // is idempotent under bench re-runs.
    // ---------------------------------------------------------------
    Q("q197_sql_update_delete",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_sqludq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          s.sql(s"UPDATE gsql.`$lake` SET value = user_id * 0.5D " +
            "WHERE user_id % 7 = 0")
          s.sql(s"DELETE FROM gsql.`$lake` WHERE user_id % 13 = 3")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT user_id) AS n_users
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, user_id, value FROM events
                   WHERE event_type IN ('click','view')),
        fin AS (
          SELECT event_type, user_id,
                 CASE WHEN user_id % 7 = 0 THEN user_id * 0.5::DOUBLE
                      ELSE value END AS value
          FROM t WHERE user_id % 13 <> 3)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM fin GROUP BY 1 ORDER BY 1"""),
      "SQL UPDATE + DELETE as text: partition-scoped COW commits == CASE/filter recompute oracle"),

    // ---------------------------------------------------------------
    // SQL INSERT INTO + INSERT OVERWRITE through the catalog's V1
    // write (every insert a manifest commit), with the post-INSERT
    // state read back through SQL TIME TRAVEL (`VERSION AS OF`) after
    // the OVERWRITE replaced it — inserts, overwrite and travel all
    // exercised in one declarative row.
    // ---------------------------------------------------------------
    Q("q198_sql_insert",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_sqlinq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          MergeData.writeMerged(s, base.filter(col("event_type") === "click"),
            lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          base.createOrReplaceTempView("q198_events_src")
          s.sql(s"INSERT INTO gsql.`$lake` " +
            "SELECT event_id, user_id, value, event_type " +
            "FROM q198_events_src WHERE event_type = 'view'")
          s.sql(s"INSERT OVERWRITE gsql.`$lake` " +
            "SELECT event_id, user_id, value * 3, event_type " +
            "FROM q198_events_src WHERE event_type = 'purchase'")
        }
        s.sql(
          s"""SELECT 'after_insert' AS src, event_type,
             |       count(*) AS row_count, round(sum(value), 4) AS sum_value
             |FROM gsql.`$lake` VERSION AS OF 1 GROUP BY 2
             |UNION ALL
             |SELECT 'after_overwrite', event_type,
             |       count(*), round(sum(value), 4)
             |FROM gsql.`$lake` GROUP BY 2
             |ORDER BY 1, 2""".stripMargin)
      },
      Some("""
        SELECT 'after_insert' AS src, event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM events WHERE event_type IN ('click','view') GROUP BY 2
        UNION ALL
        SELECT 'after_overwrite', event_type, count(*),
               round(sum(value::DOUBLE * 3), 4)
        FROM events WHERE event_type = 'purchase' GROUP BY 2
        ORDER BY 1, 2"""),
      "SQL INSERT INTO (manifest append) + INSERT OVERWRITE (full replace) through the catalog; pre-overwrite state read via SQL VERSION AS OF"),

    // ---------------------------------------------------------------
    // readStream.format("graft") — the table follower's
    // batch-visible leg (q187's discipline): a source
    // lake streams into a txn-marked graft sink (AvailableNow), a
    // second wave appends and tails in on the next run, and the SINK's
    // final state must hash-match the plain batch recompute. Streaming
    // internals (restarts, crash replay, chunking) are pinned by
    // GraftStreamSourceSpec; this row makes the surface oracle-graded.
    // ---------------------------------------------------------------
    Q("q199_readstream_follow",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_rsfq_$tag")
        val src = new File(root, "src").getAbsolutePath
        val sink = new File(root, "sink").getAbsolutePath
        val ckpt = new File(root, "ckpt").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          def follow(): Unit = followInto(s, src, sink, ckpt)
          MergeData.writeMerged(s,
            base.filter(col("event_type") === "click"), src,
            keys = Seq("event_type"))
          Versioned.init(s, src, commitTs = 1000L)
          follow() // batch 0: the snapshot (clicks)
          Versioned.append(s, src,
            base.filter(col("event_type") === "view"), Seq("event_type"),
            commitTs = 2000L)
          follow() // tail: the appended views
        }
        Versioned.snapshot(s, sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM events WHERE event_type IN ('click','view')
        GROUP BY 1 ORDER BY 1"""),
      "readStream.format(graft) -> txn graft sink across two AvailableNow runs (snapshot + appended wave): sink state == batch recompute"),

    // ---------------------------------------------------------------
    // COLUMN MAPPING on the VECTORIZED fast path: rename a column
    // (metadata-only), append a post-rename wave (its files carry the
    // PHYSICAL name), then read through the format — the plan is
    // require()d to be a columnar FileSourceScan over GraftFileIndex
    // (not the row-based snapshot relation the mapped read used to
    // drop to), and the values hash against the plain recompute.
    // ---------------------------------------------------------------
    Q("q200_mapped_vectorized_read",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_mapvq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          MergeData.writeMerged(s,
            base.filter(col("event_type").isin("click", "view")), lake,
            keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.renameColumn(s, lake, "value", "reading")
          Versioned.append(s, lake,
            base.filter(col("event_type") === "purchase")
              .withColumnRenamed("value", "reading"),
            Seq("event_type"), commitTs = 2000L)
        }
        val read = s.read.format("graft").load(lake)
        val scans = read.queryExecution.executedPlan.collect {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
        }
        require(scans.nonEmpty &&
          scans.head.relation.location
            .isInstanceOf[graft.sources.GraftFileIndex] &&
          scans.head.supportsColumnar,
          "mapped read must plan a columnar FileSourceScan over GraftFileIndex")
        read.filter(col("reading") >= 0.0) // logical-name pushdown leg
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("reading"), 4).as("sum_reading"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_reading,
               count(DISTINCT event_id) AS n_ids
        FROM events WHERE event_type IN ('click','view','purchase')
          AND value >= 0.0
        GROUP BY 1 ORDER BY 1"""),
      "column-mapped read stays vectorized (plan require()s GraftFileIndex + ColumnarBatch): rename + post-rename append read logical == recompute"),

    // ---------------------------------------------------------------
    // MOR WINDOW on the VECTORIZED path: with GraftVectorizedReads
    // registered, a table holding PENDING scoped tombstones (a MOR
    // merge) AND a column mapping reads as a columnar FileSourceScan
    // over GraftFileIndex with the tombstones applied as a POST-SCAN
    // anti-join — the plan shape is require()d (scan + LeftAnti), and
    // the rows hash against the plain recompute. Before this round a
    // MOR-steady-state table paid row conversion on every read.
    // ---------------------------------------------------------------
    Q("q201_mor_vectorized_read",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_morvq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.renameColumn(s, lake, "value", "reading")
          // q115's batch shape through the MOR path, under the rename —
          // the tombstones stay PENDING (no materialize): the read
          // below exercises the scoped anti-join itself
          Versioned.mergeIntoMor(s, lake,
            base.filter(col("event_id") % 10 === 0)
                .withColumn("value", col("value") * 2)
                .withColumnRenamed("value", "reading")
                .withColumn("__delete", lit(false))
              .unionByName(base.filter(col("event_id") % 10 === 1)
                .withColumnRenamed("value", "reading")
                .withColumn("__delete", lit(true))),
            Seq("event_type"), Seq("event_id"), commitTs = 2000L)
          require(Versioned.deleteFilesAt(s, lake).nonEmpty,
            "the MOR tombstones must still be pending for this row")
        }
        val read = s.read.format("graft").load(lake)
        def scans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
          p.collect {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
              Seq(sc)
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => scans(a.executedPlan)
          }.flatten
        val ss = scans(read.queryExecution.executedPlan)
        require(ss.exists(sc => sc.relation.location
            .isInstanceOf[graft.sources.GraftFileIndex] &&
            sc.supportsColumnar),
          "MOR read must plan a columnar FileSourceScan over GraftFileIndex")
        require(read.queryExecution.executedPlan.toString.contains("LeftAnti"),
          "pending tombstones must apply as a post-scan anti-join")
        read.groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("reading"), 4).as("sum_reading"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, event_id, value FROM events
                   WHERE event_type IN ('click','view'))
        SELECT event_type, count(*) AS row_count,
               round(sum(CASE WHEN event_id % 10 = 0 THEN value * 2
                              ELSE value END::DOUBLE), 4) AS sum_reading,
               count(DISTINCT event_id) AS n_ids
        FROM t WHERE event_id % 10 <> 1
        GROUP BY 1 ORDER BY 1"""),
      "PENDING scoped tombstones + column mapping read VECTORIZED (plan require()s GraftFileIndex scan + LeftAnti anti-join) == recompute"),

    // ---------------------------------------------------------------
    // readStream CDC mode (`readChanges` — Delta's readChangeFeed):
    // a deterministic merge streams as row-level actions into a txn
    // graft sink; the batch-visible sink aggregates per `_action`
    // against a pure-SQL derivation of the feed rows (preimages = the
    // old values of updated keys, postimages = the new, inserts = the
    // genuinely-new keys). This is the follower that serves REWRITE
    // commits the append-only mode refuses.
    // ---------------------------------------------------------------
    Q("q202_readstream_changes",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_cdcsq_$tag")
        val src = new File(root, "src").getAbsolutePath
        val sink = new File(root, "sink").getAbsolutePath
        val ckpt = new File(root, "ckpt").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type") === "click")
          MergeData.writeMerged(s, base, src, keys = Seq("event_type"))
          Versioned.init(s, src, commitTs = 1000L)
          val vSeed = Versioned.enableChangeFeed(s, src, Seq("event_id"),
            commitTs = 1500L)
          Versioned.mergeInto(s, src,
            base.filter(col("event_id") % 10 === 0)
                .withColumn("value", col("value") * 2)
              .unionByName(base.filter(col("event_id") % 100 === 2)
                .withColumn("event_id", col("event_id") + lit(10000000L))
                .withColumn("value", col("value") + 1)),
            Seq("event_type"), Seq("event_id"), commitTs = 2000L)
          s.readStream.format("graft")
            .option("readChanges", "true")
            .option("startingVersion", vSeed.toString)
            .load(src)
            .writeStream.format("graft")
            .option("checkpointLocation", ckpt)
            .option("partitionKeys", "event_type")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(sink).awaitTermination()
        }
        Versioned.snapshot(s, sink)
          .groupBy("_action")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"))
          .orderBy("_action")
      },
      Some("""
        WITH t AS (SELECT event_id, value FROM events
                   WHERE event_type = 'click'),
        feed AS (
          SELECT 'update_preimage' AS _action, value FROM t
          WHERE event_id % 10 = 0
          UNION ALL
          SELECT 'update_postimage', value * 2 FROM t
          WHERE event_id % 10 = 0
          UNION ALL
          SELECT 'insert', value + 1 FROM t WHERE event_id % 100 = 2)
        SELECT _action, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM feed GROUP BY 1 ORDER BY 1"""),
      "readStream readChanges (CDC mode) -> txn graft sink: a merge's insert/update pre+post rows stream exactly == SQL feed derivation"),

    // ---------------------------------------------------------------
    // SQL TABLE FUNCTIONS: graft_changes('/lake', fromV, toV) hands
    // SQL users the change feed as a plain relation (and
    // graft_history the commit log — require()d structurally: version
    // count and operation labels). The whole query is ONE SQL
    // statement over the TVF; the oracle derives the feed rows from
    // the deterministic merge's predicates.
    // ---------------------------------------------------------------
    Q("q203_sql_tvf_changes",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_tvfq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        val (vSeed, cur) = LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type") === "view")
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          val seed = Versioned.enableChangeFeed(s, lake, Seq("event_id"),
            commitTs = 1500L)
          Versioned.mergeInto(s, lake,
            base.filter(col("event_id") % 10 === 3)
                .withColumn("value", col("value") + 100)
              .unionByName(base.filter(col("event_id") % 100 === 4)
                .withColumn("event_id", col("event_id") + lit(20000000L))
                .withColumn("value", col("value") * 3)),
            Seq("event_type"), Seq("event_id"), commitTs = 2000L)
          (seed, Versioned.currentVersion(s, lake))
        }
        // history TVF: structural pin — one row per version, the merge
        // labeled as such
        val hist = s.sql(s"SELECT version, operation " +
          s"FROM graft_history('$lake') ORDER BY version").collect()
        require(hist.map(_.getLong(0)).toSeq == (0L to cur) &&
          hist.last.getString(1) == "merge",
          "graft_history must list every version with its operation")
        s.sql(
          s"""SELECT _action, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value
             |FROM graft_changes('$lake', $vSeed, $cur)
             |GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, value FROM events
                   WHERE event_type = 'view'),
        feed AS (
          SELECT 'update_preimage' AS _action, value FROM t
          WHERE event_id % 10 = 3
          UNION ALL
          SELECT 'update_postimage', value + 100 FROM t
          WHERE event_id % 10 = 3
          UNION ALL
          SELECT 'insert', value * 3 FROM t WHERE event_id % 100 = 4)
        SELECT _action, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM feed GROUP BY 1 ORDER BY 1"""),
      "SQL table functions: graft_changes feed aggregation == SQL derivation; graft_history require()d structurally (one row per version, ops labeled)"),

    // ---------------------------------------------------------------
    // CTAS + DROP TABLE — the table LIFECYCLE as SQL: CREATE TABLE ...
    // PARTITIONED BY ... AS SELECT materializes a table atomically
    // through the staged catalog create (v0 anchor + declared spec +
    // one insert commit), a scratch CTAS is DROPped and require()d
    // gone, and the readback is SQL through the catalog.
    // ---------------------------------------------------------------
    Q("q204_sql_ctas",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_ctasq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
            .createOrReplaceTempView("q204_src")
          s.sql(s"CREATE TABLE gsql.`$lake` PARTITIONED BY (event_type) AS " +
            "SELECT event_id, user_id, value, event_type FROM q204_src " +
            "WHERE user_id % 5 <> 4")
          require(Versioned.partitionSpec(s, lake) == Some(Seq("event_type")),
            "CTAS PARTITIONED BY must declare the spec")
          require(Versioned.filesAt(s, lake)
            .forall(_.startsWith("event_type=")),
            "CTAS data must land Hive-partitioned")
          // lifecycle leg: a scratch CTAS, dropped, leaves nothing
          val scratch = new File(root, "scratch").getAbsolutePath
          s.sql(s"CREATE TABLE gsql.`$scratch` AS " +
            "SELECT * FROM q204_src WHERE user_id % 5 = 4")
          require(Versioned.currentVersion(s, scratch) >= 0)
          s.sql(s"DROP TABLE gsql.`$scratch`")
          require(Versioned.currentVersion(s, scratch) < 0 &&
            !new File(scratch).exists(),
            "DROP TABLE must remove manifest and data")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT user_id) AS n_users
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE event_type IN ('click','view') AND user_id % 5 <> 4
        GROUP BY 1 ORDER BY 1"""),
      "SQL CTAS (atomic staged create, PARTITIONED BY declares the spec) + DROP TABLE lifecycle; readback == direct SELECT oracle"),

    // ---------------------------------------------------------------
    // ALTER TABLE ADD COLUMN — METADATA-ONLY schema addition
    // (protocol level 5, `#addcol`): zero data files change at the
    // add (require()d), reads null-fill, a later SQL INSERT carries
    // real values, and the aggregate splits on presence so the oracle
    // checks both the null-filled old rows and the carried new ones.
    // ---------------------------------------------------------------
    Q("q205_sql_add_column",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_addcolq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type") === "click")
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          val vPre = Versioned.currentVersion(s, lake)
          val filesPre = Versioned.filesAt(s, lake).toSet
          s.sql(s"ALTER TABLE gsql.`$lake` ADD COLUMN bonus DOUBLE")
          require(Versioned.filesAt(s, lake).toSet == filesPre,
            "ADD COLUMN must be metadata-only (zero data-file changes)")
          require(!Versioned.snapshot(s, lake, vPre).columns.contains("bonus"),
            "the pre-add version must travel WITHOUT the column")
          base.createOrReplaceTempView("q205_src")
          s.sql(s"INSERT INTO gsql.`$lake` " +
            "SELECT event_id + 30000000, user_id, value * 2, event_type, " +
            "value AS bonus FROM q205_src WHERE user_id % 7 = 0")
        }
        s.sql(
          s"""SELECT (bonus IS NULL) AS no_bonus, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       round(sum(coalesce(bonus, 0.0)), 4) AS sum_bonus
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, user_id, value FROM events
                   WHERE event_type = 'click'),
        allr AS (
          SELECT value, NULL::DOUBLE AS bonus FROM t
          UNION ALL
          SELECT value * 2, value FROM t WHERE user_id % 7 = 0)
        SELECT (bonus IS NULL) AS no_bonus, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               round(sum(coalesce(bonus, 0.0)::DOUBLE), 4) AS sum_bonus
        FROM allr GROUP BY 1 ORDER BY 1"""),
      "SQL ADD COLUMN: metadata-only commit require()d (zero file changes, travel without it), null-filled reads + a carrying INSERT == UNION oracle"),

    // ---------------------------------------------------------------
    // SQL MAINTENANCE VERBS — the operator loop as SQL text (needs the
    // session-built parser extension, which Verify/Bench sessions set
    // via spark.sql.extensions): OPTIMIZE compacts (file counts
    // require()d from the command's own metric row), REORG APPLY
    // (PURGE) folds a pending tombstone, RESTORE travels the table
    // back, SHALLOW CLONE materializes a metadata-only copy, VACUUM
    // reaps history — and the final readback is the CLONE, so the
    // whole chain must have preserved the restored state exactly.
    // ---------------------------------------------------------------
    Q("q206_sql_maintenance",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_mntq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        val clone = new File(root, "clone").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type") === "view")
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          // two appends → small files for OPTIMIZE to earn its keep
          Versioned.append(s, lake,
            base.withColumn("event_id", col("event_id") + lit(40000000L))
              .withColumn("value", col("value") * 2),
            Seq("event_type"), commitTs = 2000L)
          Versioned.append(s, lake,
            base.withColumn("event_id", col("event_id") + lit(50000000L))
              .withColumn("value", col("value") + 1),
            Seq("event_type"), commitTs = 3000L)
          val opt = sqlMaint(s, s"OPTIMIZE gsql.`$lake`").collect().head
          require(opt.getLong(1) > opt.getLong(2),
            s"OPTIMIZE must compact the appended small files (got $opt)")
          val vOpt = opt.getLong(0)
          // MOR delete + REORG PURGE: tombstone folded away
          Versioned.deleteWhere(s, lake, col("event_id") % 10 === 7,
            Seq("event_id"))
          require(Versioned.deleteFilesAt(s, lake,
            Versioned.currentVersion(s, lake)).nonEmpty)
          sqlMaint(s, s"REORG TABLE gsql.`$lake` APPLY (PURGE)")
          require(Versioned.deleteFilesAt(s, lake,
            Versioned.currentVersion(s, lake)).isEmpty,
            "REORG APPLY (PURGE) must leave no pending tombstones")
          // RESTORE back to the post-optimize state (deletes undone)
          val rest = sqlMaint(s, s"RESTORE TABLE gsql.`$lake` " +
            s"TO VERSION AS OF $vOpt").collect().head
          require(rest.getLong(0) == vOpt)
          // SHALLOW CLONE the restored table, then VACUUM the source:
          // the clone must still read (its refs are absolute)
          sqlMaint(s, s"CREATE TABLE gsql.`$clone` SHALLOW CLONE gsql.`$lake`")
          val kept = sqlMaint(s, s"VACUUM gsql.`$lake` RETAIN 0 HOURS")
            .collect().head
          require(kept.getLong(0) == 1L,
            s"VACUUM RETAIN 0 must keep exactly the current version ($kept)")
        }
        s.sql(
          s"""SELECT count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT event_id) AS n_ids
             |FROM gsql.`$clone` ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, value FROM events
                   WHERE event_type = 'view'),
        allr AS (
          SELECT event_id, value FROM t
          UNION ALL
          SELECT event_id + 40000000, value * 2 FROM t
          UNION ALL
          SELECT event_id + 50000000, value + 1 FROM t)
        SELECT count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM allr ORDER BY 1"""),
      "SQL maintenance verbs end-to-end: OPTIMIZE (file-count metric require()d) -> MOR delete -> REORG APPLY (PURGE) -> RESTORE -> SHALLOW CLONE -> VACUUM; clone readback == 3-batch union oracle"),

    // ---------------------------------------------------------------
    // POSITIONAL DELETION VECTORS (protocol level 5) — the arbitrary-
    // predicate MOR delete at 100 TB shape: two stacked predicate
    // deletes (one through SQL DELETE under the vectors conf, one
    // through the library) commit (file, row-ordinal) sidecars with
    // ZERO data-file changes (require()d), reads apply them as one
    // positional anti-join, and the readback equals the filter
    // recompute. The travel leg re-reads the pre-delete version.
    // ---------------------------------------------------------------
    Q("q207_delete_vectors",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_dvq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          val files0 = Versioned.filesAt(s, lake).toSet
          // SQL DELETE routed to deletion vectors by conf
          s.conf.set("spark.graft.sql.delete.vectors", "true")
          try s.sql(s"DELETE FROM gsql.`$lake` WHERE event_id % 13 = 5")
          finally s.conf.unset("spark.graft.sql.delete.vectors")
          // a second, stacked vector through the library
          Versioned.deleteWhereVectors(s, lake,
            col("value") < 0.1 && col("user_id") % 2 === 0)
          require(Versioned.filesAt(s, lake).toSet == files0,
            "deletion-vector deletes must not touch any data file")
          require(Versioned.deleteFilesAt(s, lake,
            Versioned.currentVersion(s, lake)).size >= 2,
            "both vector commits must pend")
          // travel: the pre-delete version still reads every row
          require(Versioned.snapshot(s, lake, 0L).count() == base.count(),
            "pre-delete version must travel with all rows")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT event_id) AS n_ids
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM events
        WHERE event_type IN ('click','view')
          AND event_id % 13 <> 5
          AND NOT (value < 0.1 AND user_id % 2 = 0)
        GROUP BY 1 ORDER BY 1"""),
      "positional deletion vectors: two stacked arbitrary-predicate MOR deletes (SQL-routed + library), zero data-file changes require()d, read == filter recompute oracle"),

    // ---------------------------------------------------------------
    // SQL COPY INTO — the reference's ingest loop as a verb: csv.gz
    // upload drops land idempotently (file-level ledger + the txn
    // exactly-once rail). The re-run MUST load zero files and commit
    // nothing (require()d — the whole point of the verb), the late
    // drop loads only itself, and the readback equals the union
    // oracle recomputed from `events`.
    // ---------------------------------------------------------------
    Q("q208_sql_copy_into",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_copyq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        val drops = new File(root, "drops").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          // seed table: the click rows; the drops carry the rest
          MergeData.writeMerged(s, base.filter(col("event_type") === "click"),
            lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          base.filter(col("event_type") === "view").coalesce(1)
            .write.option("header", "true").option("compression", "gzip")
            .csv(s"$drops/upload_view")
          val copy = s"COPY INTO gsql.`$lake` FROM '$drops' " +
            "FILEFORMAT = CSV PATTERN = '*.csv.gz' " +
            "FORMAT_OPTIONS ('header' = 'true')"
          val r1 = sqlMaint(s, copy).collect().head
          require(r1.getLong(1) > 0L, s"first COPY must load files ($r1)")
          // idempotent re-run: zero loads, zero commits
          val v1 = Versioned.currentVersion(s, lake)
          val r2 = sqlMaint(s, copy).collect().head
          require(r2.getLong(1) == 0L && r2.getLong(2) == r1.getLong(1),
            s"re-run must skip every loaded file ($r2)")
          require(Versioned.currentVersion(s, lake) == v1,
            "re-run must not commit")
          // a late drop loads ONLY itself
          base.filter(col("event_type") === "click")
            .withColumn("event_id", col("event_id") + lit(100000000L))
            .withColumn("value", col("value") * 3)
            .coalesce(1)
            .write.option("header", "true").option("compression", "gzip")
            .csv(s"$drops/upload_late")
          val r3 = sqlMaint(s, copy).collect().head
          require(r3.getLong(1) > 0L && r3.getLong(2) == r1.getLong(1),
            s"late drop must load only itself ($r3)")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT event_id) AS n_ids
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, value, event_type FROM events
                   WHERE event_type IN ('click','view')),
        allr AS (
          SELECT event_id, value, event_type FROM t
          UNION ALL
          SELECT event_id + 100000000, value * 3, event_type FROM t
          WHERE event_type = 'click')
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM allr GROUP BY 1 ORDER BY 1"""),
      "SQL COPY INTO: csv.gz upload drops land idempotently (re-run loads 0 files and commits nothing, require()d; late drop loads only itself); readback == union oracle"),

    // ---------------------------------------------------------------
    // SQL ANALYZE — bootstrapping the commit-time skipping metadata
    // over a lake that predates it: COMPUTE STATISTICS backfills the
    // min/max sidecar (and the NEXT commit extends coverage by
    // inheritance, require()d), COMPUTE BLOOM STATISTICS the per-file
    // blooms; a range read and a point read then serve from the
    // sidecars with files actually skipped (require()d) and equal the
    // filter oracle.
    // ---------------------------------------------------------------
    Q("q209_sql_analyze",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_anlq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        val (rangeLeg, pointLeg) = LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          Versioned.append(s, lake,
            base.withColumn("event_id", col("event_id") + lit(100000000L))
              .withColumn("value", col("value") * 2),
            Seq("event_type"), commitTs = 2000L)
          // bootstrap stats over the two existing commits' files
          val m = sqlMaint(s, s"ANALYZE TABLE gsql.`$lake` COMPUTE " +
            "STATISTICS FOR COLUMNS (event_id, value)").collect().head
          require(m.getLong(1) == Versioned.filesAt(s, lake).size.toLong)
          // the NEXT commit inherits coverage — no re-analyze
          Versioned.append(s, lake,
            base.withColumn("event_id", col("event_id") + lit(200000000L))
              .withColumn("value", col("value") + 1),
            Seq("event_type"), commitTs = 3000L)
          sqlMaint(s, s"ANALYZE TABLE gsql.`$lake` COMPUTE BLOOM " +
            "STATISTICS FOR COLUMNS (event_id) EXPECTED 200000 ITEMS " +
            "FPP 0.01")
          // range leg: only the third commit's files survive pruning
          val total = Versioned.filesAt(s, lake).size.toLong
          val cands = Versioned.statsAt(s, lake)
            .filter(col("col") === "event_id" &&
              !(col("hi") < 2.0e8 || col("lo") > 9.0e18)).count()
          require(cands < total,
            s"range pruning must skip files ($cands of $total candidates)")
          val range = Versioned.prunedScan(s, lake,
            Seq(PruneRange("event_id", 2.0e8, 9.0e18)))
          // point leg: one known id from the SECOND commit's region
          val probe = base.filter(col("event_type") === "click")
            .agg(min("event_id")).collect().head.getLong(0) + 100000000L
          val point = Versioned.prunedScan(s, lake,
            Seq(PruneIn("event_id", Seq(probe))))
          (range.agg(count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"))
              .withColumn("leg", lit("range")),
            point.agg(count(lit(1)).as("row_count"),
              round(sum("value"), 4).as("sum_value"))
              .withColumn("leg", lit("point")))
        }
        pointLeg.unionByName(rangeLeg)
          .select("leg", "row_count", "sum_value").orderBy("leg")
      },
      Some("""
        WITH t AS (SELECT event_id, value, event_type FROM events
                   WHERE event_type IN ('click','view')),
        m AS (SELECT min(event_id) + 100000000 AS probe FROM t
              WHERE event_type = 'click'),
        a1 AS (SELECT event_id + 100000000 AS event_id, value * 2 AS value
               FROM t),
        a2 AS (SELECT event_id + 200000000 AS event_id, value + 1 AS value
               FROM t)
        SELECT 'point' AS leg, count(*) AS row_count,
               round(sum(a1.value::DOUBLE), 4) AS sum_value
        FROM a1, m WHERE a1.event_id = m.probe
        UNION ALL
        SELECT 'range' AS leg, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM a2
        ORDER BY leg"""),
      "SQL ANALYZE: stats backfill + commit inheritance (require()d) + bloom backfill; range read skips files (require()d) and point read probes blooms; both == filter oracles"),

    // ---------------------------------------------------------------
    // MERGE ... WITH SCHEMA EVOLUTION — the source's extra column
    // evolves the target DURING ANALYSIS (Spark's rule committing
    // through the catalog's metadata-only ADD COLUMN, gated by the
    // AUTOMATIC_SCHEMA_EVOLUTION capability), then one merge commit:
    // matched rows update and carry the new column, untouched rows
    // null-fill it, inserts arrive with it. The evolution commit must
    // touch zero data files (require()d) and the pre-merge version
    // must travel WITHOUT the column (require()d).
    // ---------------------------------------------------------------
    Q("q210_sql_merge_evolve",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_sevoq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          MergeData.writeMerged(s, base.filter(col("event_type") === "click"),
            lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          val files0 = Versioned.filesAt(s, lake).toSet
          base.filter(col("event_type") === "click" &&
              col("event_id") % 3 === 0)
            .withColumn("value", col("value") * 10)
            .withColumn("tag", lit("upd"))
            .unionByName(base.filter(col("event_type") === "view")
              .withColumn("tag", lit("ins")))
            .createOrReplaceTempView("q210_evolve_src")
          s.sql(
            s"""MERGE WITH SCHEMA EVOLUTION INTO gsql.`$lake` t
               |USING q210_evolve_src s
               |ON t.event_id = s.event_id
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          require(Versioned.filesAt(s, lake, 1L).toSet == files0,
            "the evolution commit must be metadata-only")
          require(Versioned.currentVersion(s, lake) == 2L,
            "exactly add-column commit + merge commit")
          require(!Versioned.snapshot(s, lake, 0L).columns.contains("tag"),
            "pre-evolution version travels without the column")
        }
        s.sql(
          s"""SELECT coalesce(tag, 'none') AS tag, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, value, event_type FROM events),
        merged AS (
          SELECT CASE WHEN event_id % 3 = 0 THEN value * 10
                      ELSE value END AS value,
                 CASE WHEN event_id % 3 = 0 THEN 'upd' END AS tag
          FROM t WHERE event_type = 'click'
          UNION ALL
          SELECT value, 'ins' FROM t WHERE event_type = 'view')
        SELECT coalesce(tag, 'none') AS tag, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM merged GROUP BY 1 ORDER BY 1"""),
      "MERGE WITH SCHEMA EVOLUTION: analyzer-driven metadata-only ADD COLUMN (zero file changes require()d) + one merge commit; null-fill/carry semantics == union oracle"),

    // ---------------------------------------------------------------
    // DECLARED CLUSTERING (liquid): CREATE TABLE ... CLUSTER BY
    // declares the layout columns as a #cluster metadata commit, and a
    // BARE `OPTIMIZE` self-clusters on them — mortonKeyN with grid
    // domains from the table's own min/max, no ZORDER spelled. The
    // compaction is require()d (file count drops to the target) and
    // the clustered readback equals the filter oracle.
    // ---------------------------------------------------------------
    Q("q211_sql_cluster_by",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_clbyq_$tag")
        val lake = new File(root, "lake").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          s.sql(s"CREATE TABLE gsql.`$lake` (event_id BIGINT, " +
            "user_id BIGINT, value DOUBLE, event_type STRING) " +
            "CLUSTER BY (event_id, user_id)")
          require(Versioned.clusterByOf(s, lake) ==
            Seq("event_id", "user_id"))
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          // three scattered inserts -> an unclustered small-file pile
          Seq("click", "view").foreach { t =>
            base.filter(col("event_type") === t)
              .createOrReplaceTempView("q211_ins_src")
            s.sql(s"INSERT INTO gsql.`$lake` SELECT * FROM q211_ins_src")
          }
          base.filter(col("event_id") % 2 === 0)
            .withColumn("event_id", col("event_id") + lit(50000000L))
            .createOrReplaceTempView("q211_ins_src")
          s.sql(s"INSERT INTO gsql.`$lake` SELECT * FROM q211_ins_src")
          // BARE OPTIMIZE: clusters on the DECLARED columns
          val m = sqlMaint(s, s"OPTIMIZE gsql.`$lake`").collect().head
          require(m.getLong(1) > m.getLong(2),
            s"bare OPTIMIZE must compact the clustered table (got $m)")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT event_id) AS n_ids
             |FROM gsql.`$lake` WHERE user_id % 5 < 3
             |GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, user_id, value, event_type FROM events
                   WHERE event_type IN ('click','view')),
        allr AS (
          SELECT event_id, user_id, value, event_type FROM t
          UNION ALL
          SELECT event_id + 50000000, user_id, value, event_type FROM t
          WHERE event_id % 2 = 0)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM allr WHERE user_id % 5 < 3
        GROUP BY 1 ORDER BY 1"""),
      "declared clustering (CLUSTER BY): #cluster metadata commit + bare OPTIMIZE self-clustering via mortonKeyN with min/max grids (compaction require()d); readback == union oracle"),

    // ---------------------------------------------------------------
    // CONVERT TO GRAFT + OPTIMIZE WHERE — onboarding and the
    // hot-partition maintenance move: a PLAIN hive-partitioned parquet
    // directory is adopted IN PLACE (file set byte-identical,
    // require()d), the declared spec guards later writers, and a
    // WHERE-scoped OPTIMIZE compacts ONLY the named partition (the
    // other partition's files stay byte-identical, require()d).
    // ---------------------------------------------------------------
    Q("q212_sql_convert",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_cvtq_$tag")
        val lake = new File(root, "plain").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          // a PLAIN parquet lake — written by vanilla Spark, no manifest
          base.write.partitionBy("event_type").parquet(lake)
          def files(p: String): Set[String] =
            PathModel.walk(fs, new org.apache.hadoop.fs.Path(lake))
              .map(_.getPath.toString).filter(f => f.endsWith(".parquet") &&
                f.contains(s"event_type=$p/")).toSet
          val clickBefore = files("click")
          val viewBefore = files("view")
          val m = sqlMaint(s, s"CONVERT TO GRAFT gsql.`$lake` " +
            "PARTITIONED BY (event_type)").collect().head
          require(m.getLong(1) ==
            (clickBefore.size + viewBefore.size).toLong &&
            files("click") == clickBefore,
            "CONVERT must adopt the files in place")
          // small appends fragment ONE partition; scoped OPTIMIZE heals
          // exactly it
          (1 to 3).foreach { i =>
            Versioned.append(s, lake,
              base.filter(col("event_type") === "click" &&
                  col("event_id") % 97 === i)
                .withColumn("event_id", col("event_id") + lit(i * 10000000L)),
              Seq("event_type"), commitTs = 1000L + i)
          }
          val viewPre = files("view")
          sqlMaint(s, s"OPTIMIZE gsql.`$lake` WHERE event_type = click")
          require(files("view") == viewPre,
            "WHERE-scoped OPTIMIZE must not touch the other partition")
          require(Versioned.filesAt(s, lake)
            .count(_.startsWith("event_type=click/")) == 1,
            "the scoped partition must compact to one file")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS row_count,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT event_id) AS n_ids
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, value, event_type FROM events
                   WHERE event_type IN ('click','view')),
        allr AS (
          SELECT event_id, value, event_type FROM t
          UNION ALL
          SELECT event_id + 10000000, value, event_type FROM t
          WHERE event_type = 'click' AND event_id % 97 = 1
          UNION ALL
          SELECT event_id + 20000000, value, event_type FROM t
          WHERE event_type = 'click' AND event_id % 97 = 2
          UNION ALL
          SELECT event_id + 30000000, value, event_type FROM t
          WHERE event_type = 'click' AND event_id % 97 = 3)
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM allr GROUP BY 1 ORDER BY 1"""),
      "CONVERT TO GRAFT (in-place adoption require()d) + OPTIMIZE WHERE (out-of-scope partition byte-identical, scoped one compacts to 1 file, require()d); readback == union oracle"),

    // ---------------------------------------------------------------
    // REPLACE TABLE AS SELECT — the history-preserving definition
    // swap: ONE commit replaces schema + contents (require()d), the
    // pre-replace version still time-travels (require()d), and the
    // readback of the NEW definition hashes against the recompute.
    // ---------------------------------------------------------------
    Q("q213_sql_replace",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_replq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view", "purchase"))
            .createOrReplaceTempView("q213_src")
          s.sql(s"CREATE TABLE gsql.`$lake` PARTITIONED BY (event_type) " +
            "AS SELECT event_id, user_id, value, event_type FROM q213_src " +
            "WHERE event_type IN ('click','view')")
          val vPre = Versioned.currentVersion(s, lake)
          val preCount = s.sql(s"SELECT count(*) FROM gsql.`$lake`")
            .head().getLong(0)
          // the definition swap: different schema, different grain
          s.sql(s"REPLACE TABLE gsql.`$lake` AS " +
            "SELECT user_id, count(*) AS n_events, " +
            "round(sum(value), 4) AS sum_value FROM q213_src GROUP BY user_id")
          require(Versioned.currentVersion(s, lake) == vPre + 1,
            "REPLACE must be ONE history-preserving commit")
          require(s.sql(s"SELECT count(*) FROM gsql.`$lake` " +
              s"VERSION AS OF $vPre").head().getLong(0) == preCount,
            "the pre-replace version must still time-travel")
        }
        s.sql(s"SELECT user_id, n_events, sum_value FROM gsql.`$lake` " +
          "ORDER BY user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM events WHERE event_type IN ('click','view','purchase')
        GROUP BY user_id ORDER BY user_id"""),
      "REPLACE TABLE AS SELECT: one atomic definition swap (single commit + pre-replace travel require()d); new-definition readback == recompute oracle"),

    // ---------------------------------------------------------------
    // ALTER COLUMN ... TYPE widening — metadata-only int -> bigint
    // (#schema pin): values only the wide type can hold land next to
    // the narrow-era files and read as ONE scan; time travel keeps
    // the narrow declaration (require()d).
    // ---------------------------------------------------------------
    Q("q214_sql_widen",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_widq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          s.sql(s"CREATE TABLE gsql.`$lake` (uid INT, value DOUBLE, " +
            "etype STRING) PARTITIONED BY (etype)")
          Tables(s, dir, "events")
            .filter(col("event_type") === "click")
            .select(col("user_id").cast("int").as("uid"), col("value"),
              col("event_type").as("etype"))
            .createOrReplaceTempView("q214_narrow")
          s.sql(s"INSERT INTO gsql.`$lake` SELECT uid, value, etype " +
            "FROM q214_narrow")
          val vPre = Versioned.currentVersion(s, lake)
          val filesPre = Versioned.filesAt(s, lake)
          s.sql(s"ALTER TABLE gsql.`$lake` ALTER COLUMN uid TYPE BIGINT")
          require(Versioned.filesAt(s, lake) == filesPre,
            "the widen must be METADATA-ONLY — zero files rewritten")
          // values only BIGINT can hold, next to the int-era files
          Tables(s, dir, "events")
            .filter(col("event_type") === "view")
            .select((col("user_id") + lit(6000000000L)).as("uid"),
              col("value"), col("event_type").as("etype"))
            .createOrReplaceTempView("q214_wide")
          s.sql(s"INSERT INTO gsql.`$lake` SELECT uid, value, etype " +
            "FROM q214_wide")
          require(s.sql(s"SELECT * FROM gsql.`$lake` VERSION AS OF $vPre")
              .schema("uid").dataType.simpleString == "int",
            "pre-widen versions must travel under the narrow type")
        }
        s.sql(
          s"""SELECT etype, count(*) AS n, sum(uid) AS sum_uid,
             |       round(sum(value), 4) AS sum_value
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (
          SELECT user_id AS uid, value, event_type AS etype FROM events
          WHERE event_type = 'click'
          UNION ALL
          SELECT user_id + 6000000000, value, event_type FROM events
          WHERE event_type = 'view')
        SELECT etype, count(*) AS n, sum(uid)::BIGINT AS sum_uid,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM t GROUP BY 1 ORDER BY 1"""),
      "metadata-only type widening (int->bigint via #schema pin): zero rewrites + narrow-type travel require()d; mixed-era scan == union oracle"),

    // ---------------------------------------------------------------
    // Cost-based SQL DELETE routing — a WIDE predicate (stats boxes
    // intersect every file) auto-routes to deletion vectors (zero
    // rewrites, require()d); a PARTITION-ALIGNED one COW-rewrites
    // with no MOR debt (require()d).
    // ---------------------------------------------------------------
    Q("q215_delete_routing",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_delrq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view", "purchase"))
          base.createOrReplaceTempView("q215_src")
          s.sql(s"CREATE TABLE gsql.`$lake` PARTITIONED BY (event_type) " +
            "AS SELECT event_id, user_id, value, event_type FROM q215_src")
          (1 to 2).foreach { i => // several files per partition
            s.sql(s"INSERT INTO gsql.`$lake` " +
              s"SELECT event_id + ${i * 100000000L}, user_id, value, " +
              "event_type FROM q215_src")
          }
          sqlMaint(s, s"ANALYZE TABLE gsql.`$lake` COMPUTE STATISTICS " +
            "FOR COLUMNS (value)")
          // WIDE sweep: every file's [min,max] value box intersects ->
          // the router picks deletion vectors, rewriting NOTHING
          val filesPre = Versioned.filesAt(s, lake)
          s.sql(s"DELETE FROM gsql.`$lake` WHERE value >= 0.7")
          require(Versioned.filesAt(s, lake) == filesPre,
            "a wide auto-routed DELETE must rewrite zero files")
          require(Versioned.deleteFilesAt(s, lake)
              .exists(_.contains("_deletes/dv_")),
            "a wide auto-routed DELETE must commit a deletion vector")
          // PARTITION-ALIGNED: the rewrite prunes to the named
          // partition and leaves no MOR debt
          val dvsPre = Versioned.deleteFilesAt(s, lake).size
          s.sql(s"DELETE FROM gsql.`$lake` WHERE event_type = 'purchase'")
          require(Versioned.deleteFilesAt(s, lake).size == dvsPre,
            "a partition-aligned DELETE must not add MOR debt")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS n,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT event_id) AS n_ids
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, value, event_type FROM events
                   WHERE event_type IN ('click','view','purchase')),
        allr AS (
          SELECT event_id, value, event_type FROM t
          UNION ALL
          SELECT event_id + 100000000, value, event_type FROM t
          UNION ALL
          SELECT event_id + 200000000, value, event_type FROM t),
        kept AS (
          SELECT * FROM allr
          WHERE (value < 0.7 OR value IS NULL)
            AND event_type IN ('click','view'))
        SELECT event_type, count(*) AS n,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM kept GROUP BY 1 ORDER BY 1"""),
      "cost-based DELETE routing: stats-wide predicate -> deletion vectors (zero rewrites require()d), partition-aligned -> COW (no MOR debt require()d); MOR readback == oracle"),

    // ---------------------------------------------------------------
    // STRING (+ mixed) CLUSTER BY — the liquid declaration accepts a
    // string dimension (lexicographic rank cuts, no numeric
    // surrogate); bare OPTIMIZE self-clusters and compacts
    // (require()d).
    // ---------------------------------------------------------------
    Q("q216_cluster_by_string",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_clsq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          s.sql(s"CREATE TABLE gsql.`$lake` (event_id BIGINT, " +
            "user_id BIGINT, value DOUBLE, event_type STRING) " +
            "CLUSTER BY (event_type, user_id)") // STRING + numeric dims
          require(Versioned.clusterByOf(s, lake) ==
            Seq("event_type", "user_id"),
            "a string CLUSTER BY column must be accepted")
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          (0 to 2).foreach { i => // scattered small-file inserts
            base.filter(col("event_id") % 3 === i)
              .createOrReplaceTempView("q216_ins")
            s.sql(s"INSERT INTO gsql.`$lake` SELECT * FROM q216_ins")
          }
          val m = sqlMaint(s, s"OPTIMIZE gsql.`$lake`").collect().head
          require(m.getLong(1) > m.getLong(2),
            s"bare OPTIMIZE must compact the string-clustered table ($m)")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS n,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT user_id) AS n_users
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        SELECT event_type, count(*) AS n,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1 ORDER BY 1"""),
      "CLUSTER BY with a STRING dimension (lexicographic rank cuts): declaration accepted + bare OPTIMIZE self-clusters and compacts (require()d); readback == oracle"),

    // ---------------------------------------------------------------
    // fastRowCount under pending deletion vectors + metadata-only
    // DESCRIBE DETAIL — both stay O(metadata): the count subtracts
    // the DV cardinality (== snapshot count, require()d), DESCRIBE
    // resolves bytes with ZERO per-file FS probes (require()d).
    // ---------------------------------------------------------------
    Q("q217_fastcount_dv",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_fcdvq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          MergeData.writeMerged(s, base, lake, keys = Seq("event_type"))
          Versioned.init(s, lake, commitTs = 1000L)
          // two STACKED deletion vectors (each evaluates on the MOR view)
          Versioned.deleteWhereVectors(s, lake, col("value") >= 0.5,
            commitTs = 1001L)
          Versioned.deleteWhereVectors(s, lake, col("user_id") % 2 === 0,
            commitTs = 1002L)
          val fast = Versioned.fastRowCount(s, lake)
          val slow = Versioned.snapshot(s, lake).count()
          require(fast == slow,
            s"fastRowCount must stay exact under stacked DVs ($fast != $slow)")
          // DESCRIBE DETAIL: bytes from the manifests alone
          val probes0 = Versioned.sizeStatProbes.sum()
          val d = sqlMaint(s, s"DESCRIBE DETAIL gsql.`$lake`")
            .collect().head
          require(Versioned.sizeStatProbes.sum() == probes0,
            "DESCRIBE DETAIL must resolve sizes without per-file FS probes")
          require(d.getLong(4) > 0L, "size_bytes must be positive")
        }
        Versioned.snapshot(s, lake)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 4).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM events
        WHERE event_type IN ('click','view')
          AND (value < 0.5 OR value IS NULL)
          AND user_id % 2 <> 0
        GROUP BY 1 ORDER BY 1"""),
      "fastRowCount under STACKED deletion vectors (metadata-only count == snapshot count, require()d) + DESCRIBE DETAIL with zero per-file FS probes (require()d); MOR readback == oracle"),

    // ---------------------------------------------------------------
    // MOR UPDATE routing — a WIDE SQL UPDATE auto-routes to the
    // deletion-vector update (pre-images hidden, post-images appended,
    // ZERO files rewritten, require()d); a partition-aligned one stays
    // COW (no MOR debt, require()d). Identical results either way —
    // the readback hashes against the recompute.
    // ---------------------------------------------------------------
    Q("q218_update_routing",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_updrq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          base.createOrReplaceTempView("q218_src")
          s.sql(s"CREATE TABLE gsql.`$lake` PARTITIONED BY (event_type) " +
            "AS SELECT event_id, user_id, value, event_type FROM q218_src")
          s.sql(s"INSERT INTO gsql.`$lake` " +
            "SELECT event_id + 100000000, user_id, value, event_type " +
            "FROM q218_src")
          sqlMaint(s, s"ANALYZE TABLE gsql.`$lake` COMPUTE STATISTICS " +
            "FOR COLUMNS (value)")
          // WIDE backfill: every value box intersects -> the DV update
          val filesPre = Versioned.filesAt(s, lake)
          s.sql(s"UPDATE gsql.`$lake` SET value = value + 10 " +
            "WHERE value >= 0.2")
          val after = Versioned.filesAt(s, lake)
          require(filesPre.forall(after.contains),
            "a wide auto-routed UPDATE must rewrite zero files")
          require(Versioned.deleteFilesAt(s, lake)
              .exists(_.contains("_deletes/dv_")),
            "a wide auto-routed UPDATE must commit a deletion vector")
          // PARTITION-ALIGNED: COW, no new MOR debt
          val dvsPre = Versioned.deleteFilesAt(s, lake).size
          s.sql(s"UPDATE gsql.`$lake` SET value = value * 2 " +
            "WHERE event_type = 'view'")
          require(Versioned.deleteFilesAt(s, lake).size == dvsPre,
            "a partition-aligned UPDATE must not add MOR debt")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS n,
             |       round(sum(value), 4) AS sum_value
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH t AS (SELECT event_id, value, event_type FROM events
                   WHERE event_type IN ('click','view')),
        allr AS (
          SELECT value, event_type FROM t
          UNION ALL SELECT value, event_type FROM t),
        upd1 AS (
          SELECT CASE WHEN value >= 0.2 THEN value + 10 ELSE value END
                   AS value, event_type
          FROM allr),
        upd2 AS (
          SELECT CASE WHEN event_type = 'view' THEN value * 2
                      ELSE value END AS value, event_type
          FROM upd1)
        SELECT event_type, count(*) AS n,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM upd2 GROUP BY 1 ORDER BY 1"""),
      "cost-based UPDATE routing: stats-wide predicate -> deletion-vector update (zero rewrites + DV require()d), partition-aligned -> COW (no MOR debt require()d); MOR readback == double-update oracle"),

    // ---------------------------------------------------------------
    // INCREMENTAL liquid clustering — the first bare OPTIMIZE stamps
    // #clusterat; after fresh inserts the next bare OPTIMIZE lays out
    // ONLY the since-added stripe (the clustered bulk's files are
    // byte-identical, require()d) and a stamp-current table no-ops
    // (no commit, require()d).
    // ---------------------------------------------------------------
    Q("q219_incremental_cluster",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_incclq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          s.sql(s"CREATE TABLE gsql.`$lake` (event_id BIGINT, " +
            "user_id BIGINT, value DOUBLE, event_type STRING) " +
            "CLUSTER BY (user_id, value)")
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          base.filter(col("event_id") % 2 === 0)
            .createOrReplaceTempView("q219_ins")
          s.sql(s"INSERT INTO gsql.`$lake` SELECT * FROM q219_ins")
          sqlMaint(s, s"OPTIMIZE gsql.`$lake`") // full layout + stamp
          require(Versioned.clusterStampOf(s, lake)
              .contains(Versioned.currentVersion(s, lake)),
            "the self-cluster must stamp #clusterat")
          // stamp-current: the maintenance loop costs NOTHING
          val vCur = Versioned.currentVersion(s, lake)
          sqlMaint(s, s"OPTIMIZE gsql.`$lake`")
          require(Versioned.currentVersion(s, lake) == vCur,
            "no fresh files -> bare OPTIMIZE must not commit")
          val clustered = Versioned.filesAt(s, lake)
          // fresh stripe, then the incremental pass
          base.filter(col("event_id") % 2 === 1)
            .createOrReplaceTempView("q219_ins")
          s.sql(s"INSERT INTO gsql.`$lake` SELECT * FROM q219_ins")
          sqlMaint(s, s"OPTIMIZE gsql.`$lake`")
          require(clustered.forall(Versioned.filesAt(s, lake).contains),
            "the stripe pass must not rewrite the clustered bulk")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS n,
             |       round(sum(value), 4) AS sum_value,
             |       count(DISTINCT event_id) AS n_ids
             |FROM gsql.`$lake` GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""
        SELECT event_type, count(*) AS n,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM events WHERE event_type IN ('click','view')
        GROUP BY 1 ORDER BY 1"""),
      "incremental liquid clustering: #clusterat stamp + stripe-only OPTIMIZE (clustered bulk byte-identical require()d) + stamp-current no-op (no commit require()d); readback == oracle"),

    // ---------------------------------------------------------------
    // Explicit SQL `ZORDER BY (c1, c2)` on WIDE-DOMAIN ids — the r15
    // verdict's one scale defect: the verb used to interleave the RAW
    // low 16 bits (`id mod 65536` past the wrap — hash noise, every
    // per-file box domain-wide, zero skipping, silent success). Now it
    // takes the same rank-cut key as declared clustering. The
    // require() pins SKIP QUALITY, not compaction counts: a 2% domain
    // slice must prune most files of the byte-target-sized layout.
    // ids are scaled x100000 (to ~6e12 at sf0.1) so the old wrap is
    // exercised at every SF; the probe window is min/max-relative
    // (same IEEE double arithmetic spelled on both sides).
    // ---------------------------------------------------------------
    Q("q220_sql_zorder_wide",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_zsqlq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .withColumn("event_id", col("event_id") * 100000L)
          base.repartition(8).write.parquet(lake) // fragmented, unpartitioned
          Versioned.init(s, lake)
          // size the layout to ~24 files at EVERY SF (fixture-scale
          // shards: skip QUALITY is the subject, not file economics)
          val bytes = fs.getContentSummary(
            new org.apache.hadoop.fs.Path(lake)).getLength
          s.conf.set("spark.graft.optimize.targetFileSize",
            math.max(1024L, bytes / 24L).toString)
          try sqlMaint(s, s"OPTIMIZE gsql.`$lake` ZORDER BY (event_id, user_id)")
          finally s.conf.unset("spark.graft.optimize.targetFileSize")
          val live = Versioned.filesAt(s, lake).map(f => s"$lake/$f")
          require(live.size >= 6,
            s"byte-target ZORDER must yield a multi-file layout (${live.size})")
          val Array(mnL, mxL) = Versioned.snapshot(s, lake)
            .agg(min("event_id"), max("event_id")).head()
            .toSeq.map(_.asInstanceOf[Long]).toArray
          val lo = math.floor(mnL + 0.40 * (mxL - mnL)).toLong
          val hi = math.floor(mnL + 0.42 * (mxL - mnL)).toLong
          val idx = SkipIndex.buildFromFooterFiles(s, live, Seq("event_id"))
          val cands = SkipIndex.candidateFiles(idx, "event_id",
            lo.toDouble, hi.toDouble).size
          require(cands * 3 <= live.size,
            s"the SQL ZORDER verb must produce tight event_id boxes " +
              s"($cands of ${live.size} candidates for a 2% slice — the " +
              "raw-interleave layout left every box domain-wide)")
          // the readback RIDES the pruned read (index skip + residual
          // filter): exactness of the skip is part of the oracle hash
          Versioned.prunedScan(s, lake,
              Seq(PruneRange("event_id", lo.toDouble, hi.toDouble)), Some(idx))
            .filter(col("event_id").between(lo, hi))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              round(sum("value"), 4).as("sum_value"),
              count_distinct(col("user_id")).as("n_users"))
            .orderBy("event_type")
        }
      },
      Some("""
        WITH e AS (SELECT event_type, user_id, event_id * 100000 AS event_id,
                          value FROM events),
        b AS (SELECT min(event_id) AS mn, max(event_id) AS mx FROM e),
        f AS (SELECT e.* FROM e, b
              WHERE e.event_id
                BETWEEN CAST(FLOOR(b.mn + 0.40::DOUBLE * (b.mx - b.mn)) AS BIGINT)
                    AND CAST(FLOOR(b.mn + 0.42::DOUBLE * (b.mx - b.mn)) AS BIGINT))
        SELECT event_type, count(*) AS n,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM f GROUP BY 1 ORDER BY 1"""),
      "explicit SQL ZORDER BY on wide-domain ids: rank-cut key + byte-target layout, skip quality require()d (2% probe prunes >= 2/3 of files); sliced readback == oracle"),

    // ---------------------------------------------------------------
    // COLUMN DEFAULTS (#default rail, protocol 7 — the r15 verdict's
    // missing-ring #1): `src STRING DEFAULT 'api'` fills INSERTs that
    // OMIT the column (SQL fills at analysis via reported column
    // metadata; a library append fills at commit), while supplied
    // values win. Three write shapes land: a supplying SQL INSERT, an
    // omitting SQL INSERT, and an omitting library append — the
    // grouped readback recomputes all three in DuckDB.
    // ---------------------------------------------------------------
    Q("q221_column_defaults",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_defq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          s.sql(s"CREATE TABLE gsql.`$lake` (event_id BIGINT, " +
            "user_id BIGINT, value DOUBLE, src STRING DEFAULT 'api', " +
            "event_type STRING) PARTITIONED BY (event_type)")
          require(Versioned.columnDefaults(s, lake).keySet == Set("src"),
            "CREATE ... DEFAULT must land on the #default rail")
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          // supplying INSERT: explicit src values win
          base.filter(col("event_id") % 3 === 0)
            .withColumn("src",
              concat(lit("u"), (col("user_id") % 3).cast("string")))
            .createOrReplaceTempView("q221_sup")
          s.sql(s"INSERT INTO gsql.`$lake` (event_id, user_id, value, " +
            "src, event_type) SELECT event_id, user_id, value, src, " +
            "event_type FROM q221_sup")
          // omitting SQL INSERT: the analyzer fills the default
          base.filter(col("event_id") % 3 === 1)
            .createOrReplaceTempView("q221_omit")
          s.sql(s"INSERT INTO gsql.`$lake` (event_id, user_id, value, " +
            "event_type) SELECT event_id, user_id, value, event_type " +
            "FROM q221_omit")
          // omitting LIBRARY append: the commit fills the default
          Versioned.append(s, lake,
            base.filter(col("event_id") % 3 === 2), Seq("event_type"))
        }
        s.sql(
          s"""SELECT src, event_type, count(*) AS n,
             |       round(sum(value), 4) AS sum_value
             |FROM gsql.`$lake` GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      },
      Some("""
        WITH e AS (SELECT event_type, user_id, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        t AS (
          SELECT 'u' || CAST(user_id % 3 AS VARCHAR) AS src, event_type,
                 value FROM e WHERE event_id % 3 = 0
          UNION ALL
          SELECT 'api', event_type, value FROM e WHERE event_id % 3 <> 0)
        SELECT src, event_type, count(*) AS n,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM t GROUP BY 1, 2 ORDER BY 1, 2"""),
      "column DEFAULTs: omitted INSERT columns fill (SQL at analysis, library at commit), supplied values win; three write shapes recomputed in the oracle"),

    // ---------------------------------------------------------------
    // NESTED-STRUCT SCHEMA EVOLUTION (r15 missing-ring #2): the
    // multimodal tier's metadata columns are structs — evolving
    // `meta<width,height>` to gain `fps` must be one METADATA-ONLY
    // commit (require()d: zero files touched), old rows read the new
    // field as null, pre-evolution versions time-travel under the OLD
    // shape (require()d), and a post-evolution write carrying the
    // evolved struct coexists with null-filled old files in one scan.
    // ---------------------------------------------------------------
    Q("q222_nested_evolution",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_nestq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          def shaped(d: DataFrame) = d.select(
            col("event_id"), col("value"),
            struct(
              (col("user_id") % 100).cast("int").as("width"),
              (col("user_id") % 50).cast("int").as("height")).as("meta"),
            col("event_type"))
          MergeData.writeMerged(s,
            shaped(base.filter(col("event_id") % 2 === 0)), lake,
            keys = Seq("event_type"))
          Versioned.init(s, lake)
          val vOld = Versioned.currentVersion(s, lake)
          s.sql(s"ALTER TABLE gsql.`$lake` ADD COLUMN meta.fps DOUBLE")
          require(Versioned.filesAt(s, lake).toSet ==
            Versioned.filesAt(s, lake, vOld).toSet,
            "nested ADD COLUMN must be metadata-only")
          require(!Versioned.snapshot(s, lake, vOld).schema("meta").dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
            .fieldNames.contains("fps"),
            "pre-evolution versions must travel under the OLD struct shape")
          // the evolved write: fps materializes physically
          Versioned.append(s, lake,
            shaped(base.filter(col("event_id") % 2 === 1))
              .withColumn("meta", col("meta").withField("fps",
                (col("event_id") % 30).cast("double"))),
            Seq("event_type"))
        }
        Versioned.snapshot(s, lake)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("meta.width").cast("long")).as("sum_width"),
            round(sum(coalesce(col("meta.fps"), lit(-1.0))), 4)
              .as("sum_fps"),
            round(sum("value"), 4).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (SELECT event_type, user_id, event_id, value FROM events
                   WHERE event_type IN ('click','view')),
        t AS (
          SELECT event_type, value, user_id % 100 AS width,
                 NULL::DOUBLE AS fps
          FROM e WHERE event_id % 2 = 0
          UNION ALL
          SELECT event_type, value, user_id % 100,
                 CAST(event_id % 30 AS DOUBLE)
          FROM e WHERE event_id % 2 = 1)
        SELECT event_type, count(*) AS n,
               sum(width)::BIGINT AS sum_width,
               round(sum(coalesce(fps, -1.0)), 4) AS sum_fps,
               round(sum(value::DOUBLE), 4) AS sum_value
        FROM t GROUP BY 1 ORDER BY 1"""),
      "nested-struct evolution: meta gains fps metadata-only (zero files require()d), old shape time-travels (require()d), null-filled and evolved files share one scan; flattened rollup == oracle"),

    // ---------------------------------------------------------------
    // `startingTimestamp` on the stream source (r15 missing-ring #3 —
    // the q199 twin seeded by COMMIT TIME instead of version): the
    // clicks commit at ts=1000 predates the seed, the views commit at
    // ts=2000 is AT it — one AvailableNow run must deliver exactly the
    // views (no initial snapshot), and a restart after a third wave
    // delivers only that wave (the checkpoint pinned the resolved
    // floor; nothing replays).
    // ---------------------------------------------------------------
    Q("q223_readstream_timestamp",
      (s, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_rstq_$tag")
        val src = new File(root, "src").getAbsolutePath
        val sink = new File(root, "sink").getAbsolutePath
        val ckpt = new File(root, "ckpt").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
          def follow(): Unit =
            s.readStream.format("graft")
              .option("startingTimestamp", "2000")
              .load(src)
              .writeStream.format("graft")
              .option("checkpointLocation", ckpt)
              .option("partitionKeys", "event_type")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start(sink).awaitTermination()
          MergeData.writeMerged(s,
            base.filter(col("event_type") === "click"), src,
            keys = Seq("event_type"))
          Versioned.init(s, src, commitTs = 1000L) // BEFORE the seed
          Versioned.append(s, src,
            base.filter(col("event_type") === "view"), Seq("event_type"),
            commitTs = 2000L) // AT the seed: streams
          follow()
          require(Versioned.snapshot(s, sink)
              .filter(col("event_type") === "click").isEmpty,
            "commits before startingTimestamp must NOT stream")
          Versioned.append(s, src,
            base.filter(col("event_type") === "purchase"),
            Seq("event_type"), commitTs = 3000L)
          follow() // restart: pinned floor, only the new wave arrives
        }
        Versioned.snapshot(s, sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("row_count"),
            round(sum("value"), 4).as("sum_value"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS row_count,
               round(sum(value::DOUBLE), 4) AS sum_value,
               count(DISTINCT event_id) AS n_ids
        FROM events WHERE event_type IN ('view','purchase')
        GROUP BY 1 ORDER BY 1"""),
      "startingTimestamp stream seed: commit-time floor resolved once (clicks at ts<seed never stream), restart-stable across a third wave; sink state == batch recompute"),

    // ---------------------------------------------------------------
    // IDENTITY columns (#ident rail, protocol 7 — the LAST r15
    // missing-ring item): `rid BIGINT GENERATED ALWAYS AS IDENTITY`
    // assigns dense per-commit monotonic ids to INSERTs that omit the
    // column; the high-water carries in the manifest, so a second
    // wave continues past the first. Row↔id attribution is not a
    // contract (distributed assignment order), but the id SET is:
    // after N rows across omitting commits with start=1 step=1 the
    // ids are exactly {1..N} — min/max/sum/distinct all recompute in
    // DuckDB from the row count alone.
    // ---------------------------------------------------------------
    Q("q224_identity_columns",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_idq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          s.sql(s"CREATE TABLE gsql.`$lake` (" +
            "rid BIGINT GENERATED ALWAYS AS IDENTITY, event_id BIGINT, " +
            "user_id BIGINT, value DOUBLE, event_type STRING) " +
            "PARTITIONED BY (event_type)")
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          // two OMITTING waves: SQL INSERT, then a library append —
          // the second must continue past the first's high-water
          base.filter(col("event_id") % 2 === 0)
            .createOrReplaceTempView("q224_w1")
          s.sql(s"INSERT INTO gsql.`$lake` (event_id, user_id, value, " +
            "event_type) SELECT event_id, user_id, value, event_type " +
            "FROM q224_w1")
          Versioned.append(s, lake,
            base.filter(col("event_id") % 2 === 1), Seq("event_type"))
          val n = Versioned.snapshot(s, lake).count()
          require(Versioned.identityColumns(s, lake)("rid")._3
              .contains(n),
            "the manifest high-water must equal the assigned row count")
        }
        s.sql(
          s"""SELECT count(*) AS n, count(DISTINCT rid) AS n_ids,
             |       min(rid) AS min_id, max(rid) AS max_id,
             |       sum(rid) AS sum_ids, round(sum(value), 4) AS sum_value
             |FROM gsql.`$lake` ORDER BY 1""".stripMargin)
      },
      Some("""
        WITH e AS (SELECT value FROM events
                   WHERE event_type IN ('click','view')),
        c AS (SELECT count(*) AS n,
                     round(sum(value::DOUBLE), 4) AS sum_value FROM e)
        SELECT n, n AS n_ids, 1::BIGINT AS min_id, n AS max_id,
               (n * (n + 1) / 2)::BIGINT AS sum_ids, sum_value
        FROM c ORDER BY 1"""),
      "IDENTITY columns: dense engine-assigned ids across an omitting SQL INSERT + library append (high-water == row count require()d); the id SET {1..N} recomputed in DuckDB"),

    // ---------------------------------------------------------------
    // METADATA-ONLY AGGREGATE ANSWERING — the top query of every
    // 100 TB dashboard (`SELECT count(*)/min(k)/max(k) FROM t`)
    // served from the manifest + stats rail via DSv2 aggregate
    // pushdown: ZERO data files read (require()d through the served
    // counter AND a parquet-free physical plan), exact under a
    // deletion vector for count, bail-to-scan require()d for the
    // residual-predicate case. Values hash against DuckDB computing
    // the same aggregates the slow way.
    // ---------------------------------------------------------------
    Q("q225_metadata_agg",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_maggq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          base.createOrReplaceTempView("q225_src")
          s.sql(s"CREATE TABLE gsql.`$lake` PARTITIONED BY (event_type) " +
            "AS SELECT event_id, user_id, value, event_type FROM q225_src")
          sqlMaint(s, s"ANALYZE TABLE gsql.`$lake` COMPUTE STATISTICS " +
            "FOR COLUMNS (user_id, value)")
        }
        // the dashboard query: answered METADATA-ONLY, require()d
        val served0 = Versioned.metadataAggServed.sum()
        val aggDf = s.sql(
          s"""SELECT count(*) AS n, count(value) AS n_value,
             |       min(value) AS min_value, max(value) AS max_value,
             |       min(user_id) AS min_user, max(user_id) AS max_user
             |FROM gsql.`$lake`""".stripMargin)
        val agg = aggDf.collect()(0)
        require(Versioned.metadataAggServed.sum() - served0 >= 1L,
          "the aggregate must be served from the stats rail, not a scan")
        require(!aggDf.queryExecution.executedPlan.toString
            .toLowerCase.contains("parquet"),
          "a metadata-answered aggregate must not plan a parquet scan")
        // a PARTITION-ALIGNED predicate is served over the pruned
        // file subset (Delta's metadata-only answering under
        // partition predicates — every row of a surviving file
        // matches by construction, so the subset answer stays exact)
        val servedW0 = Versioned.metadataAggServed.sum()
        val whereN = s.sql(s"SELECT count(*) AS n FROM gsql.`$lake` " +
          "WHERE event_type = 'click'").collect()(0).getLong(0)
        require(Versioned.metadataAggServed.sum() - servedW0 >= 1L,
          "a partition-aligned predicate must stay metadata-answered")
        // a genuinely RESIDUAL predicate (non-partition column) BAILS
        // to the scan (and still answers)
        val servedR0 = Versioned.metadataAggServed.sum()
        val posN = s.sql(s"SELECT count(*) AS n FROM gsql.`$lake` " +
          "WHERE value > 0.0").collect()(0).getLong(0)
        require(Versioned.metadataAggServed.sum() == servedR0,
          "a residual predicate must bail to the ordinary scan")
        // a deletion vector: count stays pushed AND exact
        LakeQueries.synchronized {
          Versioned.deleteWhereVectors(s, lake, col("user_id") % 7 === 0,
            commitTs = 2000L)
        }
        val servedDv0 = Versioned.metadataAggServed.sum()
        val nAfterDv = s.sql(s"SELECT count(*) AS n FROM gsql.`$lake`")
          .collect()(0).getLong(0)
        require(Versioned.metadataAggServed.sum() - servedDv0 >= 1L,
          "count under a deletion vector must stay metadata-answered")
        require(nAfterDv == Versioned.snapshot(s, lake).count(),
          "the DV-adjusted metadata count must equal the MOR snapshot")
        import s.implicits._
        Seq((agg.getLong(0), agg.getLong(1), agg.getDouble(2),
          agg.getDouble(3), agg.getLong(4), agg.getLong(5),
          whereN, posN, nAfterDv))
          .toDF("n", "n_value", "min_value", "max_value", "min_user",
            "max_user", "n_click", "n_pos", "n_after_dv")
      },
      Some("""
        WITH e AS (SELECT user_id, value, event_type FROM events
                   WHERE event_type IN ('click','view'))
        SELECT count(*) AS n, count(value) AS n_value,
               min(value::DOUBLE) AS min_value,
               max(value::DOUBLE) AS max_value,
               min(user_id) AS min_user, max(user_id) AS max_user,
               (SELECT count(*) FROM e WHERE event_type = 'click')
                 AS n_click,
               (SELECT count(*) FROM e WHERE value::DOUBLE > 0.0)
                 AS n_pos,
               (SELECT count(*) FROM e WHERE user_id % 7 <> 0)
                 AS n_after_dv
        FROM e"""),
      "metadata-only aggregates: count(*)/count(k)/min/max from the stats rail via DSv2 pushdown (zero-scan require()d: served counter + parquet-free plan), partition-aligned WHERE served over the pruned subset require()d, residual-predicate bail require()d, DV-adjusted count == MOR snapshot require()d; all values hash vs DuckDB"),

    // ---------------------------------------------------------------
    // METADATA-ONLY GROUPED AGGREGATES — `SELECT part, count(*)/
    // count(k)/min/max GROUP BY part` answered per-partition from the
    // manifest + stats rail (group membership is the file's path-baked
    // partition value, so each group's totals are exactly its files'
    // totals). The per-partition dashboard rollup at 100 TB: zero data
    // files opened, require()d by the served counter AND a
    // parquet-free physical plan; a GROUP BY on a non-partition
    // column bails to the scan (require()d). Values hash vs DuckDB
    // recomputing the same rollup relationally.
    Q("q228_metadata_agg_grouped",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_magggq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view", "purchase"))
          base.createOrReplaceTempView("q228_src")
          s.sql(s"CREATE TABLE gsql.`$lake` PARTITIONED BY (event_type) " +
            "AS SELECT event_id, user_id, value, event_type FROM q228_src")
          sqlMaint(s, s"ANALYZE TABLE gsql.`$lake` COMPUTE STATISTICS " +
            "FOR COLUMNS (user_id, value)")
        }
        val served0 = Versioned.metadataAggServed.sum()
        val gDf = s.sql(
          s"""SELECT event_type, count(*) AS n, count(value) AS n_value,
             |       min(value) AS min_value, max(value) AS max_value,
             |       min(user_id) AS min_user, max(user_id) AS max_user
             |FROM gsql.`$lake` GROUP BY event_type
             |ORDER BY event_type""".stripMargin)
        val out = gDf.collect()
        require(Versioned.metadataAggServed.sum() - served0 >= 1L,
          "the grouped aggregate must be served from the stats rail")
        require(!gDf.queryExecution.executedPlan.toString
            .toLowerCase.contains("parquet"),
          "a metadata-answered grouped aggregate must not scan parquet")
        // a non-partition GROUP BY bails (and the row count is sane)
        val servedB0 = Versioned.metadataAggServed.sum()
        val distinctUsers = s.sql(
          s"SELECT user_id, count(*) AS c FROM gsql.`$lake` " +
            "GROUP BY user_id").count()
        require(Versioned.metadataAggServed.sum() == servedB0,
          "GROUP BY a non-partition column must bail to the scan")
        import s.implicits._
        out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6),
            distinctUsers)).toSeq
          .toDF("event_type", "n", "n_value", "min_value", "max_value",
            "min_user", "max_user", "n_user_groups")
      },
      Some("""
        WITH e AS (SELECT user_id, value, event_type FROM events
                   WHERE event_type IN ('click','view','purchase'))
        SELECT event_type, count(*) AS n, count(value) AS n_value,
               min(value::DOUBLE) AS min_value,
               max(value::DOUBLE) AS max_value,
               min(user_id) AS min_user, max(user_id) AS max_user,
               (SELECT count(DISTINCT user_id) FROM e) AS n_user_groups
        FROM e GROUP BY event_type ORDER BY event_type"""),
      "metadata-only GROUPED aggregates: per-partition count(*)/count(k)/min/max from the stats rail via DSv2 grouped pushdown (served counter + parquet-free plan require()d; non-partition GROUP BY bail require()d); per-group values hash vs DuckDB"),

    // ---------------------------------------------------------------
    // KEYLESS CDF via ROW TRACKING — enableChangeFeed with NO row key
    // (SQL spelling: the empty graft.changeFeed.keys property): the
    // engine backfills hidden row ids, every SQL UPDATE / DELETE /
    // MERGE publishes id-keyed increments, and a replica converges
    // with no user key anywhere (require()d row-for-row, ids
    // included). The ids never leak into the SQL schema (require()d).
    // The surviving business rows hash against DuckDB recomputing the
    // same mutation sequence relationally.
    // ---------------------------------------------------------------
    Q("q226_keyless_cdf",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_kcdfq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        val rep = new File(root, "rep").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          base.createOrReplaceTempView("q226_src")
          s.sql(s"CREATE TABLE gsql.`$lake` PARTITIONED BY (event_type) " +
            "AS SELECT event_id, user_id, value, event_type FROM q226_src")
          // KEYLESS enable through the SQL property surface: empty key
          // list = row tracking (backfill rewrite) + id-keyed feed
          s.sql(s"ALTER TABLE gsql.`$lake` " +
            "SET TBLPROPERTIES ('graft.changeFeed.keys' = '')")
          require(Versioned.changeFeedKey(s, lake)
              .contains(Seq(Versioned.RowIdCol)),
            "the empty key property must enable the id-keyed feed")
          require(!s.sql(s"SELECT * FROM gsql.`$lake` LIMIT 1").columns
              .contains(Versioned.RowIdCol),
            "the hidden row id must not leak into the SQL schema")
          val seedV = Versioned.currentVersion(s, lake)
          // replica seeded from the id-carrying snapshot, then the full
          // SQL mutation mix — no user key anywhere
          MergeData.writeMerged(s, Versioned.snapshotAll(s, lake, seedV),
            rep, keys = Seq("event_type"))
          Versioned.init(s, rep)
          s.sql(s"UPDATE gsql.`$lake` SET value = value * 2 " +
            "WHERE user_id % 5 = 0")
          s.sql(s"DELETE FROM gsql.`$lake` WHERE user_id % 7 = 3")
          base.filter(col("user_id") % 11 === 0)
            .withColumn("value", lit(-1.0))
            .createOrReplaceTempView("q226_mrg")
          s.sql(
            s"""MERGE INTO gsql.`$lake` t USING q226_mrg m
               |ON t.event_type = m.event_type AND t.event_id = m.event_id
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          val cur = Versioned.applyTableChanges(s, lake, rep,
            Seq("event_type"), seedV)
          require(cur == Versioned.currentVersion(s, lake))
          // both require()s from ONE pass (guide §2.4 — was 4 actions:
          // union-distinct count, two counts, an id agg): tag the
          // sides, group by every column (= the old distinct), then
          // fold to |distinct(src ∪ rep)|, |src|, |rep| and the
          // distinct-id count. The id check is equivalent because it
          // only fires after convergence holds, where the grouped
          // frame IS the source set.
          val srcAll = Versioned.snapshotAll(s, lake)
          val repAll = Versioned.snapshotAll(s, rep)
          val allCols = srcAll.columns.toSeq
          val conv = srcAll.withColumn("__src", lit(1L))
            .unionByName(repAll.select(allCols.map(col): _*)
              .withColumn("__src", lit(0L)))
            .groupBy(allCols.map(col): _*)
            .agg(sum(col("__src")).as("__s"), count(lit(1)).as("__c"))
            .agg(count(lit(1)).as("groups"), sum(col("__s")).as("nsrc"),
              sum(col("__c")).as("ntot"),
              countDistinct(col(Versioned.RowIdCol)).as("ids"),
              max(col("__c")).as("cmax"), max(col("__s")).as("smax"))
            .collect()(0)
          val (groups, nsrc, ntot, idsD) = (conv.getLong(0),
            conv.getLong(1), conv.getLong(2), conv.getLong(3))
          val (cmax, smax) = (conv.getLong(4), conv.getLong(5))
          // per-group shape closes the duplicate-row hole: sums alone
          // accept e.g. src={a,a}, rep={a,b} (groups=nsrc, ntot=2nsrc)
          // — max(__c)==2 with sum(__c)==2*groups forces EVERY group
          // to exactly 2 rows, max(__s)==1 with sum(__s)==groups to
          // exactly 1 per side: true multiset equality, under which
          // the grouped frame IS the source set and the id-uniqueness
          // count below is sound
          require(groups == nsrc && nsrc == ntot - nsrc &&
              cmax == 2L && smax == 1L,
            "the keyless replica must converge row-for-row, ids included")
          require(idsD == nsrc,
            "row ids must stay unique across the mutation mix")
        }
        Versioned.snapshot(s, lake)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 4).as("sum_value"),
            sum(col("user_id")).as("sum_user"))
          .orderBy("event_type")
      },
      Some("""
        WITH base AS (SELECT event_id, user_id, value::DOUBLE AS value,
                             event_type FROM events
                      WHERE event_type IN ('click','view')),
        u AS (SELECT event_id, user_id,
                     CASE WHEN user_id % 5 = 0 THEN value * 2
                          ELSE value END AS value, event_type FROM base),
        d AS (SELECT * FROM u WHERE user_id % 7 <> 3),
        mk AS (SELECT event_id, user_id, -1.0::DOUBLE AS value, event_type
               FROM base WHERE user_id % 11 = 0),
        m AS (SELECT * FROM d WHERE NOT EXISTS (
                SELECT 1 FROM mk WHERE mk.event_type = d.event_type
                  AND mk.event_id = d.event_id)
              UNION ALL SELECT * FROM mk)
        SELECT event_type, count(*) AS n,
               round(sum(value), 4) AS sum_value,
               sum(user_id)::BIGINT AS sum_user
        FROM m GROUP BY 1 ORDER BY 1"""),
      "keyless CDF: SQL empty-key property enables row tracking (hidden id backfill) + id-keyed feed; SQL UPDATE/DELETE/MERGE replicate onto a keyless replica (row-for-row convergence incl. ids require()d, id uniqueness require()d, schema hiding require()d); survivors hash vs DuckDB"),

    // ---------------------------------------------------------------
    // NESTED TYPE WIDENING — ALTER COLUMN meta.width TYPE BIGINT as a
    // METADATA-ONLY commit (zero files rewritten, require()d): old
    // int32 files upcast on read through the pinned schema, wide
    // writes land, the pre-widen version still travels narrow
    // (require()d). The readback hashes against DuckDB computing the
    // same values from flat columns.
    // ---------------------------------------------------------------
    Q("q227_nested_widening",
      (s, dir) => {
        graft.GraftExtensions.register(s)
        s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val root = new File(new File(sys.props("user.dir"), "target"),
          s"graft_nwq_$tag")
        val lake = new File(root, "t").getAbsolutePath
        LakeQueries.synchronized {
          val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
          val base = Tables(s, dir, "events").select(MergeCols.map(col): _*)
            .filter(col("event_type").isin("click", "view"))
          // nest (user_id, a scaled value) into a typed struct column
          // floor() both sides: Spark's double->int cast truncates,
          // DuckDB's rounds — floor first makes them agree
          base.selectExpr("event_id", "event_type",
            "named_struct('uid', CAST(user_id AS INT), 'score', " +
              "CAST(floor(value * 100) AS INT)) AS meta")
            .createOrReplaceTempView("q227_src")
          s.sql(s"CREATE TABLE gsql.`$lake` PARTITIONED BY (event_type) " +
            "AS SELECT event_id, meta, event_type FROM q227_src")
          val v1 = Versioned.currentVersion(s, lake)
          val filesPre = Versioned.filesAt(s, lake).toSet
          s.sql(s"ALTER TABLE gsql.`$lake` " +
            "ALTER COLUMN meta.uid TYPE BIGINT")
          require(Versioned.filesAt(s, lake).toSet == filesPre,
            "nested widening must be metadata-only")
          // a wide write the old type could not hold
          s.sql(s"INSERT INTO gsql.`$lake` (event_id, meta, event_type) " +
            "VALUES (900000001, named_struct('uid', CAST(9000000000 AS " +
            "BIGINT), 'score', 50), 'click')")
          // the pre-widen version still reads the NARROW type
          require(Versioned.snapshot(s, lake, v1).schema("meta").dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]("uid")
            .dataType == org.apache.spark.sql.types.IntegerType,
            "time travel must serve the pre-widen nested type")
        }
        s.sql(
          s"""SELECT event_type, count(*) AS n,
             |       sum(meta.uid) AS sum_uid,
             |       sum(meta.score) AS sum_score,
             |       max(meta.uid) AS max_uid
             |FROM gsql.`$lake` GROUP BY event_type ORDER BY event_type"""
            .stripMargin)
      },
      Some("""
        WITH base AS (SELECT event_id, user_id,
                             CAST(floor(value * 100) AS INT) AS score, event_type
                      FROM events
                      WHERE event_type IN ('click','view')),
        w AS (SELECT user_id AS uid, score, event_type FROM base
              UNION ALL SELECT 9000000000, 50, 'click')
        SELECT event_type, count(*) AS n, sum(uid)::BIGINT AS sum_uid,
               sum(score)::BIGINT AS sum_score, max(uid) AS max_uid
        FROM w GROUP BY 1 ORDER BY 1"""),
      "nested type widening: ALTER COLUMN meta.uid TYPE BIGINT metadata-only (zero files rewritten require()d), int32 files upcast through the pin, a >2^31 write lands, pre-widen version travels narrow (require()d); aggregates hash vs DuckDB")
  )
}
