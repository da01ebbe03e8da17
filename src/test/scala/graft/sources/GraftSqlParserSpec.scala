package graft.sources

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpec}
import graft.lake.{PruneIn, PruneRange, Versioned}
import graft.ops.MergeData

/** The SQL maintenance verbs ([[GraftSqlParser]]): OPTIMIZE [ZORDER
  * BY], VACUUM [RETAIN], RESTORE TO VERSION/TIMESTAMP AS OF, CREATE
  * TABLE ... SHALLOW CLONE, REORG TABLE ... APPLY (PURGE) — parsed by
  * the injected parser and lowered onto the Versioned maintenance
  * core, each returning its metrics as rows. Statements parse through
  * the parser's direct lowering and execute through the normal command
  * path — the exact plan `spark.sql` runs on the shared, extension-
  * built test session (q206 drives that end to end). */
class GraftSqlParserSpec extends SparkSpec {

  GraftExtensions.register(spark)
  spark.conf.set("spark.sql.catalog.graft_mnt", "graft.sources.GraftCatalog")

  /** Parse a maintenance statement and execute its command plan. */
  private def sqlM(text: String): DataFrame =
    GraftColumnBridge.ofRows(spark,
      GraftSqlParser.parseMaintenance(spark, text).getOrElse(
        throw new IllegalArgumentException(s"parser did not claim: $text")))

  private def state(d: DataFrame): Set[(String, Long, Double)] =
    d.select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def freshLake(nAppends: Int = 3): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mnt").toFile
    dir.deleteOnExit()
    val lake = new java.io.File(dir, "lake").getAbsolutePath
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("b", 10L, 10.0)), "site", "id", "v"),
      lake, keys = Seq("site"))
    Versioned.init(spark, lake, commitTs = 1000L)
    (1 to nAppends).foreach { i =>
      Versioned.append(spark, lake,
        df(Seq(("a", 100L + i, i.toDouble)), "site", "id", "v"),
        Seq("site"), commitTs = 1000L + i)
    }
    lake
  }

  private def tbl(dir: String) = s"graft_mnt.`$dir`"

  test("OPTIMIZE: compacts small files into one per partition, reports file counts, data identical; ZORDER BY variants parse and run") {
    val dir = freshLake()
    val before = state(Versioned.snapshot(spark, dir))
    val m = sqlM(s"OPTIMIZE ${tbl(dir)}").collect().head
    assert(m.getLong(1) > m.getLong(2),
      s"optimize must report fewer files after (got $m)")
    assert(Versioned.filesAt(spark, dir).size == m.getLong(2).toInt)
    assert(state(Versioned.snapshot(spark, dir)) == before)
    // single-column ZORDER (any orderable type)
    Versioned.append(spark, dir,
      df(Seq(("a", 200L, 9.0)), "site", "id", "v"), Seq("site"))
    sqlM(s"OPTIMIZE ${tbl(dir)} ZORDER BY (id)")
    assert(state(Versioned.snapshot(spark, dir)) == before + (("a", 200L, 9.0)))
    // two-column ZORDER: morton interleave of integral columns
    val dir2 = java.nio.file.Files.createTempDirectory("graft_mntz")
      .toFile.getAbsolutePath + "/lake"
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 2L), ("a", 2L, 1L), ("b", 3L, 3L)), "site", "x", "y"),
      dir2, keys = Seq("site"))
    Versioned.init(spark, dir2)
    sqlM(s"OPTIMIZE graft_mnt.`$dir2` ZORDER BY (x, y)")
    assert(Versioned.snapshot(spark, dir2).count() == 3L)
    // 3-column ZORDER: true N-dim interleave (mortonKeyN)
    sqlM(s"OPTIMIZE graft_mnt.`$dir2` ZORDER BY (x, y, x)")
    assert(Versioned.snapshot(spark, dir2).count() == 3L)
    // >4 columns refuse with guidance
    val e = intercept[Exception] {
      sqlM(s"OPTIMIZE graft_mnt.`$dir2` ZORDER BY (x, y, x, y, x)") }
    assert(e.getMessage.contains("1 to 4 columns"), e.getMessage)
  }

  test("OPTIMIZE ... WHERE scopes to the named partitions only; non-partition columns refuse; composes with ZORDER") {
    val dir = freshLake() // site=a holds 4 small files, site=b holds 1
    def filesUnder(p: String) = Versioned.filesAt(spark, dir)
      .filter(_.startsWith(s"site=$p/"))
    assert(filesUnder("a").size == 4 && filesUnder("b").size == 1)
    val bBefore = filesUnder("b")
    sqlM(s"OPTIMIZE ${tbl(dir)} WHERE site = 'a'")
    assert(filesUnder("a").size == 1, "the scoped partition compacts")
    assert(filesUnder("b") == bBefore, "out-of-scope partitions untouched")
    assert(state(Versioned.snapshot(spark, dir)).size == 5)
    // a non-partition column refuses with the scope rule named
    val e = intercept[Exception] {
      sqlM(s"OPTIMIZE ${tbl(dir)} WHERE id = 3") }
    assert(e.getMessage.contains("partition"), e.getMessage)
    // composes with ZORDER: only the scoped partition re-clusters
    Versioned.append(spark, dir,
      df(Seq(("a", 300L, 3.5)), "site", "id", "v"), Seq("site"))
    val b2 = filesUnder("b")
    sqlM(s"OPTIMIZE ${tbl(dir)} WHERE site = 'a' ZORDER BY (id)")
    assert(filesUnder("b") == b2,
      "ZORDER WHERE must not rewrite out-of-scope partitions")
    assert(state(Versioned.snapshot(spark, dir)).size == 6)
  }

  test("explicit ZORDER BY takes the rank-cut key: wide-domain ids get tight per-file boxes (a narrow probe prunes), STRING columns cluster, and the byte target sizes the layout — the raw low-bit interleave did none of these") {
    import graft.lake.SkipIndex
    val root = java.nio.file.Files.createTempDirectory("graft_mntzw")
      .toFile.getAbsolutePath + "/lake"
    // ids spanning to 4e9 — 60000x past the 2^16 wrap where the raw
    // interleave degenerated to `id mod 65536` (hash noise); etype is
    // a STRING dim (the raw path cast it to long: ANSI crash)
    val rows = spark.range(0, 40000).select(
      (col("id") * 100000L).as("eid"),
      concat(lit("type_"), (col("id") % 7).cast("string")).as("etype"),
      (col("id") % 100).cast("double").as("v"))
    rows.repartition(8).write.parquet(root)
    Versioned.init(spark, root)
    spark.conf.set("spark.graft.optimize.targetFileSize", "32k")
    try sqlM(s"OPTIMIZE graft_mnt.`$root` ZORDER BY (eid, etype)")
    finally spark.conf.unset("spark.graft.optimize.targetFileSize")
    val live = Versioned.filesAt(spark, root).map(f => s"$root/$f")
    assert(live.size >= 6,
      s"the byte target must produce a multi-file layout (got ${live.size})")
    // SKIP QUALITY, not just compaction counts: a 2% domain slice must
    // prune most files. Under the pre-r16 raw interleave every file's
    // eid box was domain-wide (candidates == all files).
    val idx = SkipIndex.buildFromFooterFiles(spark, live, Seq("eid"))
    val cands = SkipIndex.candidateFiles(idx, "eid", 1.00e9, 1.08e9).size
    assert(cands * 3 <= live.size,
      s"rank-cut ZORDER must give tight eid boxes ($cands of ${live.size} " +
        "files are candidates for a 2% slice)")
    // layout-only: every row survives, the string dim included
    assert(Versioned.snapshot(spark, root).count() == 40000L)
    assert(Versioned.snapshot(spark, root)
      .filter(col("etype") === "type_3").count() === 40000L / 7)
  }

  test("VACUUM [RETAIN n HOURS]: reaps to the retention cutoff, keeps the current version; reports kept count") {
    val dir = freshLake()
    val cur = Versioned.currentVersion(spark, dir)
    assert(cur == 3L)
    val m = sqlM(s"VACUUM ${tbl(dir)} RETAIN 0 HOURS").collect().head
    assert(m == Row(1L, cur), s"expected one kept version, got $m")
    assert(state(Versioned.snapshot(spark, dir)).size == 5)
    intercept[Exception] { Versioned.snapshot(spark, dir, 0L).collect() }
  }

  test("RESTORE TO VERSION AS OF / TIMESTAMP AS OF: a NEW commit re-publishes the target state") {
    val dir = freshLake()
    val v0State = state(Versioned.snapshot(spark, dir, 0L))
    val cur = Versioned.currentVersion(spark, dir)
    val m = sqlM(s"RESTORE TABLE ${tbl(dir)} TO VERSION AS OF 0")
      .collect().head
    assert(m == Row(0L, cur + 1))
    assert(state(Versioned.snapshot(spark, dir)) == v0State)
    // history is append-only: the pre-restore state still travels
    assert(state(Versioned.snapshot(spark, dir, cur)).size == 5)
    // timestamp form: version 1 committed at ts=1001
    val m2 = sqlM(s"RESTORE ${tbl(dir)} TO TIMESTAMP AS OF 1001")
      .collect().head
    assert(m2.getLong(0) == 1L)
    assert(state(Versioned.snapshot(spark, dir)) ==
      state(Versioned.snapshot(spark, dir, 1L)))
  }

  test("CREATE TABLE ... SHALLOW CLONE [VERSION AS OF v]: metadata-only clone reads the source's state") {
    val dir = freshLake()
    val root = java.nio.file.Files.createTempDirectory("graft_mntc").toFile
    root.deleteOnExit()
    val dst = new java.io.File(root, "clone").getAbsolutePath
    sqlM(s"CREATE TABLE graft_mnt.`$dst` SHALLOW CLONE ${tbl(dir)}")
    assert(state(Versioned.snapshot(spark, dst)) ==
      state(Versioned.snapshot(spark, dir)))
    val dst0 = new java.io.File(root, "clone0").getAbsolutePath
    sqlM(s"CREATE TABLE graft_mnt.`$dst0` SHALLOW CLONE ${tbl(dir)} " +
      "VERSION AS OF 0")
    assert(state(Versioned.snapshot(spark, dst0)) ==
      state(Versioned.snapshot(spark, dir, 0L)))
  }

  test("REORG TABLE ... APPLY (PURGE): folds pending MOR tombstones into the data (Delta's spelling)") {
    val dir = freshLake()
    Versioned.deleteWhere(spark, dir, col("id") === 10L, Seq("site", "id"))
    assert(Versioned.deleteFilesAt(spark, dir,
      Versioned.currentVersion(spark, dir)).nonEmpty)
    val expected = state(Versioned.snapshot(spark, dir))
    sqlM(s"REORG TABLE ${tbl(dir)} APPLY (PURGE)")
    assert(Versioned.deleteFilesAt(spark, dir,
      Versioned.currentVersion(spark, dir)).isEmpty,
      "PURGE must leave no pending tombstones")
    assert(state(Versioned.snapshot(spark, dir)) == expected)
  }

  test("ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS: bootstraps the stats sidecar; later commits inherit; pruned reads serve from it") {
    val dir = freshLake()
    val m = sqlM(s"ANALYZE TABLE ${tbl(dir)} COMPUTE STATISTICS " +
      "FOR COLUMNS (id, v)").collect().head
    assert(m.getLong(0) == Versioned.currentVersion(spark, dir))
    assert(m.getLong(1) == Versioned.filesAt(spark, dir).size.toLong)
    assert(m.getLong(2) == 2L)
    assert(Versioned.statsAt(spark, dir).select("col").distinct()
      .collect().map(_.getString(0)).toSet == Set("id", "v"))
    // inheritance: the NEXT commit extends coverage with no re-analyze
    Versioned.append(spark, dir,
      df(Seq(("b", 500L, 42.0)), "site", "id", "v"), Seq("site"))
    val pruned = Versioned.prunedScan(spark, dir,
      Seq(PruneRange("id", 400.0, 600.0)))
    assert(state(pruned) == Set(("b", 500L, 42.0)))
    // unparenthesized column list parses too
    sqlM(s"ANALYZE TABLE ${tbl(dir)} COMPUTE STATISTICS FOR COLUMNS v")
    assert(Versioned.statsAt(spark, dir).select("col").distinct()
      .collect().map(_.getString(0)).toSet == Set("v"),
      "re-ANALYZE re-columns the discipline")
  }

  test("ANALYZE TABLE ... COMPUTE BLOOM STATISTICS [EXPECTED n ITEMS] [FPP p]: bootstraps per-file blooms; point reads prune from them; non-graft ANALYZE delegates") {
    val dir = freshLake()
    val m = sqlM(s"ANALYZE TABLE ${tbl(dir)} COMPUTE BLOOM STATISTICS " +
      "FOR COLUMNS (id) EXPECTED 1000 ITEMS FPP 0.02").collect().head
    assert(m.getLong(0) == Versioned.currentVersion(spark, dir))
    val blooms = Versioned.bloomsAt(spark, dir)
    assert(blooms.select("col").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("id"))
    // a later commit inherits the SAME sizing parameters
    Versioned.append(spark, dir,
      df(Seq(("b", 777L, 7.0)), "site", "id", "v"), Seq("site"))
    val hit = Versioned.prunedScan(spark, dir, Seq(PruneIn("id", Seq(777L))))
    assert(state(hit) == Set(("b", 777L, 7.0)))
    // Spark's own ANALYZE statements are NOT claimed
    assert(GraftSqlParser.parseMaintenance(spark,
      "ANALYZE TABLE some_table COMPUTE STATISTICS").isEmpty,
      "session-catalog ANALYZE must delegate to Spark")
    assert(GraftSqlParser.parseMaintenance(spark,
      "ANALYZE TABLE spark_catalog.default.t COMPUTE STATISTICS").isEmpty,
      "non-graft catalog ANALYZE must delegate to Spark")
  }

  test("CONVERT TO GRAFT adopts an existing parquet directory in place: zero rewrites, spec declared, writers spec-checked from then on; re-convert refuses") {
    val root = java.nio.file.Files.createTempDirectory("graft_mntcv").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "plain").getAbsolutePath
    // a PLAIN hive-partitioned parquet directory — no manifest
    df(Seq(("a", 1L, 1.0), ("b", 2L, 2.0), ("b", 3L, 3.0)),
      "site", "id", "v")
      .write.partitionBy("site").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dataFiles() = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val b = Vector.newBuilder[String]
      while (it.hasNext) { val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) b += f.toString }
      b.result().toSet
    }
    val before = dataFiles()
    val m = sqlM(s"CONVERT TO GRAFT ${tbl(dir)} PARTITIONED BY (site)")
      .collect().head
    assert(m.getLong(0) >= 0L && m.getLong(1) == before.size.toLong)
    assert(dataFiles() == before, "CONVERT must adopt files IN PLACE")
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 1.0), ("b", 2L, 2.0), ("b", 3L, 3.0)))
    // the declared spec now guards writers
    intercept[Exception] {
      Versioned.append(spark, dir,
        df(Seq(("c", 9L, 9.0)), "site", "id", "v"), Seq("site", "id"))
    }
    Versioned.append(spark, dir,
      df(Seq(("c", 9L, 9.0)), "site", "id", "v"), Seq("site"))
    assert(state(Versioned.snapshot(spark, dir)).size == 4)
    // an already-converted table refuses
    val e = intercept[Exception] {
      sqlM(s"CONVERT TO GRAFT ${tbl(dir)}") }
    assert(e.getMessage.contains("already"), e.getMessage)
  }

  test("CONVERT on an empty or missing directory refuses BEFORE any manifest write — the retry after data lands succeeds") {
    val root = java.nio.file.Files.createTempDirectory("graft_mntcv0").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "empty").getAbsolutePath
    // missing directory: refuse, nothing written
    val e1 = intercept[Exception] { sqlM(s"CONVERT TO GRAFT ${tbl(dir)}") }
    assert(e1.getMessage.contains("no parquet data files"), e1.getMessage)
    assert(Versioned.currentVersion(spark, dir) < 0,
      "a failed CONVERT must leave NO v0 manifest behind")
    // empty directory (exists, no data): same refusal, same cleanliness
    new java.io.File(dir).mkdirs()
    val e2 = intercept[Exception] { sqlM(s"CONVERT TO GRAFT ${tbl(dir)}") }
    assert(e2.getMessage.contains("no parquet data files"), e2.getMessage)
    assert(Versioned.currentVersion(spark, dir) < 0)
    // data lands later: the retry ADOPTS it (the r14 bug wedged here
    // with 'already a graft table' behind an empty v0)
    df(Seq(("a", 1L, 1.0)), "site", "id", "v").write
      .mode("append").parquet(dir)
    val m = sqlM(s"CONVERT TO GRAFT ${tbl(dir)}").collect().head
    assert(m.getLong(1) > 0L)
    assert(state(Versioned.snapshot(spark, dir)) == Set(("a", 1L, 1.0)))
  }

  test("ANALYZE shapes outside the graft grammar delegate to Spark even on a graft-catalog table") {
    val dir = freshLake()
    // the graft shape claims
    assert(GraftSqlParser.parseMaintenance(spark,
      s"ANALYZE TABLE ${tbl(dir)} COMPUTE STATISTICS FOR COLUMNS (id)")
      .isDefined)
    // standard Spark spellings on the SAME graft table fall through
    // (r14 ADVICE: a blanket claim made these die in the graft parser)
    Seq(
      s"ANALYZE TABLE ${tbl(dir)} COMPUTE STATISTICS",
      s"ANALYZE TABLE ${tbl(dir)} COMPUTE STATISTICS NOSCAN",
      s"ANALYZE TABLE ${tbl(dir)} COMPUTE STATISTICS FOR ALL COLUMNS"
    ).foreach { stmt =>
      assert(GraftSqlParser.parseMaintenance(spark, stmt).isEmpty,
        s"must delegate to Spark: $stmt")
    }
  }

  test("VACUUM ... DRY RUN previews exactly what the real vacuum removes, deleting nothing; DESCRIBE DETAIL reports the operational snapshot") {
    val dir = freshLake()
    // detail BEFORE any maintenance — METADATA-ONLY on a rail-era
    // table: zero getFileStatus fallbacks (the seam counter), and the
    // byte total still equals FS truth
    val probes0 = Versioned.sizeStatProbes.sum()
    val d0 = sqlM(s"DESCRIBE DETAIL ${tbl(dir)}").collect().head
    assert(Versioned.sizeStatProbes.sum() == probes0,
      "DESCRIBE DETAIL must resolve sizes from the manifests alone")
    assert(d0.getString(0) == "graft" && d0.getString(1) == dir)
    assert(d0.getLong(2) == 3L) // current version
    assert(d0.getLong(3) == Versioned.filesAt(spark, dir).size.toLong)
    val fsT = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val truth = Versioned.filesAt(spark, dir).map(r => fsT.getFileStatus(
      new org.apache.hadoop.fs.Path(Versioned.refPath(dir, r))).getLen).sum
    assert(d0.getLong(4) == truth,
      "size_bytes must equal the FS truth for the live files")
    assert(d0.getString(5) == "site")
    assert(d0.getLong(6) == 0L)
    // DESCRIBE HISTORY: the commit log as rows, newest first
    val h = sqlM(s"DESCRIBE HISTORY ${tbl(dir)}").collect()
    assert(h.length == 4 && h.head.getLong(0) == 3L,
      s"history must list every commit newest-first (got ${h.toSeq})")
    assert(h.last.getLong(0) == 0L && h.last.getString(2) == "init")
    assert(h.head.getString(2) == "append")
    // ... and non-DETAIL/HISTORY DESCRIBE delegates to Spark
    assert(GraftSqlParser.parseMaintenance(spark,
      s"DESCRIBE TABLE some_table").isEmpty)
    // optimize strands the small files -> dry run names them
    sqlM(s"OPTIMIZE ${tbl(dir)}")
    val plan = sqlM(s"VACUUM ${tbl(dir)} RETAIN 0 HOURS DRY RUN")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(plan.exists(_._2 == "data"), "stranded files must be listed")
    assert(plan.exists(_._2 == "manifest"), "reaped manifests listed too")
    // nothing was deleted: every pre-optimize version still reads
    assert(Versioned.snapshot(spark, dir, 0L).count() == 2L)
    val nFilesBefore = Versioned.filesAt(spark, dir).size
    // the REAL vacuum removes exactly the previewed data files
    val dataPlanned = plan.collect { case (p, "data") => p }.toSet
    sqlM(s"VACUUM ${tbl(dir)} RETAIN 0 HOURS")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    dataPlanned.foreach(p => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(dir, p)),
      s"previewed file $p must be gone after the real vacuum"))
    assert(Versioned.filesAt(spark, dir).size == nFilesBefore,
      "vacuum never touches live files")
    // pending MOR state surfaces in the detail row
    Versioned.deleteWhere(spark, dir, col("id") === 10L, Seq("site", "id"))
    val d1 = sqlM(s"DESCRIBE DETAIL ${tbl(dir)}").collect().head
    assert(d1.getLong(6) == 1L, "pending tombstone must be reported")
    // Spark's own DESCRIBE statements are not claimed
    assert(GraftSqlParser.parseMaintenance(spark,
      "DESCRIBE TABLE some_table").isEmpty)
    assert(GraftSqlParser.parseMaintenance(spark,
      "DESCRIBE DETAIL spark_catalog.default.t").isEmpty,
      "DESCRIBE DETAIL of a non-graft catalog must delegate")
  }

  test("CLUSTER BY: declared clustering round-trips (CREATE / properties / ALTER), and a bare OPTIMIZE self-clusters on it") {
    val root = java.nio.file.Files.createTempDirectory("graft_mntcl").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir)} (site STRING, id BIGINT, " +
      "v DOUBLE) CLUSTER BY (id, v)")
    assert(Versioned.clusterByOf(spark, dir) == Seq("id", "v"))
    assert(Versioned.tableProperties(spark, dir)("graft.clusterBy") == "id,v")
    // three scattered inserts -> small unclustered files
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES " +
      "('a', 7, 70.0), ('a', 1, 10.0), ('a', 9, 90.0)")
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES ('a', 4, 40.0), ('a', 2, 20.0)")
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES ('a', 8, 80.0), ('a', 3, 30.0)")
    // a BARE OPTIMIZE clusters on the declared columns (liquid): the
    // compacted file's rows come back in cluster-key order — with v
    // proportional to id the 2-dim morton key is monotone in id
    val m = sqlM(s"OPTIMIZE ${tbl(dir)}").collect().head
    assert(m.getLong(1) > m.getLong(2), s"must compact ($m)")
    val files = Versioned.filesAt(spark, dir)
    assert(files.size == 1)
    val ids = spark.read.parquet(s"$dir/${files.head}")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids == ids.sorted,
      s"bare OPTIMIZE must sort by the declared cluster key (got $ids)")
    // ALTER re-declares and clears through the property
    spark.sql(s"ALTER TABLE ${tbl(dir)} SET TBLPROPERTIES " +
      "('graft.clusterBy' = 'v')")
    assert(Versioned.clusterByOf(spark, dir) == Seq("v"))
    spark.sql(s"ALTER TABLE ${tbl(dir)} UNSET TBLPROPERTIES " +
      "('graft.clusterBy')")
    assert(Versioned.clusterByOf(spark, dir).isEmpty)
    assert(!Versioned.tableProperties(spark, dir).contains("graft.clusterBy"))
    // STRING clustering is accepted (lexicographic rank cuts — r15):
    // declare, then a bare OPTIMIZE self-clusters on it
    spark.sql(s"ALTER TABLE ${tbl(dir)} SET TBLPROPERTIES " +
      "('graft.clusterBy' = 'site')")
    assert(Versioned.clusterByOf(spark, dir) == Seq("site"))
    sqlM(s"OPTIMIZE ${tbl(dir)}") // must run, not refuse
    // unknown columns still refuse
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} SET TBLPROPERTIES " +
        "('graft.clusterBy' = 'nope')")
    }
    assert(e.getMessage.contains("not in"), e.getMessage)
  }

  test("incremental liquid clustering: bare OPTIMIZE stamps #clusterat, the next pass lays out ONLY the since-added stripe, no-op when nothing is fresh, FULL re-layouts") {
    val dir = freshLake()
    Versioned.setClusterBy(spark, dir, Seq("id"))
    val expect = state(Versioned.snapshot(spark, dir))
    // first bare OPTIMIZE: full self-cluster + the stamp
    val m1 = sqlM(s"OPTIMIZE ${tbl(dir)}").collect().head
    assert(m1.getLong(1) > m1.getLong(2), s"first pass compacts ($m1)")
    assert(Versioned.clusterStampOf(spark, dir)
      .contains(Versioned.currentVersion(spark, dir)),
      "the self-cluster must stamp #clusterat")
    val clustered = Versioned.filesAt(spark, dir)
    // nothing fresh: NO-OP — no commit at all
    val vCur = Versioned.currentVersion(spark, dir)
    val m2 = sqlM(s"OPTIMIZE ${tbl(dir)}").collect().head
    assert(Versioned.currentVersion(spark, dir) == vCur &&
      m2.getLong(1) == m2.getLong(2),
      "no files since the stamp -> the optimize loop costs nothing")
    // fresh appends form the next stripe; the incremental pass lays
    // out ONLY them — the clustered bulk is untouched metadata
    (1 to 2).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("a", 500L + i, i.toDouble)), "site", "id", "v"),
        Seq("site"))
    }
    sqlM(s"OPTIMIZE ${tbl(dir)}")
    val afterIncr = Versioned.filesAt(spark, dir)
    assert(clustered.forall(afterIncr.contains),
      "already-clustered files must not be rewritten by the stripe pass")
    assert(Versioned.clusterStampOf(spark, dir)
      .contains(Versioned.currentVersion(spark, dir)),
      "the stripe pass re-stamps")
    val expect2 = expect ++ Set(("a", 501L, 1.0), ("a", 502L, 2.0))
    assert(state(Versioned.snapshot(spark, dir)) == expect2)
    // FULL forces the complete re-layout (every file replaced)
    sqlM(s"OPTIMIZE ${tbl(dir)} FULL")
    val afterFull = Versioned.filesAt(spark, dir).toSet
    assert(clustered.forall(f => !afterFull.contains(f)),
      "FULL must re-layout the clustered bulk too")
    assert(state(Versioned.snapshot(spark, dir)) == expect2)
  }

  test("ownership: non-maintenance statements (incl. CTAS with a 'shallow clone' string) delegate; malformed verbs and non-graft catalogs refuse loudly") {
    assert(GraftSqlParser.parseMaintenance(spark,
      "SELECT 1").isEmpty)
    assert(GraftSqlParser.parseMaintenance(spark,
      "CREATE TABLE t AS SELECT 'shallow clone' AS s").isEmpty,
      "a string literal must not be claimed as a clone statement")
    assert(GraftSqlParser.parseMaintenance(spark,
      "CREATE TABLE `shallow clone stuff` (id INT)").isEmpty)
    val dir = freshLake()
    // unqualified table: refused with the catalog guidance
    val e1 = intercept[Exception] {
      GraftSqlParser.parseMaintenance(spark, s"OPTIMIZE `$dir`") }
    assert(e1.getMessage.contains("catalog"), e1.getMessage)
    // a catalog that exists but is not graft
    val e2 = intercept[Exception] {
      GraftSqlParser.parseMaintenance(spark,
        s"VACUUM spark_catalog.default.t") }
    assert(e2.getMessage.contains("graft"), e2.getMessage)
    // trailing garbage
    val e3 = intercept[Exception] {
      GraftSqlParser.parseMaintenance(spark,
        s"OPTIMIZE ${tbl(dir)} EXTRA") }
    assert(e3.getMessage.contains("trailing"), e3.getMessage)
  }
}
