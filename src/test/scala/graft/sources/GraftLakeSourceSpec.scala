package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.{BloomIndex, PruneIn, PrunePred, PruneRange, SkipIndex,
  Versioned}
import graft.ops.MergeData

/** The `graft` data source: planner-driven reads of the versioned
  * lake. Pins (1) DataFrame/SQL parity with [[Versioned.snapshot]],
  * (2) time travel via options, (3) PARTITION pruning and SIDECAR
  * file skipping asserted on the FILES LISTED (not timing) — the
  * pushed predicate must skip exactly the files
  * [[Versioned.prunedScanCandidates]] skips, (4) parquet-level
  * pushdown surviving into the physical plan, and (5) the
  * mapping/MOR snapshot path reading logical names and hiding
  * tombstoned rows. */
class GraftLakeSourceSpec extends SparkSpec {

  private def state(d: DataFrame): Set[(String, Long, Double)] =
    d.select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def freshLake(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv").toFile
    dir.deleteOnExit()
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0),
        ("c", 20L, 20.0)), "site", "id", "v"),
      dir.getAbsolutePath, keys = Seq("site"))
    dir.getAbsolutePath
  }

  test("format(graft): fast-path read == snapshot; versionAsOf/timestampAsOf travel; SQL view works") {
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)
    Versioned.append(spark, dir, df(Seq(("a", 3L, 3.0)), "site", "id", "v"),
      Seq("site"), commitTs = 2000L)
    val read = spark.read.format("graft").load(dir)
    assert(state(read) == state(Versioned.snapshot(spark, dir)))
    // partition column parses from the Hive path with Spark's types
    assert(read.schema("site").dataType.typeName == "string")
    // time travel: by version and by timestamp
    assert(state(spark.read.format("graft")
      .option("versionAsOf", "0").load(dir)) ==
      state(Versioned.snapshot(spark, dir, 0L)))
    assert(state(spark.read.format("graft")
      .option("timestampAsOf", "1500").load(dir)) ==
      state(Versioned.snapshot(spark, dir, 0L)))
    // the SQL surface: a named view over the format — "commands
    // anyone can run"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_lake_v " +
      s"USING graft OPTIONS (path '$dir')")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_lake_v WHERE site = 'a'")
      .head().getLong(0) == 3L)
  }

  test("partition pruning: a partition filter lists ONLY that partition's files; parquet pushdown survives to the scan") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val read = spark.read.format("graft").load(dir)
    val all = {
      read.collect() // unfiltered listing
      GraftFileIndex.lastListedFiles.toSet
    }
    val a = read.filter(col("site") === "a")
    assert(a.count() == 2L)
    val aFiles = GraftFileIndex.lastListedFiles.toSet
    assert(aFiles.nonEmpty && aFiles.subsetOf(all) &&
      aFiles.forall(_.contains("site=a")) &&
      all.exists(f => !f.contains("site=a")),
      s"partition filter must prune the listing: $aFiles of $all")
    // data filters reach the parquet scan (row-group pushdown)
    val plan = read.filter(col("id") > 1L).queryExecution.executedPlan
      .toString()
    assert(plan.contains("GreaterThan(id,1"),
      s"parquet pushdown must survive the graft relation, got:\n$plan")
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"the fast path must stay inside whole-stage codegen:\n$plan")
  }

  test("sidecar file skipping: a pushed range/IN predicate skips exactly the files prunedScanCandidates skips") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // three more commits so files carry disjoint id ranges
    Versioned.append(spark, dir,
      df(Seq(("a", 100L, 1.0), ("b", 101L, 1.0)), "site", "id", "v"),
      Seq("site"), statsCols = Seq("id"))
    Versioned.backfillStats(spark, dir, Seq("id"))
    Versioned.append(spark, dir,
      df(Seq(("a", 200L, 2.0), ("b", 201L, 2.0)), "site", "id", "v"),
      Seq("site"))
    Versioned.append(spark, dir,
      df(Seq(("a", 300L, 3.0), ("b", 301L, 3.0)), "site", "id", "v"),
      Seq("site"))
    val read = spark.read.format("graft").load(dir)
    def live = Versioned.filesAt(spark, dir).map(f => s"$dir/$f")
    // the planner's file set for a filter, and the library's for the
    // same predicates from one source: the core's candidates, which
    // must also be exactly the files the one reader opens
    def plannerFiles(f: Column): Set[String] = {
      read.filter(f).collect()
      GraftFileIndex.lastListedFiles.map(SkipIndex.normalizePath).toSet
    }
    def libraryFiles(ps: Seq[PrunePred], source: Option[DataFrame]): Set[String] = {
      val c = Versioned.prunedScanCandidates(spark, dir, ps, source).files.toSet
      assert(Versioned.prunedScan(spark, dir, ps, source).inputFiles
        .map(SkipIndex.normalizePath).toSet == c,
        "prunedScan must open exactly the core's candidates")
      c
    }
    val range = col("id") >= 150L && col("id") <= 250L
    val rangePreds = Seq(PruneRange("id", 150.0, 250.0))
    val expect = plannerFiles(range)
    assert(read.filter(range).select("id").collect().map(_.getLong(0)).toSet ==
      Set(200L, 201L))
    assert(libraryFiles(rangePreds, None) == expect,
      "the planner's range filter must skip exactly what the stats skip")
    assert(expect.size < Versioned.filesAt(spark, dir).size,
      "the fixture must actually prune something")
    assert(libraryFiles(rangePreds, Some(SkipIndex.buildFromFooterFiles(
      spark, live, Seq("id")))) == expect,
      "a caller-built skip index must skip what the stats sidecars skip")
    // IN-list routes to blooms once they exist
    Versioned.backfillBlooms(spark, dir, Seq("id"), expectedPerFile = 100L)
    val in = col("id").isin(300L, 301L)
    val inPreds = Seq(PruneIn("id", Seq(300L, 301L)))
    val expectIn = plannerFiles(in)
    assert(read.filter(in).count() == 2L)
    assert(libraryFiles(inPreds, None) == expectIn,
      "the planner's IN filter must skip exactly what the blooms skip")
    assert(libraryFiles(inPreds, Some(BloomIndex.buildForFiles(spark, dir,
      live, Seq("id"), 100L, 0.01))) == expectIn,
      "a caller-built bloom index must skip what the bloom sidecars skip")
    // a predicate on an UNTRACKED column must not skip (lenient):
    // every file survives, the residual filter answers exactly
    val vAll = read.filter(col("v") >= 2.9)
    assert(vAll.count() == 4L)
    assert(GraftFileIndex.lastListedFiles.size ==
      Versioned.filesAt(spark, dir).size,
      "untracked-column predicates prune nothing (and break nothing)")
  }

  test("edges: a SHALLOW CLONE (foreign multi-root refs) and an UNPARTITIONED lake both read through the format") {
    // clone: v0 refs point into the source root; the index must list
    // and partition-parse across both roots
    val src = freshLake()
    Versioned.init(spark, src)
    val clone = java.nio.file.Files
      .createTempDirectory("graft_dsvclone").toFile.getAbsolutePath + "/c"
    Versioned.cloneAt(spark, src, clone)
    Versioned.append(spark, clone,
      df(Seq(("d", 40L, 40.0)), "site", "id", "v"), Seq("site"))
    assert(state(spark.read.format("graft").load(clone)) ==
      state(Versioned.snapshot(spark, clone)),
      "foreign + local refs must read identically to the library")
    assert(spark.read.format("graft").load(clone)
      .filter(col("site") === "d").count() == 1L)
    // unpartitioned: files at the root, empty partition schema
    val spark0 = spark
    import spark0.implicits._
    val flat = java.nio.file.Files
      .createTempDirectory("graft_dsvflat").toFile.getAbsolutePath + "/f"
    Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("site", "id", "v")
      .write.parquet(flat)
    Versioned.init(spark, flat)
    val r = spark.read.format("graft").load(flat)
    assert(r.count() == 2L && r.filter(col("id") === 2L).count() == 1L)
  }

  test("write surface: df.write.format(graft) creates+declares, appends and overwrites through the manifest protocol") {
    val root = java.nio.file.Files.createTempDirectory("graft_dsw").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "lake").getAbsolutePath
    // CREATE: lays out, commits v0, declares the spec
    df(Seq(("a", 1L, 1.0), ("b", 10L, 10.0)), "site", "id", "v")
      .write.format("graft").option("partitionKeys", "site").save(dir)
    assert(Versioned.currentVersion(spark, dir) >= 0)
    assert(Versioned.partitionSpec(spark, dir).contains(Seq("site")),
      "the first write must DECLARE the partition spec")
    // APPEND: a manifest commit, spec-checked, time travel intact
    val vBefore = Versioned.currentVersion(spark, dir)
    df(Seq(("a", 2L, 2.0)), "site", "id", "v")
      .write.format("graft").mode("append").save(dir)
    assert(state(spark.read.format("graft").load(dir)) ==
      Set(("a", 1L, 1.0), ("b", 10L, 10.0), ("a", 2L, 2.0)))
    assert(state(spark.read.format("graft")
      .option("versionAsOf", vBefore.toString).load(dir)) ==
      Set(("a", 1L, 1.0), ("b", 10L, 10.0)))
    // OVERWRITE: one full-replace commit; the old state still travels
    val vPre = Versioned.currentVersion(spark, dir)
    df(Seq(("c", 99L, 9.0)), "site", "id", "v")
      .write.format("graft").mode("overwrite").save(dir)
    assert(state(spark.read.format("graft").load(dir)) ==
      Set(("c", 99L, 9.0)))
    assert(state(Versioned.snapshot(spark, dir, vPre)).size == 3,
      "pre-overwrite version still time-travels")
    assert(Versioned.history(spark, dir).collect()
      .map(_.getAs[String]("operation")).head == "overwrite")
    // a stale-keyed append is refused by the declared spec
    val e = intercept[Exception] {
      df(Seq(("x", 5L, 5.0)), "site", "id", "v")
        .write.format("graft").mode("append")
        .option("partitionKeys", "id").save(dir)
    }
    assert(e.getMessage.contains("declared"))
  }

  test("mapping/MOR window: renamed columns read logical, tombstoned rows stay hidden, filters still answer exactly") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.renameColumn(spark, dir, "v", "value")
    val mapped = spark.read.format("graft").load(dir)
    assert(mapped.columns.toSeq == Seq("id", "value", "site") ||
      mapped.columns.contains("value"),
      s"mapped read must speak logical names, got ${mapped.columns.toSeq}")
    assert(mapped.filter(col("value") > 5.0).count() == 2L)
    // MOR: an equality delete hides rows without a rewrite
    Versioned.deleteWhere(spark, dir, col("id") === 10L, Seq("site", "id"))
    val mor = spark.read.format("graft").load(dir)
    assert(mor.filter(col("site") === "b").count() == 0L)
    assert(mor.count() == 3L)
    // the pre-delete version still reads the row (time travel on the
    // snapshot path)
    assert(spark.read.format("graft")
      .option("versionAsOf", "1").load(dir).count() == 4L)
    // back on the fast path once deletes materialize and the mapping
    // is the only thing left -> still the mapped relation; drop the
    // mapping via rename-back to land on HadoopFsRelation again
    Versioned.materializeDeletes(spark, dir, Seq("site"))
    Versioned.renameColumn(spark, dir, "value", "v")
    val fast = spark.read.format("graft").load(dir)
    assert(state(fast) == state(Versioned.snapshot(spark, dir)))
  }

  test("column mapping stays VECTORIZED: renamed table reads through GraftFileIndex + ColumnarBatch, values == snapshot, pushdown lands physical") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.renameColumn(spark, dir, "v", "reading")
    // a post-rename append writes the PHYSICAL name under the hood;
    // both generations must read back logical through one plan
    Versioned.append(spark, dir,
      df(Seq(("a", 3L, 30.0)), "site", "id", "reading"), Seq("site"))
    val read = spark.read.format("graft").load(dir)
    val scans = read.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "mapped read must plan a FileSourceScan")
    assert(scans.head.relation.location.isInstanceOf[GraftFileIndex],
      "mapped read must stay on the manifest FileIndex fast path")
    assert(scans.head.supportsColumnar,
      "mapped read must keep the vectorized (ColumnarBatch) pipe")
    val got = read.select("site", "id", "reading").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Versioned.snapshot(spark, dir)
      .select("site", "id", "reading").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got.contains(("a", 3L, 30.0)))
    // a LOGICAL-name filter still pushes (displayed logical — the
    // user-facing schema), answers exactly, and the format's reader-
    // seam translation re-spells it physical for parquet
    val filtered = read.filter(col("reading") > 5.0)
    val fscan = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(fscan.metadata("PushedFilters").contains("GreaterThan(reading,"),
      s"filter must push: ${fscan.metadata("PushedFilters")}")
    val fmt = fscan.relation.fileFormat
      .asInstanceOf[GraftMappedParquetFileFormat]
    assert(fmt.physFilter(org.apache.spark.sql.sources
        .GreaterThan("reading", 5.0)) ==
      Some(org.apache.spark.sql.sources.GreaterThan("v", 5.0)),
      "the reader seam must re-spell pushed filters physical")
    assert(filtered.count() ==
      Versioned.snapshot(spark, dir).filter(col("reading") > 5.0).count())
  }

  test("relation cache: a repeat read of the same version builds NOTHING (no listStatus, no footer pass); a new commit builds once; vacuum invalidates") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    def builds: Long = GraftFileIndex.relationBuilds
    val b0 = builds
    assert(state(spark.read.format("graft").load(dir)) ==
      state(Versioned.snapshot(spark, dir)))
    assert(builds == b0 + 1, "first read of v0 builds the relation")
    spark.read.format("graft").load(dir).count()
    spark.read.format("graft").load(dir).filter(col("site") === "a").count()
    assert(builds == b0 + 1,
      "repeat reads of the same version must serve from the cache " +
        "(zero additional driver listStatus/schema work)")
    // a commit moves the current version: exactly one new build
    Versioned.append(spark, dir, df(Seq(("a", 9L, 9.0)), "site", "id", "v"),
      Seq("site"))
    spark.read.format("graft").load(dir).count()
    assert(builds == b0 + 2, "a new version builds exactly once")
    // explicit versionAsOf of the OLD version: still cached from read 1
    spark.read.format("graft").option("versionAsOf", "0").load(dir).count()
    assert(builds == b0 + 2, "time-travel to a cached version is free")
    // vacuum drops the table's resolutions -> the derived cache drops
    // with them (Versioned.cacheDropHooks fan-out)
    Versioned.vacuum(spark, dir, keepVersions = 2)
    spark.read.format("graft").load(dir).count()
    assert(builds == b0 + 3, "vacuum must invalidate the relation cache")
  }

  test("relation cache is SESSION-scoped: a second session builds its own relation instead of borrowing one bound to another session") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    def builds: Long = GraftFileIndex.relationBuilds
    spark.read.format("graft").load(dir).count()
    val b0 = builds
    spark.read.format("graft").load(dir).count()
    assert(builds == b0, "same session: cached")
    // a sibling session (own SQLConf/timeZone): a relation built by the
    // first session would pin its plans to the WRONG session — it must
    // build its own entry, which then caches for ITS repeat reads
    val s2 = spark.newSession()
    s2.read.format("graft").load(dir).count()
    assert(builds == b0 + 1, "a new session must build its own relation")
    s2.read.format("graft").load(dir).count()
    assert(builds == b0 + 1, "…which is then cached for that session")
    // and the first session's entry is untouched
    spark.read.format("graft").load(dir).count()
    assert(builds == b0 + 1)
  }
}
