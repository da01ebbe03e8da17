package graft

import org.apache.spark.sql.functions._

import graft.lake.{PruneNotNull, PruneRange, Versioned}
import graft.ops.MergeData

/** Dev scaling harness for the versioned-lake tier (not part of the
  * driver contract): builds a fresh versioned lake from a data dir's
  * `events` table and times each lakehouse primitive the round-9/10
  * verdicts asked to see measured — seed write, a one-partition merge
  * commit (plus the BYTES of the manifest it wrote: the delta-manifest
  * claim is that commit metadata scales with the batch, not the
  * lake), metadata-only fastRowCount, an O(keys) equality delete
  * (write side), the tombstoned MOR read (read side), and the
  * partition-scoped materialize. Run against sf0.1 and its
  * ScaleClone 10x/30x clones for the exponents.
  *
  * Usage: runMain graft.LakeScaleBench <dataDir> [workDir]
  * Prints one JSON line of seconds/bytes/counts.
  */
object LakeScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    // absolute: the manifest layer records paths RELATIVE to the lake
    // root by URI-path stripping, which needs an absolute root
    val work = new java.io.File(args.lift(1).getOrElse(
      "target/lakescale_" + dir.replaceAll("[^a-zA-Z0-9]", "_")))
      .getAbsolutePath
    val spark = GraftSession(GraftSession.envCores(32))

    val lake = work + "/lake"
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      metrics(name + "_sec") = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
      r
    }

    val base = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      .filter(col("event_type").isin("click", "view"))
    // warm the JVM + the source scan so seed_write isn't charged init
    base.write.format("noop").mode("overwrite").save()

    time("seed_write") {
      MergeData.writeMerged(spark, base, lake, keys = Seq("event_type"))
    }
    Versioned.init(spark, lake)
    metrics("n_rows") = Versioned.fastRowCount(spark, lake)
    metrics("n_files_v0") = Versioned.filesAt(spark, lake).size

    // one-partition merge commit: cost tracks the touched partition,
    // manifest bytes track the batch churn
    val batch = base.filter(col("event_type") === "click" &&
        col("event_id") % 1000 === 7)
      .withColumn("value", col("value") + 1)
    time("merge_commit") {
      Versioned.mergeInto(spark, lake, batch,
        Seq("event_type"), Seq("event_id"))
    }
    val md = new org.apache.hadoop.fs.Path(lake, "_manifest")
    val sizes = fs.listStatus(md).map(s => s.getPath.getName -> s.getLen).toMap
    metrics("manifest_v0_ckpt_bytes") = sizes.getOrElse("v000000.txt", -1L)
    metrics("manifest_v1_delta_bytes") = sizes.getOrElse("v000001.delta.txt", -1L)

    metrics("fast_count") = time("fast_count") {
      Versioned.fastRowCount(spark, lake)
    }

    // O(keys) erasure: ~0.2% of users; write side must stay zero data
    // files, so its cost is the predicate scan + one small key file
    val filesBefore = Versioned.filesAt(spark, lake)
    time("delete_where") {
      Versioned.deleteWhere(spark, lake, col("user_id") % 499 === 3,
        keyCols = Seq("event_id"))
    }
    require(Versioned.filesAt(spark, lake) == filesBefore,
      "equality delete must not touch data files")
    val delFiles = Versioned.deleteFilesAt(spark, lake)
    metrics("tombstone_bytes") = delFiles.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(lake, f)).getLen).sum
    metrics("tombstone_keys") = spark.read
      .parquet(delFiles.map(f => s"$lake/$f"): _*).count()

    metrics("mor_read_rows") = time("mor_read") {
      Versioned.snapshot(spark, lake).count()
    }
    time("materialize") {
      Versioned.materializeDeletes(spark, lake, Seq("event_type"))
    }
    metrics("n_files_final") = Versioned.filesAt(spark, lake).size

    // ---- round-10 primitives -------------------------------------
    // RESTORE: metadata-only — must stay flat in lake size
    time("restore") { Versioned.restore(spark, lake, 1L) }
    // SHALLOW CLONE: one manifest write — flat in lake size
    time("clone") { Versioned.cloneAt(spark, lake, work + "/clone") }
    // blind APPEND: write + a delta manifest bounded by the batch —
    // per-commit cost must not see the lake's size
    val appendBatch = base.filter(col("event_type") === "view" &&
        col("event_id") % 1000 === 9)
      .withColumn("event_id", col("event_id") + lit(900000000L))
    time("append_commit") {
      Versioned.append(spark, lake, appendBatch, Seq("event_type"))
    }
    // stats bootstrap: one footer pass, O(files) not O(rows)
    time("backfill_stats") {
      Versioned.backfillStats(spark, lake, Seq("user_id", "value"))
    }
    // a merge under the stats discipline: commit + inherited inc
    // sidecar; the extra cost over merge_commit is the batch-bounded
    // footer pass on the commit's own files
    val batch2 = base.filter(col("event_type") === "click" &&
        col("event_id") % 1000 === 8)
      .withColumn("value", col("value") + 1)
    time("stats_merge_commit") {
      Versioned.mergeInto(spark, lake, batch2,
        Seq("event_type"), Seq("event_id"))
    }
    // ZORDER under stats: the re-cluster's fresh boxes arrive with the
    // commit; the pruned read then skips files with no index built
    time("zorder_optimize") {
      Versioned.optimize(spark, lake, Seq("event_type"),
        targetFilesPerPartition = 8,
        zorder = Some(graft.lake.Maintenance.mortonKey(
          col("user_id").bitwiseAND(lit(1023L)),
          graft.lake.Maintenance.gridBucket(col("value"), 0.0, 1000.0, 10),
          bits = 10)))
    }
    val preds = Seq(("user_id", 2.0, 95.0), ("value", 0.0, 80.0))
    metrics("n_files_z") = Versioned.filesAt(spark, lake).size
    metrics("stats_candidates") = graft.lake.SkipIndex.candidateFilesMulti(
      Versioned.statsAt(spark, lake), preds).size
    metrics("stats_pruned_rows") = time("stats_pruned_read") {
      Versioned.prunedScan(spark, lake,
        preds.map { case (c, lo, hi) => PruneRange(c, lo, hi) }).count()
    }
    metrics("full_filter_rows") = time("full_filter_read") {
      Versioned.snapshot(spark, lake)
        .filter(col("user_id").between(2, 95) && col("value").between(0.0, 80.0))
        .count()
    }

    // ---- round-11 primitives -------------------------------------
    // metadata-only null count from the commit-time sidecars
    metrics("null_count") = time("fast_null_count") {
      Versioned.fastNullCount(spark, lake, "value")
    }
    // one front door routing a range + a null test together
    metrics("pruned_scan_rows") = time("pruned_scan") {
      Versioned.prunedScan(spark, lake, Seq(
        PruneRange("user_id", 2.0, 95.0), PruneNotNull("value"))).count()
    }
    // BINPACK: 6 small-file append waves onto one partition, then the
    // size-targeted compaction — cost tracks the compacted partition's
    // bytes, never the lake
    (0 until 6).foreach { i =>
      Versioned.append(spark, lake,
        base.filter(col("event_type") === "view" &&
            col("event_id") % 3000 === i)
          .withColumn("event_id", col("event_id") + lit((i + 2) * 1000000000L)),
        Seq("event_type"))
    }
    metrics("n_files_pre_binpack") = Versioned.filesAt(spark, lake).size
    time("binpack") {
      Versioned.optimize(spark, lake, Seq("event_type"),
        targetFileSizeBytes = Some(8L * 1024 * 1024))
    }
    metrics("n_files_post_binpack") = Versioned.filesAt(spark, lake).size
    // change-feed as table property: the per-commit overhead of the
    // crash-atomic #cdfinc increment (vs stats_merge_commit above)
    Versioned.enableChangeFeed(spark, lake, Seq("event_id"))
    val batch3 = base.filter(col("event_type") === "click" &&
        col("event_id") % 1000 === 6)
      .withColumn("value", col("value") + 2)
    time("cdf_merge_commit") {
      Versioned.mergeInto(spark, lake, batch3,
        Seq("event_type"), Seq("event_id"))
    }

    // COMMIT-ONLY disjoint-merge retry: a loser whose CAS race was to
    // a DISJOINT-partition winner re-runs ONE metadata op, never the
    // data job — this row should read as cdf_merge_commit + epsilon,
    // where the pre-feature full re-resolve read as ~2x
    val batchD = base.filter(col("event_type") === "click" &&
        col("event_id") % 1000 === 5)
      .withColumn("value", col("value") + 3)
    val batchOther = base.filter(col("event_type") === "view" &&
        col("event_id") % 1000 === 4)
      .withColumn("value", col("value") + 4)
    // the winner's merge runs INSIDE the loser's timed window (that is
    // what a CAS race is) — it is timed separately so the loser's own
    // cost is the difference: loser - winner ≈ one merge + one CAS
    var fired = false
    Versioned.beforeCommitHook = () => {
      if (!fired) {
        fired = true
        time("disjoint_winner_inner") {
          Versioned.mergeInto(spark, lake, batchOther,
            Seq("event_type"), Seq("event_id"))
        }
      }
    }
    try time("disjoint_loser_merge") {
      Versioned.mergeInto(spark, lake, batchD,
        Seq("event_type"), Seq("event_id"))
    } finally Versioned.beforeCommitHook = () => ()

    // ---- round-11 continued: mapping + partition-spec primitives ---
    // RENAME COLUMN: metadata-only — one manifest write, flat in lake
    time("rename_column") {
      Versioned.renameColumn(spark, lake, "value", "reading")
    }
    // partition spec on a dedicated lake (needs a low-cardinality
    // re-key column): DECLARE is metadata-only and flat; the RE-SPEC
    // is one full-rewrite commit whose cost TRACKS the lake — the
    // honest, documented price of keeping every version single-spec
    // (Delta's road: repartitioning is a rewrite)
    val rlake = work + "/respec"
    val rbase = base.withColumn("bucket", pmod(col("user_id"), lit(8L)))
    MergeData.writeMerged(spark, rbase, rlake, keys = Seq("event_type"))
    Versioned.init(spark, rlake)
    time("declare_spec") {
      Versioned.changePartitionSpec(spark, rlake, Seq("event_type"))
    }
    time("respec_rewrite") {
      Versioned.changePartitionSpec(spark, rlake, Seq("bucket"))
    }
    metrics("n_files_respec") = Versioned.filesAt(spark, rlake).size

    // ---- round-12: ROW-LEVEL MOR MERGE vs COW on a SCATTERED batch -
    // ~0.1% of rows hitting EVERY bucket partition — the COW
    // write-amplification case: mergeInto must rewrite every touched
    // partition (here the whole 8-bucket lake), mergeIntoMor writes
    // ONE key file + the batch's own rows. cow_scatter_merge tracks
    // the LAKE's bytes (≈30x on the 30x clone); mor_scatter_merge
    // tracks the BATCH and stays ~flat. The MOR read-side anti-join
    // and its one-time materialization are timed next to it — the
    // full ledger of the trade.
    // FIXED-SIZE batch (same rows at every clone factor — the clone
    // offsets new copies' ids upward, so a bounded-id predicate pins
    // the batch while the lake grows): the clean separation of
    // batch-proportional (MOR) from lake-proportional (COW) cost
    val scatter = rbase.filter(col("event_id") % 997 === 13 &&
        col("event_id") < 100000000L)
      .withColumn("value", col("value") + 9)
    metrics("scatter_batch_rows") = scatter.count()
    val morLake = work + "/morlake"
    MergeData.writeMerged(spark, rbase, morLake, keys = Seq("bucket"))
    Versioned.init(spark, morLake)
    // bytes WRITTEN by each commit (added files + tombstones) — the
    // scale-transparent ledger: wall time at these SFs is dominated by
    // constant Spark overhead, but written bytes track the structure
    // exactly (COW ∝ touched-partition bytes ∝ the LAKE here, since
    // the batch hits every bucket; MOR ∝ the batch)
    def commitBytes(lakeDir: String, v: Long): Long = {
      val prevSet = Versioned.filesAt(spark, lakeDir, v - 1).toSet
      val added = Versioned.filesAt(spark, lakeDir, v).filterNot(prevSet)
      val dels = Versioned.deleteFilesAt(spark, lakeDir, v)
        .map(e => e.split(" @").head)
      (added ++ dels).map(f => fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$lakeDir/$f")).getLen).sum
    }
    val vCow = time("cow_scatter_merge") {
      Versioned.mergeInto(spark, rlake, scatter,
        Seq("bucket"), Seq("event_id"))
    }
    metrics("cow_scatter_bytes_written") = commitBytes(rlake, vCow)
    val vMor = time("mor_scatter_merge") {
      Versioned.mergeIntoMor(spark, morLake, scatter,
        Seq("bucket"), Seq("event_id"))
    }
    metrics("mor_scatter_bytes_written") = commitBytes(morLake, vMor)
    metrics("mor_scatter_read_rows") = time("mor_scatter_read") {
      Versioned.snapshot(spark, morLake).count()
    }
    time("mor_materialize") {
      Versioned.materializeDeletes(spark, morLake, Seq("bucket"))
    }

    // ---- round-13: PLANNER-PATH ledger ---------------------------
    // The format relation is the dashboard user's per-query driver
    // cost: ONE cold build pays a listStatus per partition dir plus a
    // mergeSchema footer pass; every later read of the same version
    // serves from the (dir, version) cache — the cached row must stay
    // ~flat as the lake grows, and the cold row is the honest O(files)
    // listing cost. listFiles planner work is O(candidate files): a
    // partition filter prunes to that partition BEFORE any sidecar
    // probe — files-listed counts pin it structurally.
    val curR = Versioned.currentVersion(spark, rlake)
    time("relation_cold_build") {
      graft.sources.GraftFileIndex.relation(spark.sqlContext, rlake, curR)
    }
    time("relation_cached") {
      graft.sources.GraftFileIndex.relation(spark.sqlContext, rlake, curR)
    }
    val rel = spark.read.format("graft").load(rlake)
    rel.filter(col("bucket") === 3).count()
    metrics("planner_files_one_bucket") =
      graft.sources.GraftFileIndex.lastListedFiles.size
    rel.count()
    metrics("planner_files_full") =
      graft.sources.GraftFileIndex.lastListedFiles.size

    // ---- round-13b: read-upgrade ledger (row-based vs vectorized) --
    // The same reads timed WITHOUT the graft rules (snapshot relation,
    // per-row conversion) and WITH them (GraftVectorizedReads: columnar
    // scan + anti-join). morLake gets a fresh MOR window first so the
    // tombstone path is actually exercised; each variant runs once
    // untimed (warm) then timed — the delta is the row boundary's cost,
    // which grows with the lake while the vectorized side rides the
    // columnar pipe.
    Versioned.mergeIntoMor(spark, morLake,
      rbase.filter(col("event_id") % 991 === 17 &&
          col("event_id") < 100000000L)
        .withColumn("value", col("value") + 5),
      Seq("bucket"), Seq("event_id"))
    def morAgg(): Unit = spark.read.format("graft").load(morLake)
      .agg(count(lit(1)), sum("value")).collect()
    spark.conf.set("spark.sql.catalog.graft_lsb",
      "graft.sources.GraftCatalog")
    def catAgg(): Unit = spark.sql(
      s"SELECT count(*), sum(value) FROM graft_lsb.`$rlake`").collect()
    val vecRule = "graft.sources.GraftVectorizedReads"
    spark.conf.set("spark.sql.optimizer.excludedRules", vecRule)
    morAgg(); time("mor_read_rowbased") { morAgg() }
    catAgg(); time("catalog_read_rowbased") { catAgg() }
    spark.conf.unset("spark.sql.optimizer.excludedRules")
    morAgg(); time("mor_read_vectorized") { morAgg() }
    catAgg(); time("catalog_read_vectorized") { catAgg() }

    // ---- round-14: DELETION-VECTOR ledger -------------------------
    // A FIXED-SIZE predicate delete (bounded-id predicate, same
    // matched rows at every clone factor) via positional vectors:
    // bytes written must track the MATCH, never the lake — the 30x
    // clone's dv_bytes_written should read ~flat while a COW delete's
    // would track the touched partitions (the lake, for a scattered
    // predicate). The DV read pays the positional anti-join.
    val dvPred = col("event_id") % 983 === 11 &&
      col("event_id") < 100000000L
    metrics("dv_match_rows") =
      Versioned.snapshot(spark, morLake).filter(dvPred).count()
    val filesPreDv = Versioned.filesAt(spark, morLake).toSet
    val vDv = time("dv_delete") {
      Versioned.deleteWhereVectors(spark, morLake, dvPred)
    }
    require(Versioned.filesAt(spark, morLake).toSet == filesPreDv,
      "deletion-vector delete must not touch data files")
    metrics("dv_bytes_written") = commitBytes(morLake, vDv)
    metrics("dv_read_rows") = time("dv_read") {
      Versioned.snapshot(spark, morLake).count()
    }

    // ---- round-14: SQL-MERGE lowering ledger ----------------------
    // The same merge shape through SQL text (GraftRowLevelSql lowers
    // the analyzed MergeIntoTable onto Versioned.mergeInto) and
    // through the library, fresh fixed-size batches each: the DELTA
    // is the SQL surface's own cost (parse + analyze + lowering + the
    // cardinality-check job) and must stay ~flat across clones — the
    // lowering is plan-time driver work, O(1) in lake size. Job count
    // pins the structure (one source scan per merge since round 14).
    val sqlBatch = rbase.filter(col("event_id") % 977 === 19 &&
        col("event_id") < 100000000L)
      .withColumn("value", col("value") + 7)
    val libBatch = rbase.filter(col("event_id") % 971 === 23 &&
        col("event_id") < 100000000L)
      .withColumn("value", col("value") + 8)
    metrics("sql_merge_batch_rows") = sqlBatch.count()
    sqlBatch.createOrReplaceTempView("lsb_merge_src")
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(jl)
    time("sql_merge_commit") {
      spark.sql(s"MERGE INTO graft_lsb.`$rlake` t USING lsb_merge_src s " +
        "ON t.event_id = s.event_id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    Thread.sleep(300) // listener bus drains async
    spark.sparkContext.removeSparkListener(jl)
    metrics("sql_merge_jobs") = jobCount.get()
    time("lib_merge_commit") {
      Versioned.mergeInto(spark, rlake, libBatch,
        Seq("bucket"), Seq("event_id"))
    }

    // ---- round-14: COPY INTO ledger --------------------------------
    // Idempotent ingestion against the BIG lake: the drop set is
    // FIXED-SIZE (bounded-id slice, same files/rows at every clone
    // factor), so the claim under test is that COPY's cost tracks the
    // DROP (listing + fresh-file scan + one append commit) and its
    // no-op re-run tracks the LEDGER (a handful of tiny reads) —
    // never the lake's bytes or history.
    // drops speak the table's CURRENT logical names (the bench renamed
    // value -> reading above; a real upload pipeline would too)
    val dropRows = base.filter(col("event_id") % 991 === 7 &&
        col("event_id") < 100000000L)
      .withColumn("event_id", col("event_id") + lit(900000000L))
      .withColumnRenamed("value", "reading")
    val dropDir = work + "/copy_drops"
    dropRows.repartition(10).write
      .option("header", "true").option("compression", "gzip")
      .csv(dropDir + "/d1")
    metrics("copy_drop_rows") = dropRows.count()
    val copy1 = time("copy_first") {
      graft.lake.CopyInto.run(spark, lake, dropDir, "csv",
        pattern = Some("*.csv.gz"), options = Map("header" -> "true"))
    }
    metrics("copy_first_files") = copy1.filesLoaded
    val copyNoop = time("copy_noop") {
      graft.lake.CopyInto.run(spark, lake, dropDir, "csv",
        pattern = Some("*.csv.gz"), options = Map("header" -> "true"))
    }
    require(copyNoop.filesLoaded == 0L, s"re-run must skip ($copyNoop)")
    // a late one-file drop: the incremental COPY loads ONLY it
    dropRows.limit(50).withColumn("event_id",
        col("event_id") + lit(1000000000L))
      .coalesce(1).write
      .option("header", "true").option("compression", "gzip")
      .csv(dropDir + "/d2")
    val copyIncr = time("copy_incr") {
      graft.lake.CopyInto.run(spark, lake, dropDir, "csv",
        pattern = Some("*.csv.gz"), options = Map("header" -> "true"))
    }
    require(copyIncr.filesLoaded == 1L && copyIncr.filesSkipped == 10L,
      s"incremental COPY must load only the late drop ($copyIncr)")

    // ---- round-14: N-dim ZORDER skip ledger ------------------------
    // True 3-dim interleave (mortonKeyN): after ONE re-cluster, a
    // single-dimension filter on ANY of the three clustered columns
    // must skip files (candidate counts from the commit-time boxes).
    // A plain sort tightens only its leading column; a pairwise fold
    // privileges the first pair — this is the property that makes
    // multi-predicate dashboards cheap on one layout.
    Versioned.backfillStats(spark, lake,
      Seq("user_id", "reading", "event_id"))
    time("zorder3_optimize") {
      Versioned.optimize(spark, lake, Seq("event_type"),
        targetFilesPerPartition = 8,
        zorder = Some(graft.lake.Maintenance.mortonKeyN(Seq(
          graft.lake.Maintenance.gridBucket(col("user_id"), 0.0, 1500.0, 10),
          graft.lake.Maintenance.gridBucket(col("reading"), 0.0, 1000.0, 10),
          graft.lake.Maintenance.gridBucket(col("event_id"),
            0.0, 1.0e10, 10)), bits = 10)))
    }
    val z3Stats = Versioned.statsAt(spark, lake)
    metrics("z3_files") = Versioned.filesAt(spark, lake).size
    def cands(c: String, lo: Double, hi: Double): Int =
      graft.lake.SkipIndex.candidateFilesMulti(z3Stats,
        Seq((c, lo, hi))).size
    // single-dim windows, one per clustered dimension (stats key by
    // PHYSICAL name: reading's physical spelling is value). The
    // user_id window is a uniform 7% slice; the reading and event_id
    // windows probe the RARE tails (skewed dims on a linear grid —
    // where clustering either pays or doesn't)
    metrics("z3_cand_user") = cands("user_id", 100.0, 200.0)
    metrics("z3_cand_reading") = cands("value", 400.0, 600.0)
    metrics("z3_cand_event") = cands("event_id", 6.9e9, 7.2e9)
    // the DENSE region of the skewed dim: a linear [0, 1e10] grid
    // packs virtually every row into cell 0, so per-file boxes stay
    // domain-wide and a dense-region window prunes nothing — the
    // failure mode rank cells exist to fix
    metrics("z3_cand_event_dense") = cands("event_id", 1.0e6, 1.2e6)
    metrics("z3_pruned_rows") = time("z3_pruned_read") {
      Versioned.prunedScan(spark, lake,
        Seq(PruneRange("user_id", 100.0, 200.0))).count()
    }

    // ---- round-15: QUANTILE (rank) grid vs the LINEAR grid above ---
    // Same lake, same windows, one re-cluster with equal-POPULATION
    // cells (the clusterKey discipline: approx_percentile cuts +
    // quantileBucket's balanced comparison tree). The structural
    // claim: on SKEWED dims (reading's value tail, event_id's sparse
    // top decade) the linear grid packs most rows into a few cells —
    // per-file boxes stay wide and the rare-tail windows prune little
    // — while rank cells hold equal row counts, so the SAME windows
    // see tighter boxes and fewer candidates at every clone factor.
    val qProbs = (1 until 256).map(_ / 256.0).toArray
    val cutRow = Versioned.snapshot(spark, lake).agg(
      percentile_approx(col("user_id").cast("double"),
        lit(qProbs), lit(10000)),
      percentile_approx(col("reading").cast("double"),
        lit(qProbs), lit(10000)),
      percentile_approx(col("event_id").cast("double"),
        lit(qProbs), lit(10000))).head()
    def qcuts(i: Int): Seq[Double] =
      cutRow.getSeq[Double](i).distinct.sorted
    def qb(c: String, i: Int) =
      graft.lake.Maintenance.quantileBucket(col(c).cast("double"),
        qcuts(i).map(lit(_)))
    time("z3q_optimize") {
      Versioned.optimize(spark, lake, Seq("event_type"),
        targetFilesPerPartition = 8,
        zorder = Some(graft.lake.Maintenance.mortonKeyN(Seq(
          qb("user_id", 0), qb("reading", 1), qb("event_id", 2)),
          bits = 8)))
    }
    val zqStats = Versioned.statsAt(spark, lake)
    def qcands(c: String, lo: Double, hi: Double): Int =
      graft.lake.SkipIndex.candidateFilesMulti(zqStats,
        Seq((c, lo, hi))).size
    metrics("z3q_files") = Versioned.filesAt(spark, lake).size
    metrics("z3q_cand_user") = qcands("user_id", 100.0, 200.0)
    metrics("z3q_cand_reading") = qcands("value", 400.0, 600.0)
    metrics("z3q_cand_event") = qcands("event_id", 6.9e9, 7.2e9)
    metrics("z3q_cand_event_dense") = qcands("event_id", 1.0e6, 1.2e6)
    metrics("z3q_pruned_rows") = time("z3q_pruned_read") {
      Versioned.prunedScan(spark, lake,
        Seq(PruneRange("user_id", 100.0, 200.0))).count()
    }

    // ---- round-16: the SQL VERB's explicit ZORDER BY ---------------
    // `OPTIMIZE ... ZORDER BY (user_id, reading, event_id)` now routes
    // through the SAME rank-cut clusterKey as declared clustering, with
    // the byte-target conf sizing the layout. This row pins that the
    // VERB's candidates match the hand-built z3q layout above — the r15
    // defect was the verb interleaving RAW low bits (`id mod 65536` on
    // these 1e10-domain ids: hash noise, domain-wide boxes, no skip).
    // LIVE bytes (metadata-only via the #bytes rail) — a directory
    // listing would count the dead generations earlier rewrites left
    // (no vacuum ran) and overshoot the target ~4x
    val lakeBytes = Versioned.fileSizesAt(spark, lake).values.sum
    spark.conf.set("spark.graft.optimize.targetFileSize",
      math.max(65536L, lakeBytes / 16L).toString)
    try time("z3sql_optimize") {
      graft.sources.GraftOptimizeCommand(lake,
        Seq("user_id", "reading", "event_id")).run(spark)
    } finally spark.conf.unset("spark.graft.optimize.targetFileSize")
    val zsStats = Versioned.statsAt(spark, lake)
    def scands(c: String, lo: Double, hi: Double): Int =
      graft.lake.SkipIndex.candidateFilesMulti(zsStats,
        Seq((c, lo, hi))).size
    metrics("z3sql_files") = Versioned.filesAt(spark, lake).size
    metrics("z3sql_cand_user") = scands("user_id", 100.0, 200.0)
    metrics("z3sql_cand_reading") = scands("value", 400.0, 600.0)
    metrics("z3sql_cand_event") = scands("event_id", 6.9e9, 7.2e9)
    metrics("z3sql_cand_event_dense") = scands("event_id", 1.0e6, 1.2e6)
    metrics("z3sql_pruned_rows") = time("z3sql_pruned_read") {
      Versioned.prunedScan(spark, lake,
        Seq(PruneRange("user_id", 100.0, 200.0))).count()
    }

    // ---- round-15: INCREMENTAL liquid clustering -------------------
    // The steady-state claim: after the first (full) self-cluster
    // stamps `#clusterat`, the maintenance loop's cost tracks INGEST
    // CHURN — a bare OPTIMIZE lays out only the since-added stripe
    // (liquid_incr ≈ batch-sized at every clone factor, while
    // liquid_full grows with the lake) and a stamp-current table
    // no-ops without a commit.
    Versioned.setClusterBy(spark, lake, Seq("user_id", "reading"))
    time("liquid_full") {
      graft.sources.GraftOptimizeCommand(lake, Nil).run(spark)
    }
    val liquidBulk = Versioned.filesAt(spark, lake).toSet
    metrics("liquid_bulk_files") = liquidBulk.size
    time("liquid_noop") { // stamp-current: nothing to do, no commit
      graft.sources.GraftOptimizeCommand(lake, Nil).run(spark)
    }
    // a ~0.5% stripe lands, then the incremental pass
    Versioned.append(spark, lake,
      Versioned.snapshot(spark, lake)
        .filter(col("event_id") % 211 === 0)
        .withColumn("event_id", col("event_id") + lit(3.0e10.toLong)),
      Seq("event_type"))
    time("liquid_incr") {
      graft.sources.GraftOptimizeCommand(lake, Nil).run(spark)
    }
    metrics("liquid_bulk_untouched") =
      liquidBulk.count(Versioned.filesAt(spark, lake).contains)
    require(liquidBulk.forall(Versioned.filesAt(spark, lake).contains),
      "the stripe pass must not rewrite the clustered bulk")

    // ---- round-14: OPTIMIZE WHERE ledger ---------------------------
    // The hot-partition maintenance move, on the UNIFORM 8-bucket
    // lake: fragment ONE bucket with small appends, then a
    // WHERE-scoped OPTIMIZE vs a FULL sweep — the scoped rewrite's
    // bytes track the TOUCHED PARTITION (≈ 1/8 of the lake here),
    // the full sweep pays everything. The RATIO is the structural
    // claim; both legs grow with the lake, the scope divides it.
    (1 to 3).foreach { i => // small-file debt in EVERY bucket
      Versioned.append(spark, rlake,
        rbase.filter(col("event_id") % 1009 === i)
          .withColumn("event_id", col("event_id") + lit(i * 20000000000L)),
        Seq("bucket"))
    }
    val vScoped = time("optimize_where_scoped") {
      Versioned.optimize(spark, rlake, Seq("bucket"),
        partitionFilter = Some(Map("bucket" -> "3")))
    }
    metrics("optwhere_scoped_bytes") = commitBytes(rlake, vScoped)
    // the full sweep then heals the other 7 buckets (bucket 3 is
    // already compact and skips): scoped/full ≈ 1/7 here
    val vFull = time("optimize_full") {
      Versioned.optimize(spark, rlake, Seq("bucket"))
    }
    metrics("optwhere_full_bytes") = commitBytes(rlake, vFull)

    // ---- round-16: COMMIT-PATH microbench --------------------------
    // 20 fixed one-row appends at full history depth: isolates the
    // per-commit metadata cost (#bytes rail, versioned-anchor resolve,
    // conformToPinned, txn carry) from any data-volume effect — the
    // r15 round's +32% lake-tier drift correlated with commit-path
    // additions but was never microbenched. FLAT across clone factors
    // = the commit path is lake-size-independent; the per-round diff
    // of this row is the line-item adjudication.
    val cpSnap = Versioned.snapshot(spark, lake).limit(1)
    val cpRows = cpSnap.collect()
    val cpSchema = cpSnap.schema
    time("commit_path_20") {
      (1 to 20).foreach { i =>
        Versioned.append(spark, lake,
          spark.createDataFrame(
              spark.sparkContext.parallelize(cpRows.toSeq, 1), cpSchema)
            .withColumn("event_id", lit(91000000000L + i)),
          Seq("event_type"))
      }
    }

    // ---- round-17: IDENTITY/ROW-TRACKING append cost ---------------
    // The dense id assignment pays one count job plus a Row-RDD
    // round trip (Versioned.applyIdentity) per batch. These twin rows
    // price that against a plain append of the SAME batch onto an
    // identically-seeded lake, at every clone factor — the ratio is
    // the ledger line for "what does writing into an identity table
    // cost before someone ships TB batches into one".
    val iSeed = base.filter(col("event_id") % 97 === 0)
    val iPlain = work + "/ident_plain"
    val iTracked = work + "/ident_tracked"
    MergeData.writeMerged(spark, iSeed, iPlain, keys = Seq("event_type"))
    Versioned.init(spark, iPlain)
    MergeData.writeMerged(spark, iSeed, iTracked, keys = Seq("event_type"))
    Versioned.init(spark, iTracked)
    Versioned.enableRowTracking(spark, iTracked)
    val iBatch = base.withColumn("event_id",
      col("event_id") + lit(50000000000L))
    time("ident_append_plain") {
      Versioned.append(spark, iPlain, iBatch, Seq("event_type"))
    }
    time("ident_append_tracked") {
      Versioned.append(spark, iTracked, iBatch, Seq("event_type"))
    }
    metrics("ident_append_ratio") = {
      val p = metrics("ident_append_plain_sec").asInstanceOf[Double]
      val t = metrics("ident_append_tracked_sec").asInstanceOf[Double]
      if (p > 0) math.rint(t / p * 100) / 100.0 else -1.0
    }

    // ---- round-17: WRITE-SIDE SIZING steady state ------------------
    // A 10-batch firehose with optimizeWrite + autoCompact ON must
    // hold the live file count ~flat (ceil(bytes/target) + in-flight)
    // where the unshaped control accumulates per-batch slivers — the
    // small-files treadmill priced at every clone factor.
    val fSlice = base.filter(col("event_id") % 7 === 0)
    def firehose(lakeDir: String, label: String): Unit = {
      MergeData.writeMerged(spark, fSlice, lakeDir, keys = Seq("event_type"))
      Versioned.init(spark, lakeDir)
      Versioned.backfillStats(spark, lakeDir, Seq("value"))
      time(label) {
        (1 to 10).foreach { i =>
          Versioned.append(spark, lakeDir,
            fSlice.withColumn("event_id",
              col("event_id") + lit(i * 60000000000L)),
            Seq("event_type"))
        }
      }
      metrics(label + "_files") = Versioned.filesAt(spark, lakeDir).size
    }
    spark.conf.set("spark.graft.write.optimizeWrite", "true")
    spark.conf.set("spark.graft.write.autoCompact", "true")
    spark.conf.set("spark.graft.write.autoCompact.minFiles", "8")
    spark.conf.set("spark.graft.optimize.targetFileSize", "128m")
    firehose(work + "/fh_shaped", "optwrite_firehose10")
    spark.conf.unset("spark.graft.write.optimizeWrite")
    spark.conf.unset("spark.graft.write.autoCompact")
    spark.conf.unset("spark.graft.write.autoCompact.minFiles")
    spark.conf.unset("spark.graft.optimize.targetFileSize")
    firehose(work + "/fh_treadmill", "treadmill_firehose10")

    def j(v: Any): String = v match {
      case s: String => "\"" + s + "\""
      case x => String.valueOf(x)
    }
    println(metrics.map { case (k, v) => s""""$k":${j(v)}""" }
      .mkString("{", ",", s""","dir":"$dir"}"""))
    spark.stop()
  }
}
