package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.lake.Versioned
import graft.ops.MergeData

/** `readStream.format("graft")` — the engine's table follower. Pins:
  * snapshot-first batch semantics (the CURRENT snapshot, even after
  * optimize + vacuum), append-only tailing across query RESTARTS and
  * a crash between sink commit and offset commit with a txn-marked
  * sink (exactly-once end to end: streamed state == batch snapshot,
  * no duplicates on replay), `startingVersion` (no initial snapshot),
  * `maxVersionsPerTrigger` backpressure (a backlog of n versions at
  * cap k drains in exactly ceil(n/k) batches, a seeded first batch
  * included), `readChanges` into a merge-applying replica, and the
  * loud refusal on a rewrite commit in range. */
class GraftStreamSourceSpec extends SparkSpec {

  private def state(d: DataFrame): Set[(String, Long, Double)] =
    d.select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def mkLake(root: java.io.File, rows: Seq[(String, Long, Double)])
      : String = {
    val lake = new java.io.File(root, "src_lake").getAbsolutePath
    MergeData.writeMerged(spark, df(rows, "site", "id", "v"), lake,
      keys = Seq("site"))
    Versioned.init(spark, lake)
    lake
  }

  private def follow(srcLake: String, sinkLake: String, ckpt: String,
      options: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft")
    options.foreach { case (k, v) => reader.option(k, v) }
    reader.load(srcLake)
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("partitionKeys", "site")
      .trigger(Trigger.AvailableNow())
      .start(sinkLake).awaitTermination()
  }

  test("follow: snapshot-first batch, appended versions tail in, restarts do not duplicate (exactly-once into the txn sink)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0), ("b", 10L, 10.0)))
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    follow(src, sink, ckpt)
    assert(state(Versioned.snapshot(spark, sink)) ==
      state(Versioned.snapshot(spark, src)),
      "first run must deliver the current snapshot")
    // two more appends, then one follow run: both tail in
    Versioned.append(spark, src, df(Seq(("a", 2L, 2.0)), "site", "id", "v"),
      Seq("site"))
    Versioned.append(spark, src, df(Seq(("c", 3L, 3.0)), "site", "id", "v"),
      Seq("site"))
    follow(src, sink, ckpt)
    assert(state(Versioned.snapshot(spark, sink)) ==
      state(Versioned.snapshot(spark, src)))
    // restart with NOTHING new: replay must be a no-op (no duplicates)
    val nSink = Versioned.currentVersion(spark, sink)
    follow(src, sink, ckpt)
    assert(state(Versioned.snapshot(spark, sink)) ==
      state(Versioned.snapshot(spark, src)))
    assert(Versioned.currentVersion(spark, sink) == nSink,
      "an idle restart must not commit anything")
    // row-count sanity: exactly-once, not at-least-once
    assert(Versioned.snapshot(spark, sink).count() == 4L)
  }

  test("schema pinning: a restart resolves ZERO snapshot schemas (pinned under the checkpoint) and serves the ORIGINAL column names even after an ALTER-style rename") {
    val root = java.nio.file.Files.createTempDirectory("graft_spin").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0), ("b", 10L, 10.0)))
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val r0 = GraftStreamSource.schemaResolutions
    follow(src, sink, ckpt)
    assert(GraftStreamSource.schemaResolutions == r0 + 1,
      "first start resolves (and pins) the schema once")
    Versioned.append(spark, src, df(Seq(("c", 3L, 3.0)), "site", "id", "v"),
      Seq("site"))
    follow(src, sink, ckpt)
    assert(GraftStreamSource.schemaResolutions == r0 + 1,
      "a restart must read the pinned schema file — zero resolutions")
    // rename a column in the followed table: the pinned stream keeps
    // serving the ORIGINAL name (replays stay byte-identical; following
    // the new name is a fresh checkpoint, Delta's restart discipline)
    Versioned.renameColumn(spark, src, "v", "reading")
    follow(src, sink, ckpt)
    assert(GraftStreamSource.schemaResolutions == r0 + 1)
    assert(Versioned.snapshot(spark, sink).columns.toSet ==
      Set("site", "id", "v"),
      "the sink must keep the stream's pinned (pre-rename) column set")
    assert(state(Versioned.snapshot(spark, sink)) ==
      Set(("a", 1L, 1.0), ("b", 10L, 10.0), ("c", 3L, 3.0)))
  }

  test("a mid-stream type widen refuses loudly with the fresh-checkpoint guidance; a fresh checkpoint follows the widened type") {
    val root = java.nio.file.Files.createTempDirectory("graft_swid").toFile
    root.deleteOnExit()
    // an INT-columned source lake (id narrow on purpose)
    val lake = new java.io.File(root, "src_lake").getAbsolutePath
    MergeData.writeMerged(spark,
      df(Seq(("a", 1, 1.0), ("b", 10, 10.0)), "site", "id", "v"),
      lake, keys = Seq("site"))
    Versioned.init(spark, lake)
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    follow(lake, sink, ckpt) // pins id: int under this checkpoint
    // the table widens and takes values only the wide type can hold
    Versioned.widenColumn(spark, lake, "id",
      org.apache.spark.sql.types.LongType)
    Versioned.append(spark, lake,
      df(Seq(("a", 5000000000L, 2.0)), "site", "id", "v"), Seq("site"))
    val e = intercept[Exception] { follow(lake, sink, ckpt) }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("FRESH checkpoint"), rootMsg(e).take(500))
    // a FRESH checkpoint follows the widened table
    val sink2 = new java.io.File(root, "sink2").getAbsolutePath
    val ckpt2 = new java.io.File(root, "ckpt2").getAbsolutePath
    follow(lake, sink2, ckpt2)
    assert(Versioned.snapshot(spark, sink2)
      .agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) ==
      5000000011L)
  }

  test("startingVersion: no initial snapshot — only appends after the seed arrive") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_sv").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0), ("b", 10L, 10.0)))
    Versioned.append(spark, src, df(Seq(("c", 3L, 3.0)), "site", "id", "v"),
      Seq("site")) // v1 — after the seed
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    follow(src, sink, ckpt, Map("startingVersion" -> "0"))
    assert(state(Versioned.snapshot(spark, sink)) == Set(("c", 3L, 3.0)),
      "with startingVersion=0 only the post-v0 appends stream")
  }

  test("startingTimestamp: the replay floor seeds by commit time — commits AT or after the timestamp stream, the checkpoint pins the resolved version across restarts, pre-history timestamps refuse with the repair, both seed options together refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_st").toFile
    root.deleteOnExit()
    val src = new java.io.File(root, "src_lake").getAbsolutePath
    MergeData.writeMerged(spark, df(Seq(("a", 1L, 1.0)), "site", "id", "v"),
      src, keys = Seq("site"))
    Versioned.init(spark, src, commitTs = 1000L)
    Versioned.append(spark, src, df(Seq(("b", 2L, 2.0)), "site", "id", "v"),
      Seq("site"), commitTs = 2000L)
    Versioned.append(spark, src, df(Seq(("c", 3L, 3.0)), "site", "id", "v"),
      Seq("site"), commitTs = 3000L)
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    // seed AT v1's commit time: v1 and v2 stream (at-or-after), v0 not
    follow(src, sink, ckpt, Map("startingTimestamp" -> "2000"))
    assert(state(Versioned.snapshot(spark, sink)) ==
      Set(("b", 2L, 2.0), ("c", 3L, 3.0)),
      "commits AT or after the timestamp must stream; earlier ones not")
    // restart: the pinned floor serves — only the NEW commit arrives,
    // nothing replays as a duplicate
    Versioned.append(spark, src, df(Seq(("d", 4L, 4.0)), "site", "id", "v"),
      Seq("site"), commitTs = 4000L)
    follow(src, sink, ckpt, Map("startingTimestamp" -> "2000"))
    assert(Versioned.snapshot(spark, sink).count() == 3L,
      "a restart must not duplicate the already-delivered range")
    assert(state(Versioned.snapshot(spark, sink)) ==
      Set(("b", 2L, 2.0), ("c", 3L, 3.0), ("d", 4L, 4.0)))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    // a seed PREDATING the table on a never-vacuumed lake is NOT an
    // error: everything is at-or-after it — snapshot mode (Delta's
    // start-from-version-0 analogue)
    follow(src, new java.io.File(root, "sink2").getAbsolutePath,
      new java.io.File(root, "ckpt2").getAbsolutePath,
      Map("startingTimestamp" -> "500"))
    assert(state(Versioned.snapshot(spark,
        new java.io.File(root, "sink2").getAbsolutePath)) ==
      state(Versioned.snapshot(spark, src)),
      "a pre-table seed on retained-v0 history must stream everything")
    // both seeds together are ambiguous
    val e2 = intercept[Exception] {
      follow(src, new java.io.File(root, "sink3").getAbsolutePath,
        new java.io.File(root, "ckpt3").getAbsolutePath,
        Map("startingTimestamp" -> "2000", "startingVersion" -> "0"))
    }
    assert(msgs(e2).exists(_.contains("not both")),
      s"expected the both-options refusal, got: ${msgs(e2).mkString(" | ")}")
    // VACUUM reaps the anchoring history: a FRESH seed that predates
    // it refuses naming the cause and the repair — but the ORIGINAL
    // checkpointed stream RESTARTS fine (its floor is pinned; the
    // resolution never re-runs against the clock: the r16 review's
    // restart-outage finding)
    // keep the LAST-SERVED batch range resolvable (Spark re-serves the
    // final committed batch on restart) while reaping v0/v1 — the
    // versions that anchored the original timestamp seed
    Versioned.vacuum(spark, src, keepVersions = 2)
    val e3 = intercept[Exception] {
      follow(src, new java.io.File(root, "sink4").getAbsolutePath,
        new java.io.File(root, "ckpt4").getAbsolutePath,
        Map("startingTimestamp" -> "500"))
    }
    assert(msgs(e3).exists(m => m.contains("startingTimestamp") &&
      m.contains("startingVersion")),
      s"expected the post-vacuum refusal with repair, got: ${msgs(e3).mkString(" | ")}")
    Versioned.append(spark, src, df(Seq(("e", 5L, 5.0)), "site", "id", "v"),
      Seq("site"), commitTs = 5000L)
    follow(src, sink, ckpt, Map("startingTimestamp" -> "2000"))
    assert(state(Versioned.snapshot(spark, sink)) ==
      Set(("b", 2L, 2.0), ("c", 3L, 3.0), ("d", 4L, 4.0), ("e", 5L, 5.0)),
      "a checkpointed stream must restart after vacuum reaped the " +
        "versions that anchored its original timestamp seed")
  }

  test("maxVersionsPerTrigger: backlog drains in bounded chunks across runs; floor cache survives") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_mx").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0)))
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    // consume the (inherently one-batch) initial snapshot first; the
    // cap governs the TAIL, not the bootstrap
    follow(src, sink, ckpt, Map("maxVersionsPerTrigger" -> "2"))
    (2 to 6).foreach { i =>
      Versioned.append(spark, src,
        df(Seq(("a", i.toLong, i.toDouble)), "site", "id", "v"), Seq("site"))
    } // src at v5: a 5-version backlog behind the follower
    // the source implements SupportsTriggerAvailableNow: ONE run
    // drains the WHOLE backlog captured at start, in micro-batches
    // each bounded by the cap — each micro-batch is one txn-marked
    // sink commit, so the sink's version delta counts the batches:
    // exactly ceil(5/2) = 3
    val sinkV0 = Versioned.currentVersion(spark, sink)
    follow(src, sink, ckpt, Map("maxVersionsPerTrigger" -> "2"))
    assert(state(Versioned.snapshot(spark, sink)) ==
      state(Versioned.snapshot(spark, src)),
      "one AvailableNow run must drain the whole backlog")
    val batches = Versioned.currentVersion(spark, sink) - sinkV0
    assert(batches == 3L,
      s"a cap of 2 versions must drain a 5-version backlog in exactly " +
        s"ceil(5/2) = 3 micro-batches (saw $batches sink commits)")
    assert(Versioned.snapshot(spark, sink).count() == 6L, "exactly-once")
    // an idle re-run offers no progress and commits nothing
    follow(src, sink, ckpt, Map("maxVersionsPerTrigger" -> "2"))
    assert(Versioned.currentVersion(spark, sink) == sinkV0 + batches,
      "a caught-up AvailableNow run must commit nothing")
  }

  test("maxVersionsPerTrigger caps the FIRST batch of a seeded stream: startingVersion=0 + 3 appends at cap 1 drain as 3 sink commits") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_mx0").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0)))
    (2 to 4).foreach { i =>
      Versioned.append(spark, src,
        df(Seq(("a", i.toLong, i.toDouble)), "site", "id", "v"), Seq("site"))
    } // v1..v3 after the seed
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    follow(src, sink, ckpt,
      Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "1"))
    // the sink's v0 is its empty init; every later version is one
    // micro-batch — a fresh checkpoint has no engine offset and no
    // floor cache, so the seed itself must be the first batch's floor
    assert(Versioned.currentVersion(spark, sink) == 3L,
      "a cap of 1 must split the seeded 3-version backlog into 3 " +
        s"micro-batches (sink at v${Versioned.currentVersion(spark, sink)})")
    assert(state(Versioned.snapshot(spark, sink)) ==
      Set(("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 4.0)))
  }

  test("maxVersionsPerTrigger: a 10-commit CDC backlog drains in ceil(10/3) bounded batches; a crash mid-drain replays its chunk identically; no dup/loss") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_chunk").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0), ("b", 10L, 10.0)))  // v0
    Versioned.enableChangeFeed(spark, src, Seq("site", "id"))       // v1
    val replica = new java.io.File(root, "replica").getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, src, 1L),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    // a 10-commit backlog (1, 11]: 8 appends + 2 merges scattered in
    (1 to 4).foreach { i =>
      Versioned.append(spark, src,
        df(Seq(("a", 100L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }                                                               // v2..v5
    Versioned.mergeInto(spark, src,
      df(Seq(("a", 1L, 111.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v6
    (5 to 8).foreach { i =>
      Versioned.append(spark, src,
        df(Seq(("b", 100L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }                                                               // v7..v10
    Versioned.mergeInto(spark, src,
      df(Seq(("b", 10L, 0.0, true)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v11
    assert(Versioned.currentVersion(spark, src) == 11L)
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    // (batch id, commit versions the batch carried) per handed-over batch
    val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def run(crashAt: Int): Unit =
      spark.readStream.format("graft")
        .option("readChanges", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "3")
        .load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (d: DataFrame, batchId: Long) =>
          served += ((batchId, d.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).toSet))
          val b = d.filter(col("_action") =!= "update_preimage")
            .withColumn("__delete", col("_action") === "delete")
            .drop("_action", "_commit_version")
          if (!b.isEmpty)
            Versioned.mergeInto(spark, replica, b, Seq("site"),
              Seq("site", "id"), txn = Some(("chunk", batchId)))
          if (served.size == crashAt)
            throw new RuntimeException("crash mid-drain")
          ()
        }
        .start().awaitTermination()
    // crash after the SECOND batch's merge commits
    intercept[Exception] { run(crashAt = 2) }
    run(crashAt = -1)
    // ceil(10/3) = 4 distinct batches, each spanning at most 3
    // versions; batch 1 replays its logged range verbatim — not split,
    // not widened — and its txn marker dedups the replayed merge
    assert(served.toList == List(
      (0L, Set(2L, 3L, 4L)), (1L, Set(5L, 6L, 7L)), (1L, Set(5L, 6L, 7L)),
      (2L, Set(8L, 9L, 10L)), (3L, Set(11L))), s"got $served")
    assert(state(Versioned.snapshot(spark, replica)) ==
      state(Versioned.snapshot(spark, src)),
      "no dup, no loss: the chunked, crashed-and-replayed replica converges")
  }

  test("a sink that commits and then crashes before the offset log commits: the restart re-serves the IDENTICAL range despite new appends; the txn marker dedups it") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_crash").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0)))
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    // (batch id, ids the batch carried) for every batch handed over
    val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def run(crashAfterCommit: Boolean): Unit =
      spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "2")
        .load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (d: DataFrame, batchId: Long) =>
          served += ((batchId,
            d.select("id").collect().map(_.getLong(0)).toSet))
          Versioned.append(spark, sink, d, Seq("site"),
            txn = Some(("follow", batchId)))
          if (crashAfterCommit && batchId > 0)
            throw new RuntimeException("crash after the sink commit")
          ()
        }
        .start().awaitTermination()
    run(crashAfterCommit = false) // batch 0: the snapshot
    val sinkV0 = Versioned.currentVersion(spark, sink)
    (2 to 3).foreach { i =>
      Versioned.append(spark, src,
        df(Seq(("a", i.toLong, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    intercept[Exception] { run(crashAfterCommit = true) }
    assert(Versioned.currentVersion(spark, sink) == sinkV0 + 1,
      "the crashed batch's sink commit landed")
    // NEW appends land before the restart
    (4 to 5).foreach { i =>
      Versioned.append(spark, src,
        df(Seq(("a", i.toLong, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    served.clear()
    run(crashAfterCommit = false)
    // batch 1 replays its logged (0, 2] range verbatim — not a wider
    // one whose fresh batch would commit the prefix twice — then
    // batch 2 serves the new appends
    assert(served.toList == List((1L, Set(2L, 3L)), (2L, Set(4L, 5L))),
      s"got $served")
    assert(Versioned.currentVersion(spark, sink) == sinkV0 + 2,
      "one sink commit per distinct range — none for the replay")
    assert(state(Versioned.snapshot(spark, sink)) ==
      state(Versioned.snapshot(spark, src)))
  }

  test("a fresh checkpoint serves the CURRENT snapshot — even after optimize rewrote every file and vacuum reaped v0") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_vac").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0)))
    (2 to 4).foreach { i =>
      Versioned.append(spark, src,
        df(Seq(("a", i.toLong, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    Versioned.optimize(spark, src, Seq("site")) // rewrites every file
    Versioned.vacuum(spark, src, keepVersions = 1) // v0 is GONE
    val sink = new java.io.File(root, "sink").getAbsolutePath
    follow(src, sink, new java.io.File(root, "ckpt").getAbsolutePath)
    assert(state(Versioned.snapshot(spark, sink)) ==
      state(Versioned.snapshot(spark, src)))
    assert(Versioned.snapshot(spark, sink).count() == 4L)
  }

  test("readChanges at cap 1 follows an append -> merge -> append -> delete -> restore history into a merge-applying replica, exactly-once across a crash mid-drain") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_uni").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0), ("b", 10L, 10.0)))  // v0
    Versioned.enableChangeFeed(spark, src, Seq("site", "id"))       // v1
    // the replica starts as the v1 snapshot; the stream serves what
    // came after it
    val replica = new java.io.File(root, "replica").getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, src, 1L),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    var applied = 0
    // cap 1: one commit per batch, so no batch holds two actions for
    // one key; each merge is stamped txn = (id, batchId)
    def run(crashAt: Int): Unit =
      spark.readStream.format("graft")
        .option("readChanges", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (d: DataFrame, batchId: Long) =>
          val b = d.filter(col("_action") =!= "update_preimage")
            .withColumn("__delete", col("_action") === "delete")
            .drop("_action", "_commit_version")
          if (!b.isEmpty)
            Versioned.mergeInto(spark, replica, b, Seq("site"),
              Seq("site", "id"), txn = Some(("cf", batchId)))
          applied += 1
          if (applied == crashAt)
            throw new RuntimeException("crash mid-drain")
          ()
        }
        .start().awaitTermination()
    Versioned.append(spark, src,
      df(Seq(("a", 2L, 2.0)), "site", "id", "v"), Seq("site"))   // v2
    Versioned.mergeInto(spark, src,
      df(Seq(("a", 1L, 100.0, false), ("b", 10L, 0.0, true)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))                            // v3 rewrite
    Versioned.append(spark, src,
      df(Seq(("b", 11L, 11.0)), "site", "id", "v"), Seq("site")) // v4
    Versioned.deleteWhere(spark, src, col("id") === 2L,
      keyCols = Seq("site", "id"))                               // v5 MOR
    Versioned.restore(spark, src, 2L)                            // v6
    // crash after the SECOND batch's merge commits — mid-drain
    intercept[Exception] { run(crashAt = 2) }
    run(crashAt = -1)
    // 5 batches for v2..v6, plus the crashed batch's replay
    assert(applied == 6, s"one batch per version, one replay: $applied")
    assert(state(Versioned.snapshot(spark, replica)) ==
      state(Versioned.snapshot(spark, src)),
      "replica must converge across merge/delete/restore commits")
    assert(state(Versioned.snapshot(spark, replica)) ==
      Set(("a", 1L, 1.0), ("b", 10L, 10.0), ("a", 2L, 2.0)),
      "restored state: v2's rows")
    // one replica commit per followed version (the replayed batch
    // found its txn marker), and the batch replication twin agrees
    assert(Versioned.currentVersion(spark, replica) == 5L)
    val twin = new java.io.File(root, "twin").getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, src, 1L),
      twin, keys = Seq("site"))
    Versioned.init(spark, twin)
    Versioned.applyTableChanges(spark, src, twin, Seq("site"), sinceV = 1L)
    assert(state(Versioned.snapshot(spark, twin)) ==
      state(Versioned.snapshot(spark, replica)))
    // further waves stream incrementally
    Versioned.append(spark, src,
      df(Seq(("c", 20L, 20.0)), "site", "id", "v"), Seq("site"))
    Versioned.deleteWhere(spark, src, col("id") === 1L,
      keyCols = Seq("site", "id"))
    run(crashAt = -1)
    assert(state(Versioned.snapshot(spark, replica)) ==
      state(Versioned.snapshot(spark, src)))
  }

  test("readChanges: merges and deletes stream as CDC rows == changesBetween; rewrites don't refuse; restarts don't duplicate") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_cdc").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0), ("b", 10L, 10.0)))
    val vSeed = Versioned.enableChangeFeed(spark, src, Seq("site", "id"))
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    def followChanges(): Unit =
      spark.readStream.format("graft")
        .option("readChanges", "true")
        .option("startingVersion", vSeed.toString)
        .load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("partitionKeys", "site")
        .trigger(Trigger.AvailableNow())
        .start(sink).awaitTermination()
    // wave 1: a REWRITE commit (merge) — the CDC stream serves it as
    // actions instead of refusing like the append-only mode
    Versioned.mergeInto(spark, src,
      df(Seq(("a", 1L, 100.0), ("c", 7L, 7.0)), "site", "id", "v"),
      Seq("site"), Seq("site", "id"))
    followChanges()
    def sinkRows: Set[(String, Long, Double, String, Long)] =
      Versioned.snapshot(spark, sink)
        .select("site", "id", "v", "_action", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getString(3), r.getLong(4))).toSet
    def oracle(toV: Long): Set[(String, Long, Double, String, Long)] =
      Versioned.changesBetween(spark, src, vSeed, toV)
        .select("site", "id", "v", "_action", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getString(3), r.getLong(4))).toSet
    assert(sinkRows == oracle(Versioned.currentVersion(spark, src)))
    assert(sinkRows.map(_._4) ==
      Set("insert", "update_preimage", "update_postimage"))
    // wave 2: an equality DELETE — streams as `delete` actions
    Versioned.deleteWhere(spark, src, col("id") === 10L, Seq("site", "id"))
    followChanges()
    assert(sinkRows == oracle(Versioned.currentVersion(spark, src)))
    assert(sinkRows.exists(r => r._4 == "delete" && r._2 == 10L))
    // restart with nothing new: no duplicates
    val n = Versioned.snapshot(spark, sink).count()
    followChanges()
    assert(Versioned.snapshot(spark, sink).count() == n, "exactly-once")
    // contract: readChanges without startingVersion refuses by name
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("readChanges", "true")
        .load(src)
        .writeStream.format("graft")
        .option("checkpointLocation",
          new java.io.File(root, "ckpt2").getAbsolutePath)
        .option("partitionKeys", "site")
        .trigger(Trigger.AvailableNow())
        .start(new java.io.File(root, "sink2").getAbsolutePath)
        .awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("startingVersion")),
      s"expected the startingVersion contract, got: ${msgs(e).mkString(" | ")}")
    // readChanges + a startingTimestamp that predates the WHOLE
    // retained history must refuse, not fall back to snapshot mode:
    // the snapshot's rows would null-fill _action/_commit_version
    // through the alignment select — silent non-actions to a CDC
    // consumer
    val e2 = intercept[Exception] {
      spark.readStream.format("graft").option("readChanges", "true")
        .option("startingTimestamp", "1") // before every commit
        .load(src)
        .writeStream.format("graft")
        .option("checkpointLocation",
          new java.io.File(root, "ckpt3").getAbsolutePath)
        .option("partitionKeys", "site")
        .trigger(Trigger.AvailableNow())
        .start(new java.io.File(root, "sink3").getAbsolutePath)
        .awaitTermination()
    }
    assert(msgs(e2).exists(m => m.contains("readChanges") &&
      m.contains("startingVersion")),
      s"expected the CDC pre-history refusal, got: ${msgs(e2).mkString(" | ")}")
  }

  test("a rewrite commit in range refuses loudly and points at the change feed") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssrc_rw").toFile
    root.deleteOnExit()
    val src = mkLake(root, Seq(("a", 1L, 1.0), ("b", 10L, 10.0)))
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    follow(src, sink, ckpt) // consume the snapshot
    Versioned.mergeInto(spark, src,
      df(Seq(("a", 1L, 99.0)), "site", "id", "v"), Seq("site"),
      Seq("site", "id")) // a REWRITE commit
    val e = intercept[Exception] { follow(src, sink, ckpt) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("change feed")),
      s"expected the append-only refusal, got: ${msgs(e).mkString(" | ")}")
  }
}
