package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lake.Versioned
import graft.ops.MergeData

/** Streamed CDC-apply must equal the same batches applied with batch
  * Versioned.mergeInto — including across an incremental second run
  * (new files only) and a crash injected between the merge landing and
  * the streaming commit (replay must converge, not double-apply). */
class StreamingMergeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("site", StringType), StructField("id", LongType),
    StructField("v", DoubleType), StructField("__delete", BooleanType)))

  private def mkDirs(): (String, String, String) = {
    val root = Files.createTempDirectory("graft_smerge").toFile
    root.deleteOnExit()
    (new File(root, "lake").getAbsolutePath,
      new File(root, "in").getAbsolutePath,
      new File(root, "ckpt").getAbsolutePath)
  }

  /** The base rows as v0 of a versioned lake at `lake`. */
  private def seedBase(lake: String): Unit = {
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)),
        "site", "id", "v"),
      lake, keys = Seq("site"))
    Versioned.init(spark, lake)
  }

  private def writeBatch(in: String, name: String,
      rows: Seq[(String, Long, Double, Boolean)]): Unit = {
    new File(in).mkdirs()
    val tmp = new File(in, s".$name.tmp")
    val w = new java.io.PrintWriter(tmp)
    try rows.foreach { case (s, i, v, d) => w.println(s"$s,$i,$v,$d") }
    finally w.close()
    // atomic-ish rename so the file source never reads a half file
    tmp.renameTo(new File(in, name))
  }

  private def runOnce(lake: String, in: String, ckpt: String,
      afterBatch: Long => Unit = _ => ()): Unit = {
    val q = StreamingMerge.start(spark.readStream.schema(schema).csv(in),
      lake, Seq("site"), Seq("site", "id"), ckpt, afterBatch = afterBatch)
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
  }

  private def state(lake: String, v: Long = -1L): Set[(String, Long, Double)] =
    Versioned.snapshot(spark, lake, v).select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  test("streamed merges across two incremental runs equal the batch result") {
    val (lake, in, ckpt) = mkDirs()
    seedBase(lake)
    writeBatch(in, "b1.csv", Seq(
      ("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)))
    runOnce(lake, in, ckpt)
    assert(state(lake) == Set(
      ("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))

    // second run discovers ONLY the new file (checkpointed listing)
    writeBatch(in, "b2.csv", Seq(
      ("a", 1L, 200.0, false), ("b", 10L, 0.0, true), ("b", 11L, 11.0, false)))
    runOnce(lake, in, ckpt)
    assert(state(lake) == Set(
      ("a", 1L, 200.0), ("b", 11L, 11.0), ("c", 7L, 7.0)))
  }

  test("streamed change feed replicates the lake batch-for-batch") {
    val (lake, in, ckpt) = mkDirs()
    val replica = new File(new File(lake).getParentFile, "replica").getAbsolutePath
    seedBase(lake)
    seedBase(replica)
    graft.lake.Versioned.enableChangeFeed(spark, lake, Seq("site", "id")) // v1
    writeBatch(in, "b1.csv", Seq(
      ("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)))
    runOnce(lake, in, ckpt)
    // the second micro-batch crashes after its commit; the replay finds
    // its txn marker and publishes no second increment
    writeBatch(in, "b2.csv", Seq(
      ("c", 7L, 70.0, false), ("b", 10L, 0.0, true)))
    intercept[Exception] {
      runOnce(lake, in, ckpt,
        afterBatch = _ => throw new RuntimeException("injected crash"))
    }
    runOnce(lake, in, ckpt)
    // two micro-batches → two increments, each carrying the Delta row
    // classes; replaying them converges the replica
    val cur = graft.lake.Versioned.currentVersion(spark, lake)
    assert(cur == 3L)
    val versions = graft.lake.Versioned.changesBetween(spark, lake, 1L, cur)
      .select("_commit_version").distinct().collect().map(_.getLong(0)).toSet
    assert(versions == Set(2L, 3L))
    graft.lake.Versioned.applyTableChanges(spark, lake, replica, Seq("site"),
      sinceV = 1L)
    assert(state(replica) == state(lake))
    assert(state(replica) == Set(("a", 1L, 100.0), ("c", 7L, 70.0)))
  }

  test("versioned streaming: manifest history accumulates; crash-replay does NOT advance the version") {
    val (lake, in, ckpt) = mkDirs()
    seedBase(lake)
    def runVersioned(afterBatch: Long => Unit = _ => ()): Unit =
      runOnce(lake, in, ckpt, afterBatch)
    def snapState(v: Long): Set[(String, Long, Double)] = state(lake, v)

    writeBatch(in, "b1.csv", Seq(
      ("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)))
    runVersioned()
    assert(graft.lake.Versioned.currentVersion(spark, lake) == 1L)
    assert(snapState(1L) == Set(
      ("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))

    // second batch crashes AFTER its versioned commit (v2) but before
    // the streaming log records it
    writeBatch(in, "b2.csv", Seq(("c", 7L, 70.0, false)))
    intercept[Exception] {
      runVersioned(afterBatch = _ => throw new RuntimeException("injected crash"))
    }
    assert(graft.lake.Versioned.currentVersion(spark, lake) == 2L)
    // restart replays b2: the (txnId, batchId) manifest marker makes
    // the replay a no-op — the version does NOT advance twice
    runVersioned()
    assert(graft.lake.Versioned.currentVersion(spark, lake) == 2L,
      "replayed batch must not commit a second version")
    assert(snapState(2L) == Set(
      ("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 70.0)))
    // and the stream's full history time-travels: v1 still intact
    assert(snapState(1L) == Set(
      ("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))

    // streamed versioned lake == the same batches applied with batch
    // Versioned.mergeInto on a twin lake
    val twin = new File(new File(lake).getParentFile, "twin").getAbsolutePath
    seedBase(twin)
    graft.lake.Versioned.mergeInto(spark, twin,
      df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)),
        "site", "id", "v", "__delete"), Seq("site"), Seq("site", "id"))
    graft.lake.Versioned.mergeInto(spark, twin,
      df(Seq(("c", 7L, 70.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    def twinState(v: Long): Set[(String, Long, Double)] =
      graft.lake.Versioned.snapshot(spark, twin, v)
        .select("site", "id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(graft.lake.Versioned.currentVersion(spark, twin) == 2L)
    (1L to 2L).foreach(v => assert(twinState(v) == snapState(v)))
  }

  test("crash between merge and commit: replay converges to the same state") {
    val (lake, in, ckpt) = mkDirs()
    seedBase(lake)
    writeBatch(in, "b1.csv", Seq(
      ("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)))
    // the merge lands, then the commit "crashes" — the streaming log
    // never records the batch
    intercept[Exception] {
      runOnce(lake, in, ckpt,
        afterBatch = _ => throw new RuntimeException("injected crash"))
    }
    val afterCrash = state(lake)
    assert(afterCrash == Set(("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)),
      "merge itself landed before the crash")
    // restart replays the same batch; its txn marker holds the state
    runOnce(lake, in, ckpt)
    assert(state(lake) == afterCrash)
    assert(Versioned.currentVersion(spark, lake) == 1L)
  }

  test("streamed APPEND ingest: one versioned append commit per batch; crash-replay skipped; appendsBetween sees exactly the streamed rows") {
    val (lake, in, ckpt) = mkDirs()
    seedBase(lake)
    val appendSchema = StructType(Seq(
      StructField("site", StringType), StructField("id", LongType),
      StructField("v", DoubleType)))
    def writeRows(name: String, rows: Seq[(String, Long, Double)]): Unit = {
      new File(in).mkdirs()
      val tmp = new File(in, s".$name.tmp")
      val w = new java.io.PrintWriter(tmp)
      try rows.foreach { case (s0, i, v) => w.println(s"$s0,$i,$v") }
      finally w.close()
      tmp.renameTo(new File(in, name))
    }
    def runAppend(afterBatch: Long => Unit = _ => ()): Unit = {
      val q = StreamingMerge.startAppend(
        spark.readStream.schema(appendSchema).csv(in), lake,
        Seq("site"), ckpt, afterBatch = afterBatch)
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    }
    def snap(): Set[(String, Long, Double)] =
      graft.lake.Versioned.snapshot(spark, lake)
        .select("site", "id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

    writeRows("a1.csv", Seq(("a", 50L, 5.0), ("b", 60L, 6.0)))
    runAppend()
    assert(graft.lake.Versioned.currentVersion(spark, lake) == 1L)
    assert(snap() == Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0),
      ("a", 50L, 5.0), ("b", 60L, 6.0)))

    // crash AFTER the append commit (v2), before the streaming record
    writeRows("a2.csv", Seq(("c", 70L, 7.0)))
    intercept[Exception] {
      runAppend(afterBatch = _ => throw new RuntimeException("injected crash"))
    }
    assert(graft.lake.Versioned.currentVersion(spark, lake) == 2L)
    // replay: the (txnId, batchId) marker skips — no version, no dupes
    runAppend()
    assert(graft.lake.Versioned.currentVersion(spark, lake) == 2L,
      "replayed append batch must not commit a second version")
    assert(snap().count(_._1 == "c") == 1)

    // the streamed commits ARE an append-only range: a follower reads
    // exactly the streamed rows from the manifests
    val added = graft.lake.Versioned.appendsBetween(spark, lake, 0L, 2L)
      .select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(added == Set(("a", 50L, 5.0), ("b", 60L, 6.0), ("c", 70L, 7.0)))
  }

  test("CDC chain: csv stream -> CDF primary -> readChanges -> replica") {
    val (primary, in, ckpt) = mkDirs()
    val root = new File(primary).getParentFile
    val replica = new File(root, "replica").getAbsolutePath
    val base = df(Seq(("a", 1L, 1.0), ("b", 10L, 10.0)), "site", "id", "v")
    MergeData.writeMerged(spark, base, primary, keys = Seq("site"))
    Versioned.init(spark, primary)
    Versioned.enableChangeFeed(spark, primary, Seq("site", "id")) // v1
    MergeData.writeMerged(spark, base, replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    // upstream: the csv stream merges into the primary, one versioned
    // commit per micro-batch; downstream: the primary's change stream
    // (one commit per batch) merges into the replica, txn-marked
    def runChain(): Unit = {
      runOnce(primary, in, ckpt)
      val q = spark.readStream.format("graft")
        .option("readChanges", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load(primary)
        .writeStream
        .option("checkpointLocation", new File(root, "ckpt_replica").getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (d: DataFrame, bid: Long) =>
          val b = d.filter(col("_action") =!= "update_preimage")
            .withColumn("__delete", col("_action") === "delete")
            .drop("_action", "_commit_version")
          if (!b.isEmpty)
            Versioned.mergeInto(spark, replica, b, Seq("site"),
              Seq("site", "id"), txn = Some(("chain", bid)))
          ()
        }
        .start()
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    }

    writeBatch(in, "w0.csv", Seq(("a", 1L, 100.0, false), ("c", 7L, 7.0, false)))
    runChain()
    assert(state(replica) == state(primary))
    assert(state(replica) ==
      Set(("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))

    // second wave, incremental end to end — including a delete
    writeBatch(in, "w1.csv", Seq(("b", 10L, 0.0, true), ("c", 7L, 77.0, false)))
    runChain()
    assert(state(replica) == state(primary))
    assert(state(replica) == Set(("a", 1L, 100.0), ("c", 7L, 77.0)))

    // a MERGE-ON-READ delete on the primary streams as an ordinary
    // delete batch: the tombstoned primary and the rewritten replica
    // converge
    Versioned.deleteWhere(spark, primary, col("id") === 1L, Seq("site", "id"))
    runChain()
    assert(Versioned.deleteFilesAt(spark, primary).nonEmpty,
      "primary stays merge-on-read")
    assert(state(replica) == state(primary))
    assert(state(replica) == Set(("c", 7L, 77.0)))
    // one replica version per primary commit after the enable
    assert(Versioned.currentVersion(spark, primary) == 4L)
    assert(Versioned.currentVersion(spark, replica) == 3L)
  }
}
