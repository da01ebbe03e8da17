package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lake.Versioned
import graft.ops.MergeData

/** Streamed incremental view maintenance must land exactly on the
  * batch recompute (q120's oracle contract) after every micro-batch —
  * including a crash injected between the view write and the streaming
  * commit, where replay must overwrite its own version, not
  * double-apply the deltas. */
class StreamingViewSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("site", StringType), StructField("id", LongType),
    StructField("v", DoubleType), StructField("__delete", BooleanType)))

  private def mkDirs(): (String, String, String, String) = {
    val root = Files.createTempDirectory("graft_sview").toFile
    root.deleteOnExit()
    (new File(root, "lake").getAbsolutePath,
      new File(root, "in").getAbsolutePath,
      new File(root, "ckpt").getAbsolutePath,
      new File(root, "view").getAbsolutePath)
  }

  /** A versioned lake over `rows` with the change feed enabled. */
  private def seedLake(lake: String, rows: Seq[(String, Long, Double)]): Unit = {
    MergeData.writeMerged(spark, df(rows, "site", "id", "v"), lake,
      keys = Seq("site"))
    Versioned.init(spark, lake)
    Versioned.enableChangeFeed(spark, lake, Seq("site", "id"))
  }

  private def writeBatch(in: String, name: String,
      rows: Seq[(String, Long, Double, Boolean)]): Unit = {
    new File(in).mkdirs()
    val tmp = new File(in, s".$name.tmp")
    val w = new java.io.PrintWriter(tmp)
    try rows.foreach { case (s, i, v, d) => w.println(s"$s,$i,$v,$d") }
    finally w.close()
    tmp.renameTo(new File(in, name))
  }

  private def runOnce(lake: String, in: String, ckpt: String,
      view: String, afterBatch: Long => Unit = _ => ()): Unit = {
    val stream = spark.readStream.schema(schema).csv(in)
    val q = StreamingView.start(stream, lake, Seq("site"), Seq("site", "id"),
      groupKeys = Seq("site"), valueCol = "v",
      viewDir = view, checkpoint = ckpt,
      afterBatch = afterBatch)
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
  }

  private def viewState(view: String): Set[(String, Double, Long)] =
    StreamingView.readView(spark, view).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet

  private def recompute(lake: String): Set[(String, Double, Long)] =
    Versioned.snapshot(spark, lake).groupBy("site")
      .agg(sum("v").as("s"), count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet

  test("streamed view tracks the batch recompute across incremental runs") {
    val (lake, in, ckpt, view) = mkDirs()
    seedLake(lake, Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    StreamingView.init(spark, lake, Seq("site"), "v", view)
    assert(viewState(view) == Set(("a", 3.0, 2L), ("b", 10.0, 1L)))

    writeBatch(in, "b1.csv", Seq(
      ("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)))
    runOnce(lake, in, ckpt, view)
    assert(viewState(view) == recompute(lake))
    assert(viewState(view) == Set(("a", 100.0, 1L), ("b", 10.0, 1L), ("c", 7.0, 1L)))

    // second run discovers only the new file; the view advances from
    // its own latest version + the new commit's increment
    writeBatch(in, "b2.csv", Seq(
      ("c", 7L, 70.0, false), ("b", 10L, 0.0, true)))
    runOnce(lake, in, ckpt, view)
    assert(viewState(view) == recompute(lake))
    assert(viewState(view) == Set(("a", 100.0, 1L), ("c", 70.0, 1L)))
  }

  test("crash after the view write: replay overwrites, never double-applies") {
    val (lake, in, ckpt, view) = mkDirs()
    seedLake(lake, Seq(("a", 1L, 1.0), ("a", 2L, 2.0)))
    StreamingView.init(spark, lake, Seq("site"), "v", view)

    writeBatch(in, "b1.csv", Seq(
      ("a", 1L, 50.0, false), ("a", 3L, 3.0, false)))
    // merge + VIEW both land; the streaming commit then "crashes"
    intercept[Exception] {
      runOnce(lake, in, ckpt, view,
        afterBatch = _ => throw new RuntimeException("injected crash"))
    }
    val afterCrash = viewState(view)
    assert(afterCrash == Set(("a", 55.0, 3L)), "view advanced before the crash")
    // restart replays the batch: the merge's txn marker commits
    // nothing, deltas recompute against view version -1 and overwrite
    // version 0 — state must hold, not double-apply
    val committed = Versioned.currentVersion(spark, lake)
    runOnce(lake, in, ckpt, view)
    assert(Versioned.currentVersion(spark, lake) == committed)
    assert(viewState(view) == afterCrash)
    assert(viewState(view) == recompute(lake))
  }
}
