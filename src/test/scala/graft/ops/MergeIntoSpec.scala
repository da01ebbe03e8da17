package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.lake.Versioned

/** Row-level MERGE INTO (copy-on-write, [[Versioned.mergeInto]]):
  * update/delete/insert semantics AND the physical guarantee that only
  * touched partitions rewrite — an untouched partition's files must
  * stay live in the new version, because at lake scale "merge a day's
  * upserts" must never become "rewrite the table".
  */
class MergeIntoSpec extends SparkSpec {

  /** A versioned lake (v0) over `rows`, partitioned by site. */
  private def lakeOf(name: String, rows: Seq[(String, Long, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory(name).toFile
    dir.deleteOnExit()
    MergeData.writeMerged(spark, df(rows, "site", "id", "v"),
      dir.getAbsolutePath, keys = Seq("site"))
    Versioned.init(spark, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  private def state(dir: String): Set[(String, Long, Double)] =
    Versioned.snapshot(spark, dir).select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  test("mergeInto applies update/delete/insert and leaves other partitions' files untouched") {
    val dir = lakeOf("graft_merge", Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 10L, 10.0), ("b", 11L, 11.0)))
    def files(v: Long, p: String): Set[String] =
      Versioned.filesAt(spark, dir, v).filter(_.startsWith(s"$p/")).toSet

    // batch: UPDATE a/1, DELETE a/2, INSERT a/4 and a whole new
    // partition c/100 — partition b is not in the batch
    val updates = df(Seq(
      ("a", 1L, 100.0, false), ("a", 2L, 0.0, true),
      ("a", 4L, 4.0, false), ("c", 100L, 9.0, false)),
      "site", "id", "v", "__delete")
    val v1 = Versioned.mergeInto(spark, dir, updates,
      partitionKeys = Seq("site"), rowKey = Seq("site", "id"))

    assert(state(dir) == Set(
      ("a", 1L, 100.0), ("a", 3L, 3.0), ("a", 4L, 4.0),
      ("b", 10L, 10.0), ("b", 11L, 11.0), ("c", 100L, 9.0)))
    assert(files(v1, "site=b") == files(0L, "site=b") &&
      files(0L, "site=b").nonEmpty,
      "untouched partition must keep the exact same files (COW scope)")
    assert((files(v1, "site=a") intersect files(0L, "site=a")).isEmpty,
      "the touched partition is rewritten")
  }

  /** A versioned lake over `rows` with the change feed enabled on
    * (site, id): v0 init, v1 enable-cdf. */
  private def cdfLake(name: String, rows: Seq[(String, Long, Double)]): String = {
    val root = java.nio.file.Files.createTempDirectory(name).toFile
    root.deleteOnExit()
    val lake = new java.io.File(root, "lake").getAbsolutePath
    MergeData.writeMerged(spark, df(rows, "site", "id", "v"), lake,
      keys = Seq("site"))
    Versioned.init(spark, lake)
    Versioned.enableChangeFeed(spark, lake, Seq("site", "id"))
    lake
  }

  test("change feed resolves actions against the pre-merge base") {
    val lake = cdfLake("graft_merge_cdf", Seq(("a", 1L, 1.0), ("a", 2L, 2.0)))
    val updates = df(Seq(
      ("a", 1L, 100.0, false),  // matched → update
      ("a", 2L, 0.0, true),     // matched → delete
      ("a", 3L, 3.0, false),    // unmatched → insert
      ("a", 99L, 0.0, true)),   // delete of absent key → NO feed row
      "site", "id", "v", "__delete")
    val v = Versioned.mergeInto(spark, lake, updates, Seq("site"),
      Seq("site", "id"), txn = Some(("cdf-replay", 7L)))
    def feed() = Versioned.changesBetween(spark, lake, 1L,
        Versioned.currentVersion(spark, lake))
      .select("_commit_version", "id", "_action", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    val rows = feed()
    // Delta-CDF shape: preimages/deletes carry the OLD row's values
    assert(rows == Set(
      (v, 1L, "update_preimage", 1.0), (v, 1L, "update_postimage", 100.0),
      (v, 2L, "delete", 2.0), (v, 3L, "insert", 3.0)))
    // replaying the batch under the same txn marker commits nothing, so
    // the published increment stays the original: re-resolving against
    // the now-merged base would publish zero-deltas and bogus
    // self-updates — the exact failure a crash-restarted streaming
    // merge would hit
    assert(Versioned.mergeInto(spark, lake, updates, Seq("site"),
      Seq("site", "id"), txn = Some(("cdf-replay", 7L))) == v)
    assert(feed() == rows, "replay must preserve the original feed increment")
  }

  test("feed deltas maintain a grouped aggregate without rescanning the lake") {
    val base = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("b", 10L, 10.0))
    val lake = cdfLake("graft_merge_ivm", base)
    // the view BEFORE the merge
    val before = df(base, "site", "id", "v").groupBy("site")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
    val v = Versioned.mergeInto(spark, lake,
      df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true),
        ("a", 4L, 4.0, false), ("b", 10L, 0.0, true)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    // maintained = before + deltas; truth = recompute from the lake
    val deltas = MergeData.feedDeltas(
      Versioned.changesBetween(spark, lake, 1L, v), Seq("site"), "v")
    val maintained = before.join(deltas, Seq("site"), "full")
      .select(col("site"),
        (coalesce(col("s"), lit(0.0)) + coalesce(col("delta_sum"), lit(0.0))).as("s"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("delta_count"), lit(0L))).as("n"))
      .filter(col("n") > 0)
    val truth = Versioned.snapshot(spark, lake).groupBy("site")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
    assert(rowsOf(maintained.orderBy("site")) == rowsOf(truth.orderBy("site")))
    assert(rowsOf(maintained.orderBy("site")) ==
      Seq(Seq("a", 107.0, 3L))) // {1->100, 3->3, 4->4}; b emptied by the delete
  }

  test("replica converges to primary by replaying the change feed") {
    val base = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0))
    val primary = cdfLake("graft_merge_repl", base)
    val replica = lakeOf("graft_merge_repl_replica", base)

    // two primary merge batches, each publishing its increment
    val v0 = Versioned.mergeInto(spark, primary,
      df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    Versioned.mergeInto(spark, primary,
      df(Seq(("c", 7L, 70.0, false), ("b", 10L, 0.0, true)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))

    // bounded catch-up (point-in-time restore): untilV stops at the
    // first batch's state...
    val hw = Versioned.applyTableChanges(spark, primary, replica, Seq("site"),
      sinceV = 1L, untilV = v0)
    assert(hw == v0)
    assert(state(replica) == Set(
      ("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))
    // ...then the high-water mark applies only what's above it
    Versioned.applyTableChanges(spark, primary, replica, Seq("site"), sinceV = hw)
    val primaryState = Versioned.snapshot(spark, primary).select("site", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(state(replica) == primaryState)
    assert(state(replica) == Set(("a", 1L, 100.0), ("c", 7L, 70.0)))
    // replaying from the same mark again is idempotent (keys already final)
    Versioned.applyTableChanges(spark, primary, replica, Seq("site"), sinceV = hw)
    assert(state(replica) == primaryState)
  }

  test("a null __delete marker is an upsert, never a silent delete") {
    val dir = lakeOf("graft_merge_nulldel", Seq(("a", 1L, 1.0), ("a", 2L, 2.0)))
    // __delete arrives null (CSV empty field / outer-join product):
    // the key must be REPLACED, not dropped with no replacement
    val updates = df(Seq(
      ("a", 1L, 5.0, None: Option[Boolean]),
      ("a", 2L, 0.0, Some(true))),
      "site", "id", "v", "__delete")
    Versioned.mergeInto(spark, dir, updates, Seq("site"), Seq("site", "id"))
    assert(state(dir) == Set(("a", 1L, 5.0)))
  }

  test("null partition values merge (null-safe match + Hive default dir)") {
    val dir = lakeOf("graft_merge_nullpart",
      Seq((null.asInstanceOf[String], 1L, 1.0), ("a", 2L, 2.0)))
    // update the row in the null partition — must match the base row
    // (col === null never would) and rewrite __HIVE_DEFAULT_PARTITION__
    val v1 = Versioned.mergeInto(spark, dir,
      df(Seq((null.asInstanceOf[String], 1L, 9.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("id"))
    assert(state(dir) == Set((null, 1L, 9.0), ("a", 2L, 2.0)))
    assert(Versioned.filesAt(spark, dir, v1)
      .exists(_.startsWith("site=__HIVE_DEFAULT_PARTITION__/")))
  }

  test("schema evolution: a batch adding a column null-fills old rows") {
    val dir = lakeOf("graft_merge_evo",
      Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    // the batch carries a NEW column `src`
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, "cdc", false), ("a", 3L, 3.0, "cdc", false)),
        "site", "id", "v", "src", "__delete"),
      Seq("site"), Seq("site", "id"))
    val got = Versioned.snapshot(spark, dir)
      .select("site", "id", "v", "src").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)))).toSet
    assert(got == Set(
      ("a", 1L, 100.0, Some("cdc")), // updated row carries the new col
      ("a", 2L, 2.0, None),          // survivor null-fills
      ("a", 3L, 3.0, Some("cdc")),   // insert carries it
      ("b", 10L, 10.0, None)))       // untouched partition: old schema, null on read
    // a second evolved batch against the evolved lake still works
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 2L, 20.0, "fix", false)),
        "site", "id", "v", "src", "__delete"),
      Seq("site"), Seq("site", "id"))
    val v2 = Versioned.snapshot(spark, dir)
      .filter(col("id") === 2L).select("v", "src").collect()
    assert(v2.length == 1 && v2(0).getDouble(0) == 20.0 && v2(0).getString(1) == "fix")
  }

  test("a batch missing a base data column is rejected, not null-merged") {
    val dir = lakeOf("graft_merge_drop", Seq(("a", 1L, 1.0), ("a", 2L, 2.0)))
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, dir,
        df(Seq(("a", 1L, false)), "site", "id", "__delete"), // no `v`
        Seq("site"), Seq("site", "id"))
    }
    assert(e.getMessage.contains("missing base columns"))
    // and the lake is untouched: no version committed
    assert(Versioned.currentVersion(spark, dir) == 0L)
    assert(state(dir) == Set(("a", 1L, 1.0), ("a", 2L, 2.0)))
  }

  test("a delete-everything batch empties the partition but not the lake") {
    val dir = lakeOf("graft_merge_del", Seq(("a", 1L, 1.0), ("b", 2L, 2.0)))
    val v1 = Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 0.0, true)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(state(dir) == Set(("b", 2L, 2.0)))
    assert(Versioned.filesAt(spark, dir, v1).forall(_.startsWith("site=b/")),
      "the emptied partition keeps no live file")
  }

  test("no file under src/main/scala names the batch_id=N directory change feed") {
    // the table-property feed (Versioned.enableChangeFeed, `#cdfinc`)
    // is the engine's one change feed; its argument-passed directory
    // twin and that twin's streaming follower were deleted. Likewise
    // every row-level merge and every feed replica commits through the
    // manifest (Versioned.mergeInto / applyTableChanges): the
    // directory-swap merge (a sibling `<table>_staging_*` dir renamed
    // over the partitions) and the plain-parquet replica's remap were
    // deleted
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not ${sys.props("user.dir")}")
    val banned = Seq("applyChangeFeed", "StreamingReplica",
      "stageFeedIncrement", "vacuumFeed", "changeDir",
      "MergeData.mergeInto", "mergeIntoImpl", "resumeCrashedRemap",
      "applyTableChangesVersioned", "startVersioned", "SkipIndex.refresh(",
      "\"_remap_\"")
    val patterns = Seq("changeFeed\\s*(:|=(?!=))".r,
      "\\+\\s*\"_staging_\"".r)
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        (banned.filter(src.contains) ++
          patterns.flatMap(_.findFirstIn(src))).map(hit => s"$p: $hit")
      }.toSeq
    assert(offenders.isEmpty, "serve change data through the table-property " +
      s"feed and commit merges through the manifest: $offenders")
  }
}
