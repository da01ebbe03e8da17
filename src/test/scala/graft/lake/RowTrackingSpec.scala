package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.MergeData

/** ROW TRACKING (the engine-hidden `__graft_rid` identity rail) and
  * KEYLESS CDF: ids backfill once, assign on every write, survive
  * rewrites (update / merge / OPTIMIZE / clone), stay invisible to the
  * public read surface, and key the change feed when
  * `enableChangeFeed` is called with no rowKey — a replica keyed by
  * the ids converges across UPDATE/DELETE/MERGE with no user key. */
class RowTrackingSpec extends SparkSpec {

  private val Rid = Versioned.RowIdCol

  private def state(d: DataFrame): Set[(String, Long, Double)] =
    d.select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def rids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Long] =
    Versioned.snapshotAll(spark, dir).select(Rid).collect()
      .map(_.getLong(0)).toSeq.sorted

  private def freshLake(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rt").toFile
    dir.deleteOnExit()
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)),
        "site", "id", "v"),
      dir.getAbsolutePath, keys = Seq("site"))
    Versioned.init(spark, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  test("enableRowTracking backfills unique ids once, hides them from the public read, and appends keep assigning") {
    val dir = freshLake()
    Versioned.enableRowTracking(spark, dir)
    assert(Versioned.rowTrackingEnabled(spark, dir))
    assert(rids(spark, dir) == Seq(1L, 2L, 3L),
      "the backfill assigns dense ids to every existing row")
    assert(!Versioned.snapshot(spark, dir).columns.contains(Rid),
      "the public snapshot must hide the engine id")
    // idempotent
    val vBefore = Versioned.currentVersion(spark, dir)
    Versioned.enableRowTracking(spark, dir)
    assert(Versioned.currentVersion(spark, dir) == vBefore)
    // appends assign past the high-water
    Versioned.append(spark, dir,
      df(Seq(("c", 20L, 20.0), ("c", 21L, 21.0)), "site", "id", "v"),
      Seq("site"))
    assert(rids(spark, dir) == Seq(1L, 2L, 3L, 4L, 5L))
    // the rewritten pre-backfill version still travels WITHOUT ids
    assert(!Versioned.snapshotAll(spark, dir, 0L).columns.contains(Rid))
  }

  test("ids are STABLE across updateWhere, DV updates, and OPTIMIZE; merges reassign (fresh ids); guards refuse engine-namespace misuse") {
    val dir = freshLake()
    Versioned.enableRowTracking(spark, dir)
    val before = Versioned.snapshotAll(spark, dir)
      .select("id", Rid).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // COW update: the updated row KEEPS its id
    Versioned.updateWhere(spark, dir, col("id") === 1L,
      Map("v" -> lit(100.0)), Seq("site"))
    val afterUpd = Versioned.snapshotAll(spark, dir)
      .select("id", Rid).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterUpd == before, "a COW update must not reassign row ids")
    // DV update: same contract
    Versioned.updateWhereVectors(spark, dir, col("id") === 2L,
      Map("v" -> lit(200.0)), Seq("site"))
    assert(Versioned.snapshotAll(spark, dir).select("id", Rid).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == before,
      "a DV update must not reassign row ids")
    // OPTIMIZE: layout-only — the id SET is untouched
    val setBefore = rids(spark, dir)
    Versioned.optimize(spark, dir, Seq("site"))
    assert(rids(spark, dir) == setBefore,
      "OPTIMIZE must carry row ids through the rewrite")
    // merge: matched rows get FRESH ids (whole-row replacement), and
    // fresh ids never collide with live ones
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 111.0, false), ("d", 30L, 30.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    val afterMerge = rids(spark, dir)
    assert(afterMerge.distinct.size == afterMerge.size,
      "row ids must stay unique across a merge's reassignment")
    assert(state(Versioned.snapshot(spark, dir)).contains(("a", 1L, 111.0)))
    // guards
    val e1 = intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, dir, lit(true),
        Map(Rid -> lit(9L)), Seq("site")) }
    assert(e1.getMessage.contains("engine-owned"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Versioned.addColumn(spark, dir, "__graft_x",
        org.apache.spark.sql.types.LongType) }
    assert(e2.getMessage.contains("engine-owned"), e2.getMessage)
    // widen can't reach the hidden id (invisible = unknown column)
    intercept[Exception] {
      Versioned.widenColumn(spark, dir, Rid,
        org.apache.spark.sql.types.DoubleType) }
  }

  test("keyless CDF: enableChangeFeed() with no rowKey keys the feed by row ids; a replica converges across UPDATE/DELETE/MERGE/append") {
    val dir = freshLake()
    val seedV = Versioned.enableChangeFeed(spark, dir) // keyless
    assert(Versioned.changeFeedKey(spark, dir).contains(Seq(Rid)))
    // seed a versioned replica from the id-carrying snapshot
    val rep = java.nio.file.Files.createTempDirectory("graft_rtrep")
      .toFile.getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshotAll(spark, dir, seedV),
      rep, keys = Seq("site"))
    Versioned.init(spark, rep)
    // the full mutation mix, no user key anywhere
    Versioned.updateWhere(spark, dir, col("id") === 1L,
      Map("v" -> lit(100.0)), Seq("site"))
    Versioned.deleteWhereCow(spark, dir, col("id") === 2L, Seq("site"))
    Versioned.mergeInto(spark, dir,
      df(Seq(("b", 10L, 1000.0, false), ("c", 7L, 7.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    Versioned.append(spark, dir,
      df(Seq(("d", 40L, 40.0)), "site", "id", "v"), Seq("site"))
    Versioned.deleteWhereVectors(spark, dir, col("id") === 7L)
    val cur = Versioned.applyTableChanges(spark, dir, rep,
      Seq("site"), seedV)
    assert(cur == Versioned.currentVersion(spark, dir))
    assert(state(Versioned.snapshot(spark, rep)) ==
      state(Versioned.snapshot(spark, dir)),
      "the keyless replica must converge to the source")
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 100.0), ("b", 10L, 1000.0), ("d", 40L, 40.0)))
    // and the ids agree row-for-row (the feed carried them)
    assert(Versioned.snapshotAll(spark, dir).select("id", Rid).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Versioned.snapshotAll(spark, rep).select("id", Rid).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // the replica's public read hides the id column too
    assert(!Versioned.snapshot(spark, rep).columns.contains(Rid))
  }

  test("clone interplay: a clone of a row-tracked table keeps the rule, the ids, and the hiding; keyed enableChangeFeed is unchanged") {
    val dir = freshLake()
    Versioned.enableRowTracking(spark, dir)
    val clone = java.nio.file.Files.createTempDirectory("graft_rtcl")
      .toFile.getAbsolutePath
    Versioned.cloneAt(spark, dir, clone)
    assert(Versioned.rowTrackingEnabled(spark, clone))
    assert(rids(spark, clone) == rids(spark, dir))
    assert(!Versioned.snapshot(spark, clone).columns.contains(Rid))
    // a clone-side append continues past the carried high-water
    Versioned.append(spark, clone,
      df(Seq(("z", 99L, 9.0)), "site", "id", "v"), Seq("site"))
    val all = rids(spark, clone)
    assert(all.distinct.size == all.size && all.max == 4L)
    // keyed CDF still demands a real column
    val dir2 = freshLake()
    val e = intercept[IllegalArgumentException] {
      Versioned.enableChangeFeed(spark, dir2, Seq("nope")) }
    assert(e.getMessage.contains("nope"), e.getMessage)
    // pending tombstones refuse the backfill, naming the repair
    Versioned.deleteWhere(spark, dir2, col("id") === 1L, Seq("site", "id"))
    val e2 = intercept[IllegalArgumentException] {
      Versioned.enableRowTracking(spark, dir2) }
    assert(e2.getMessage.contains("materializeDeletes"), e2.getMessage)
  }

  test("addGeneratedColumn's backfill rewrite carries ids, and its refusals cover the engine namespace") {
    val dir = freshLake()
    Versioned.enableRowTracking(spark, dir)
    val before = Versioned.snapshotAll(spark, dir)
      .select("id", Rid).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the rewrite branch (column absent) replaces EVERY live file — it
    // must read the id-bearing view or the backfill wipes all ids
    Versioned.addGeneratedColumn(spark, dir, "vneg", "0.0 - v")
    assert(Versioned.snapshotAll(spark, dir).select("id", Rid).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == before,
      "the generated-column backfill rewrite must carry row ids")
    assert(Versioned.snapshot(spark, dir)
      .filter(col("vneg") =!= -col("v")).count() == 0L)
    val e = intercept[IllegalArgumentException] {
      Versioned.addGeneratedColumn(spark, dir, "__graft_g", "v") }
    assert(e.getMessage.contains("engine-owned"), e.getMessage)
  }

  test("widenColumn re-pins WITH the hidden id: the ids stay visible to the engine and survive the next rewrite") {
    val d = java.nio.file.Files.createTempDirectory("graft_rtw")
      .toFile.getAbsolutePath
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 3L, 3)), "site", "id", "w"),
      d, keys = Seq("site"))
    Versioned.init(spark, d)
    Versioned.enableRowTracking(spark, d)
    val ids = Versioned.snapshotAll(spark, d)
      .select("id", Rid).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Versioned.widenColumn(spark, d, "w",
      org.apache.spark.sql.types.LongType)
    // a rid-less pin would HIDE the ids here (and the update below
    // would then rewrite its partitions without them — permanent loss)
    assert(Versioned.snapshotAll(spark, d).columns.contains(Rid),
      "the widen pin must keep the engine id column")
    Versioned.updateWhere(spark, d, col("id") === 1L,
      Map("w" -> lit(10L)), Seq("site"))
    assert(Versioned.snapshotAll(spark, d).select("id", Rid).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == ids,
      "ids must survive a rewrite AFTER the widen re-pin")
  }

  test("the backfill rewrite extends established stats coverage (pruned reads and metadata counts keep working)") {
    val dir = freshLake()
    Versioned.backfillStats(spark, dir, Seq("v"))
    Versioned.enableRowTracking(spark, dir)
    // statsAt REFUSES on partial coverage — the backfill replaced
    // every file, so without the incremental extension this throws
    // (and statsPrunedRead/metadataAggregate break with it)
    assert(Versioned.statsAt(spark, dir).count() > 0L,
      "stats coverage must survive the row-tracking backfill")
  }

  test("keyless enableChangeFeed on an already-keyed table refuses BEFORE the backfill rewrite") {
    val dir = freshLake()
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))
    val v = Versioned.currentVersion(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Versioned.enableChangeFeed(spark, dir) }
    assert(e.getMessage.contains("already enabled"), e.getMessage)
    assert(Versioned.currentVersion(spark, dir) == v,
      "the refusal must not leave a row-tracking rewrite commit behind")
    assert(!Versioned.rowTrackingEnabled(spark, dir))
  }

  test("renameColumn cannot target the engine namespace (the hidden id is invisible to the collision check)") {
    val dir = freshLake()
    Versioned.enableRowTracking(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "v", Rid) }
    assert(e.getMessage.contains("engine-owned"), e.getMessage)
  }
}
