package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpec}
import graft.lake.Versioned
import graft.ops.MergeData

/** Metadata-only aggregate answering: `SELECT count(*) / count(k) /
  * min(k) / max(k) FROM t` served from the manifest + stats rail via
  * DSv2 aggregate pushdown — zero data files read — with the
  * EXACT-OR-BAIL contract pinned: every guard that could diverge from
  * a full scan falls back to the ordinary plan and still answers
  * correctly. */
class GraftMetaAggSpec extends SparkSpec {

  GraftExtensions.register(spark)
  spark.conf.set("spark.sql.catalog.graft_magg", "graft.sources.GraftCatalog")

  private def tbl(dir: String) = s"graft_magg.`$dir`"

  private def freshLake(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_magg").toFile
    dir.deleteOnExit()
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.5), ("a", 2L, 2.5), ("b", 10L, 10.5),
        ("c", 20L, -3.5)), "site", "id", "v"),
      dir.getAbsolutePath, keys = Seq("site"))
    Versioned.init(spark, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  /** Runs `sql`, returning (row, served delta, physical plan). */
  private def run(sql: String): (org.apache.spark.sql.Row, Long, String) = {
    val before = Versioned.metadataAggServed.sum()
    val df = spark.sql(sql)
    val row = df.collect()(0)
    (row, Versioned.metadataAggServed.sum() - before,
      df.queryExecution.executedPlan.toString)
  }

  test("count(*)/count(k)/min/max answer metadata-only: values exact, zero parquet scan, counter bumps; WHERE / GROUP BY / strings / untracked bail to scan with the same answers") {
    val dir = freshLake()
    Versioned.backfillStats(spark, dir, Seq("id", "v"))
    val (row, served, plan) = run(
      s"SELECT count(*) AS c, count(v) AS cv, min(v) AS mnv, " +
        s"max(v) AS mxv, min(id) AS mni, max(id) AS mxi FROM ${tbl(dir)}")
    assert(served >= 1L, "the aggregate must be served from metadata")
    assert(!plan.toLowerCase.contains("parquet"),
      s"a metadata-answered aggregate must not scan data files:\n$plan")
    assert(row.getLong(0) == 4L && row.getLong(1) == 4L)
    assert(row.getDouble(2) == -3.5 && row.getDouble(3) == 10.5)
    assert(row.getLong(4) == 1L && row.getLong(5) == 20L,
      "min/max must come back in the COLUMN'S type (BIGINT id)")

    // the commit-time inheritance keeps later appends covered: a new
    // append moves the answer without any re-backfill
    Versioned.append(spark, dir,
      df(Seq(("d", 99L, 50.5)), "site", "id", "v"), Seq("site"))
    val (row2, served2, _) = run(
      s"SELECT count(*) AS c, max(v) AS mx FROM ${tbl(dir)}")
    assert(served2 >= 1L && row2.getLong(0) == 5L &&
      row2.getDouble(1) == 50.5)

    // WHERE on the PARTITION column → served over the pruned file
    // subset (every row of a surviving file matches by construction)
    val (rw, servedW, planW) = run(
      s"SELECT count(*) AS c FROM ${tbl(dir)} WHERE site = 'a'")
    assert(servedW >= 1L,
      "a partition-aligned predicate must stay metadata-answered")
    assert(!planW.toLowerCase.contains("parquet"), planW)
    assert(rw.getLong(0) == 2L)
    // subset EXTREMA come from the subset's boxes only
    val (rwx, servedWx, _) = run(
      s"SELECT min(v) AS mn, max(v) AS mx, count(v) AS cv " +
        s"FROM ${tbl(dir)} WHERE site IN ('a', 'c')")
    assert(servedWx >= 1L)
    assert(rwx.getDouble(0) == -3.5 && rwx.getDouble(1) == 2.5 &&
      rwx.getLong(2) == 3L,
      "subset extrema must reflect ONLY the surviving partitions")
    // a predicate matching NO partition: count 0 / NULL extrema, exact
    val (rw0, servedW0, _) = run(
      s"SELECT count(*) AS c, max(v) AS mx FROM ${tbl(dir)} " +
        "WHERE site = 'zz'")
    assert(servedW0 >= 1L && rw0.getLong(0) == 0L && rw0.isNullAt(1))

    // WHERE on a NON-partition column → residual → bail, same answer
    val (rr, servedR, _) = run(
      s"SELECT count(*) AS c FROM ${tbl(dir)} WHERE v > 0.0")
    assert(servedR == 0L, "a residual predicate must bail to the scan")
    assert(rr.getLong(0) == 4L)

    // GROUP BY the PARTITION column → served per group: each group's
    // rows are exactly its path-matched files' rows
    val beforeG = Versioned.metadataAggServed.sum()
    val gDf = spark.sql(
      s"SELECT site, count(*) AS c, min(v) AS mn FROM ${tbl(dir)} " +
        "GROUP BY site")
    val g = gDf.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(Versioned.metadataAggServed.sum() - beforeG >= 1L,
      "GROUP BY a partition column must be served from metadata")
    assert(!gDf.queryExecution.executedPlan.toString.toLowerCase
      .contains("parquet"))
    assert(g == Set(("a", 2L, 1.5), ("b", 1L, 10.5), ("c", 1L, -3.5),
      ("d", 1L, 50.5)))
    // grouped + partition-aligned WHERE compose
    val beforeGW = Versioned.metadataAggServed.sum()
    val gw = spark.sql(
      s"SELECT site, count(*) AS c FROM ${tbl(dir)} " +
        "WHERE site IN ('a', 'b') GROUP BY site")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(Versioned.metadataAggServed.sum() - beforeGW >= 1L)
    assert(gw == Map("a" -> 2L, "b" -> 1L))
    // GROUP BY a NON-partition column → bail, same answers
    val beforeGN = Versioned.metadataAggServed.sum()
    val gn = spark.sql(
      s"SELECT id, count(*) AS c FROM ${tbl(dir)} GROUP BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Versioned.metadataAggServed.sum() == beforeGN,
      "GROUP BY a non-partition column must bail to the scan")
    assert(gn.values.sum == 5L)

    // min over a STRING column → not a stats box → bail, still right
    val (rs, servedS, _) = run(
      s"SELECT min(site) AS m FROM ${tbl(dir)}")
    assert(servedS == 0L && rs.getString(0) == "a")

    // an UNTRACKED table (no stats sidecar) → bail, still right
    val dir2 = freshLake()
    val (r2, served3, _) = run(
      s"SELECT count(*) AS c, min(v) AS m FROM ${tbl(dir2)}")
    assert(served3 == 0L && r2.getLong(0) == 4L && r2.getDouble(1) == -3.5)
  }

  test("deletes: DVs subtract from a pushed count(*) but bail extrema; pending equality tombstones bail everything; time travel answers at the pinned version") {
    val dir = freshLake()
    Versioned.backfillStats(spark, dir, Seq("v"))
    // time travel first: version 0's metadata answer, not the head's
    Versioned.append(spark, dir,
      df(Seq(("d", 99L, 50.5)), "site", "id", "v"), Seq("site"))
    val (rTt, servedTt, _) = run(
      s"SELECT count(*) AS c, max(v) AS mx FROM ${tbl(dir)} VERSION AS OF 0")
    assert(servedTt >= 1L && rTt.getLong(0) == 4L &&
      rTt.getDouble(1) == 10.5, "the pinned version's stats must serve")

    // a deletion vector: count(*) stays metadata-answered AND exact;
    // extrema bail (the deleted row could hold one)
    Versioned.deleteWhereVectors(spark, dir, col("id") === 10L)
    val (rDv, servedDv, planDv) = run(
      s"SELECT count(*) AS c FROM ${tbl(dir)}")
    assert(servedDv >= 1L && rDv.getLong(0) == 4L,
      s"count under a DV must subtract the vector, got ${rDv.getLong(0)}")
    assert(!planDv.toLowerCase.contains("scan parquet"), planDv)
    val (rDvM, servedDvM, _) = run(
      s"SELECT max(v) AS mx FROM ${tbl(dir)}")
    assert(servedDvM == 0L && rDvM.getDouble(0) == 50.5,
      "extrema under a DV must bail (the deleted row was the old max? " +
        "exactness cannot be proven from boxes)")
    // GROUPED pure counts SUBTRACT the vector per group (the entry
    // names its file, the file names its group — still metadata),
    // and a fully-deleted partition VANISHES like the scan's
    val beforeGDv = Versioned.metadataAggServed.sum()
    val gDv = spark.sql(
      s"SELECT site, count(*) AS c FROM ${tbl(dir)} GROUP BY site")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(Versioned.metadataAggServed.sum() - beforeGDv >= 1L,
      "grouped pure counts must stay metadata-answered under DVs")
    assert(gDv == Map("a" -> 2L, "c" -> 1L, "d" -> 1L),
      s"per-group DV subtraction must match the MOR snapshot (got $gDv)")
    // but a grouped VALUE aggregate under a DV bails (the deleted row
    // could hold the group's extremum)
    val beforeGDvM = Versioned.metadataAggServed.sum()
    val gDvM = spark.sql(
      s"SELECT site, max(v) AS mx FROM ${tbl(dir)} GROUP BY site")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(Versioned.metadataAggServed.sum() == beforeGDvM,
      "grouped extrema must bail under deletion vectors")
    assert(gDvM == Map("a" -> 2.5, "c" -> -3.5, "d" -> 50.5))

    // a pending EQUALITY tombstone bails even the count
    val dir3 = freshLake()
    Versioned.backfillStats(spark, dir3, Seq("v"))
    Versioned.deleteWhere(spark, dir3, col("id") === 1L, Seq("site", "id"))
    val (rEq, servedEq, _) = run(
      s"SELECT count(*) AS c FROM ${tbl(dir3)}")
    assert(servedEq == 0L && rEq.getLong(0) == 3L)
  }

  test("empty tables answer count(*)=0 and NULL extrema metadata-only; the library surface agrees with SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_magg_e")
      .toFile
    dir.deleteOnExit()
    spark.sql(s"CREATE TABLE ${tbl(dir.getAbsolutePath)} " +
      "(site STRING, id BIGINT, v DOUBLE) PARTITIONED BY (site)")
    val (r, served, plan) = run(
      s"SELECT count(*) AS c, min(v) AS m FROM ${tbl(dir.getAbsolutePath)}")
    assert(served >= 1L && r.getLong(0) == 0L && r.isNullAt(1), plan)
    // library surface
    val ans = Versioned.metadataAggregate(spark, dir.getAbsolutePath,
      Seq(Versioned.MetaCount, Versioned.MetaMin("v")))
    assert(ans.contains(Seq(0L, null)))
  }
}
