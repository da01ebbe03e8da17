package graft.lake

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  /** 8 files of 512 rows each with DISJOINT key ranges per file
    * (key = file * 1000 + i), so a point probe has exactly one true
    * home file — any second candidate is a bloom false positive. */
  private lazy val lake: (String, org.apache.spark.sql.DataFrame) = {
    val rows = for (f <- 0 until 8; i <- 0 until 512)
      yield (f.toLong * 1000 + i, (f * 512 + i).toLong)
    val src = rows.toDF("key", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomidx").toFile
    dir.deleteOnExit()
    val out = new java.io.File(dir, "files").getAbsolutePath
    src.repartitionByRange(8, col("key"))
      .sortWithinPartitions("key").write.parquet(out)
    (out, src)
  }

  test("index has one bloom row per (file, column) and true row counts") {
    val (out, _) = lake
    val idx = BloomIndex.build(spark, out, Seq("key"), 1000L, 0.0001)
    val nFiles = spark.read.parquet(out)
      .select(input_file_name()).distinct().count()
    assert(idx.count() == nFiles)
    assert(idx.agg(sum("rows")).collect()(0).getLong(0) == 8 * 512L)
    assert(idx.filter(col("bloom").isNull).count() == 0)
  }

  test("point lookup prunes to (almost) one file and loses no rows") {
    val (out, src) = lake
    val idx = BloomIndex.build(spark, out, Seq("key"), 1000L, 0.0001).cache()
    val total = spark.read.parquet(out)
      .select(input_file_name()).distinct().count()
    // fpp 1e-4 over 7 foreign files: candidate set is the single home
    // file for this fixed, deterministic dataset
    val cand = BloomIndex.candidateFilesIn(spark, idx, "key", Seq(lit(3007L)))
    assert(cand.size < total && cand.nonEmpty,
      s"disjoint-range layout must let a point probe skip files (${cand.size}/$total)")

    val pruned = Versioned.prunedScan(spark, out,
      Seq(PruneIn("key", Seq(3007L, 42L, 7999L))), Some(idx))
    val naive = src.filter(col("key").isin(3007L, 42L, 7999L))
    assert(pruned.count() == naive.count() &&
      pruned.exceptAll(naive).isEmpty && naive.exceptAll(pruned).isEmpty)
  }

  test("absent key returns no rows; pruned read equals the empty filter") {
    val (out, src) = lake
    val idx = BloomIndex.build(spark, out, Seq("key"), 1000L, 0.0001)
    val pruned = Versioned.prunedScan(spark, out,
      Seq(PruneIn("key", Seq(999999L))), Some(idx))
    assert(pruned.count() == 0)
    assert(src.filter(col("key") === 999999L).count() == 0)
  }

  test("bloom index rides the manifest: refresh tracks commits, lookups time-travel") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomver").toFile
    dir.deleteOnExit()
    val lakeDir = new java.io.File(dir, "lake").getAbsolutePath
    graft.ops.MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)),
        "site", "id", "v"),
      lakeDir, keys = Seq("site"))
    Versioned.init(spark, lakeDir)
    def liveFiles(v: Long = -1L) =
      Versioned.filesAt(spark, lakeDir, v).map(f => s"$lakeDir/$f")
    val built = BloomIndex.buildForFiles(spark, lakeDir, liveFiles(0L),
      Seq("id"), 100L, 0.001)
    // pin as a local relation: a lazy plan over the files could never go stale
    val idx0 = spark.createDataFrame(
      java.util.Arrays.asList(built.collect(): _*), built.schema)

    Versioned.mergeInto(spark, lakeDir,
      df(Seq(("a", 1L, 100.0, false), ("a", 4L, 4.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    // the v0 index does NOT describe v1...
    val e = intercept[IllegalArgumentException] {
      Versioned.prunedScan(spark, lakeDir, Seq(PruneIn("id", Seq(1L))),
        Some(idx0))
    }
    assert(e.getMessage.contains("does not describe"))
    // ...but still serves v0 exactly (point-lookup time travel), even
    // though the directory now also holds v1's files
    val tt = Versioned.prunedScan(spark, lakeDir,
      Seq(PruneIn("id", Seq(1L, 10L))), Some(idx0), 0L)
    assert(tt.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 1.0), (10L, 10.0)))
    // refresh against v1's manifest (touched partition only): the
    // index becomes exact for the latest snapshot
    val idx1 = BloomIndex.refreshForFiles(spark, lakeDir, idx0, Seq("id"),
      100L, 0.001, Seq("site=a"), liveFiles())
    val now = Versioned.prunedScan(spark, lakeDir,
      Seq(PruneIn("id", Seq(1L, 4L, 10L))), Some(idx1))
    assert(now.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 100.0), (4L, 4.0), (10L, 10.0)))
    // untouched-partition entries were kept, touched ones rebuilt
    assert(idx1.filter(col("file").contains("/site=b/")).count() ==
      idx0.filter(col("file").contains("/site=b/")).count())
  }

  test("stale index (vanished or unindexed file) is refused loudly") {
    val (out, _) = lake
    val idx = BloomIndex.build(spark, out, Seq("key"), 1000L, 0.0001)
      .cache()
    idx.count()
    // drop one indexed row -> that file becomes "unindexed" from the
    // guard's perspective (missing from the index, present on disk)
    val someFile = idx.select("file").head.getString(0)
    val partial = idx.filter(col("file") =!= someFile)
    val e = intercept[IllegalArgumentException] {
      Versioned.prunedScan(spark, out, Seq(PruneIn("key", Seq(42L))),
        Some(partial))
    }
    assert(e.getMessage.contains("stale bloom index"))
  }
}
