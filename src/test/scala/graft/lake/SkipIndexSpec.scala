package graft.lake

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SkipIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val lake: (String, org.apache.spark.sql.DataFrame) = {
    val rows = (0 until 4096).map { i => (i.toLong % 64, (i / 64).toLong, i.toLong) }
    val src = rows.toDF("a", "b", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_skipidx").toFile
    dir.deleteOnExit()
    val out = new java.io.File(dir, "z").getAbsolutePath
    Maintenance.compact(src, Maintenance.mortonKey(col("a"), col("b"), 6), 8, out)
    (out, src)
  }

  test("index has one row per (file, column) with true min/max") {
    val (out, _) = lake
    val idx = SkipIndex.build(spark.read.parquet(out), Seq("a", "b"))
    val nFiles = spark.read.parquet(out)
      .select(input_file_name()).distinct().count()
    assert(idx.count() == nFiles * 2)
    // global min/max across index rows must match the data's domain
    val g = idx.groupBy("col").agg(min("lo").as("lo"), max("hi").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(g("a") == (0.0, 63.0) && g("b") == (0.0, 63.0))
    // per-file row counts in the index sum to the table
    assert(idx.filter(col("col") === "a")
      .agg(sum("rows")).collect()(0).getLong(0) == 4096L)
  }

  test("pruned read skips files and still returns exactly the filtered rows") {
    val (out, src) = lake
    val idx = SkipIndex.build(spark.read.parquet(out), Seq("a", "b")).cache()
    val cand = SkipIndex.candidateFiles(idx, "a", 0, 7)
    val total = spark.read.parquet(out).select(input_file_name()).distinct().count()
    assert(cand.nonEmpty && cand.size < total,
      s"z-clustered layout must let a tight range skip files (${cand.size}/$total)")

    val pruned = Versioned.prunedScan(spark, out, Seq(PruneRange("a", 0, 7)), Some(idx))
    val naive = src.filter(col("a").between(0, 7))
    assert(pruned.count() == naive.count() &&
      pruned.exceptAll(naive).isEmpty && naive.exceptAll(pruned).isEmpty)
  }

  test("conjunctive pruning: two z-dims skip at least as much as either alone") {
    val (out, src) = lake
    val idx = SkipIndex.build(spark.read.parquet(out), Seq("a", "b")).cache()
    val pa = SkipIndex.candidateFiles(idx, "a", 0, 15).toSet
    val pb = SkipIndex.candidateFiles(idx, "b", 0, 15).toSet
    val both = SkipIndex.candidateFilesMulti(idx,
      Seq(("a", 0, 15), ("b", 0, 15))).toSet
    assert(both == (pa intersect pb))
    assert(both.size <= math.min(pa.size, pb.size))
    // z-layout: the conjunction genuinely prunes beyond either dim —
    // a quarter-domain box on a 64x64 z-curve over 8 files must not
    // touch them all
    val total = spark.read.parquet(out).select(input_file_name()).distinct().count()
    assert(both.size < total)
    val pruned = Versioned.prunedScan(spark, out,
      Seq(PruneRange("a", 0, 15), PruneRange("b", 0, 15)), Some(idx))
    val naive = src.filter(col("a").between(0, 15) && col("b").between(0, 15))
    assert(pruned.count() == naive.count() &&
      pruned.exceptAll(naive).isEmpty && naive.exceptAll(pruned).isEmpty)
  }

  test("stale index fails loudly after a rewrite; refresh makes it exact again") {
    val dir = java.nio.file.Files.createTempDirectory("graft_skipidx_m").toFile
    dir.deleteOnExit()
    val base = df(Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 10L, 10.0), ("b", 11L, 11.0)), "site", "id", "v")
    val lake = dir.getAbsolutePath
    graft.ops.MergeData.writeMerged(spark, base, lake, keys = Seq("site"))
    Versioned.init(spark, lake)
    // materialize the index as a LOCAL relation: a lazy plan would
    // re-scan the post-merge files and never actually be stale
    val built = SkipIndex.build(Versioned.snapshot(spark, lake), Seq("id"))
    val idx0 = spark.createDataFrame(
      java.util.Arrays.asList(built.collect(): _*), built.schema)

    // COW merge rewrites partition a (update id=1, insert id=4)
    val v1 = Versioned.mergeInto(spark, lake,
      df(Seq(("a", 1L, 100.0, false), ("a", 4L, 4.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))

    // pruning with the stale index must refuse, not silently lose rows
    val e = intercept[IllegalArgumentException] {
      Versioned.prunedScan(spark, lake, Seq(PruneRange("id", 0, 100)), Some(idx0))
    }
    assert(e.getMessage.contains("stale skip index"))

    // refresh rebuilds ONLY partition a's entries; partition b's rows
    // in the index are the original ones (same file, untouched)
    val idx1 = SkipIndex.refreshForFiles(spark, lake, idx0, Seq("id"),
      Seq("site=a"), Versioned.filesAt(spark, lake, v1).map(f => s"$lake/$f"))
    val pruned = Versioned.prunedScan(spark, lake, Seq(PruneRange("id", 0, 5)), Some(idx1))
    val expect = Set((1L, 100.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
    assert(pruned.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet == expect)
    // and the untouched partition's index entries survived verbatim
    val bFiles0 = idx0.filter(col("file").contains("/site=b/"))
      .select("file", "lo", "hi").collect().toSet
    val bFiles1 = idx1.filter(col("file").contains("/site=b/"))
      .select("file", "lo", "hi").collect().toSet
    assert(bFiles0 == bFiles1 && bFiles0.nonEmpty)
  }

  test("refreshForFiles on an UNPARTITIONED versioned lake: the root is the touched dir; skip and bloom pruned reads stay exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_skipidx_u").toFile
    dir.deleteOnExit()
    val lake = dir.getAbsolutePath
    graft.ops.MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)), "site", "id", "v"),
      lake, keys = Nil)
    Versioned.init(spark, lake)
    def live(v: Long) = Versioned.filesAt(spark, lake, v).map(f => s"$lake/$f")
    val built = SkipIndex.build(Versioned.snapshot(spark, lake), Seq("id"))
    val skip0 = spark.createDataFrame(
      java.util.Arrays.asList(built.collect(): _*), built.schema)
    val bloomBuilt = BloomIndex.buildForFiles(spark, lake, live(0L), Seq("id"),
      expectedPerFile = 100L, fpp = 0.01)
    val bloom0 = spark.createDataFrame(
      java.util.Arrays.asList(bloomBuilt.collect(): _*), bloomBuilt.schema)
    val v1 = Versioned.mergeInto(spark, lake,
      df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)),
        "site", "id", "v", "__delete"),
      Nil, Seq("id"))
    // the unpartitioned merge's one touched "partition" is the root: ""
    val skip1 = SkipIndex.refreshForFiles(spark, lake, skip0, Seq("id"),
      Seq(""), live(v1))
    val bloom1 = BloomIndex.refreshForFiles(spark, lake, bloom0, Seq("id"),
      100L, 0.01, Seq(""), live(v1))
    def rows(d: org.apache.spark.sql.DataFrame) = d.select("site", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Versioned.prunedScan(spark, lake, Seq(PruneRange("id", 0, 50)),
        Some(skip1))) ==
      Set(("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))
    assert(rows(Versioned.prunedScan(spark, lake,
        Seq(PruneIn("id", Seq(1L, 2L, 7L))), Some(bloom1))) ==
      Set(("a", 1L, 100.0), ("c", 7L, 7.0)))
  }

  test("disjoint predicate yields an empty frame with the data schema") {
    val (out, _) = lake
    val idx = SkipIndex.build(spark.read.parquet(out), Seq("a"))
    val d = Versioned.prunedScan(spark, out, Seq(PruneRange("a", 1000, 2000)),
      Some(idx))
    assert(d.columns.toSeq.sorted == Seq("a", "b", "payload") && d.count() == 0)
  }

  test("footer build matches the scan build box for box") {
    val (out, _) = lake
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("file", regexp_replace(col("file"), "^file:/+", "/"))
      .orderBy("file", "col").collect().map(_.toSeq)
    val scan = SkipIndex.build(spark.read.parquet(out), Seq("a", "b"))
    val footer = SkipIndex.buildFromFooters(spark, out, Seq("a", "b"))
    // the footer build additionally carries per-file bytes (the scan
    // build cannot know them); the shared box columns must agree
    assert(canon(footer.drop("bytes")) === canon(scan))
    assert(footer.filter(col("bytes") <= 0L).isEmpty,
      "every footer row records the file's positive byte size")
  }

  test("footer-built index prunes and reads exactly like the scan-built one") {
    val (out, src) = lake
    val idx = SkipIndex.buildFromFooters(spark, out, Seq("a", "b"))
    val expected = src.filter(col("a") >= 3 && col("a") <= 9 &&
        col("b") >= 10 && col("b") <= 20)
      .orderBy("payload").collect().map(_.toSeq)
    val got = Versioned.prunedScan(spark, out,
        Seq(PruneRange("a", 3, 9), PruneRange("b", 10, 20)), Some(idx))
      .orderBy("payload").collect().map(_.toSeq)
    assert(got === expected)
    // and it actually skips: the candidate set is a strict subset
    val cand = SkipIndex.candidateFilesMulti(idx, Seq(("a", 3, 9), ("b", 10, 20)))
    val all = spark.read.parquet(out).select(input_file_name())
      .distinct().count()
    assert(cand.size < all, s"${cand.size} of $all files — nothing skipped")
  }

  test("footer build: unusable stats widen to an infinite box, never skip") {
    val (out, _) = lake
    // a string column has binary stats — not numeric — so its box must
    // be infinite and pruning on it keeps every file
    val dir = java.nio.file.Files.createTempDirectory("graft_fidx").toString
    spark.range(100).selectExpr("id", "cast(id as string) AS s")
      .write.mode("overwrite").parquet(dir)
    val idx = SkipIndex.buildFromFooters(spark, dir, Seq("s", "id"))
    val sBoxes = idx.filter(col("col") === "s").collect()
    assert(sBoxes.nonEmpty && sBoxes.forall(r =>
      r.getDouble(2).isNegInfinity && r.getDouble(3).isPosInfinity))
    val cand = SkipIndex.candidateFiles(idx, "s", 5, 6)
    assert(cand.size === sBoxes.length) // nothing skipped on s
  }

  test("one pruned read: no retired pruned-read door, one foreign-ref refusal, no doc comment stacked on another under src/main/scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repo root, not ${sys.props("user.dir")}")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> java.nio.file.Files.readAllLines(p).asScala.toSeq).toSeq
    val retired = ("""\bdef (prunedRead|prunedReadIn|statsPrunedRead|""" +
      """bloomPrunedReadIn|prunedReadMulti\w*|prunedReadInFiles|""" +
      """prunedScanCandidatesLenient)\b""").r
    val doors = for ((p, ls) <- sources; l <- ls
      if retired.findFirstIn(l).nonEmpty) yield s"$p: ${l.trim}"
    assert(doors.isEmpty,
      s"pruned reads go through Versioned.prunedScan/prunedScanCandidates: $doors")
    val refusal = "pruned reads need a single basePath"
    val refusals = sources.map(_._2.count(_.contains(refusal))).sum
    assert(refusals == 1, s"the foreign-ref refusal is written $refusals times")
    val stacked = for ((p, ls) <- sources;
      (a, i) <- ls.zipWithIndex.init
      if a.trim.endsWith("*/") && ls(i + 1).trim.startsWith("/**"))
      yield s"$p:${i + 2}"
    assert(stacked.isEmpty,
      s"a doc comment directly followed by another documents nothing: $stacked")
  }
}
