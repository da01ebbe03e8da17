package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.MergeData

/** Every file a commit adds goes through `Versioned.stage`, which alone
  * decides what an empty staged write means: row-level paths read their
  * emptiness / no-match answer off the STAGED data, tombstone or DV
  * write (a footer row count) instead of a separate Spark probe job,
  * and a zero-row data file is never committed beside real ones. These
  * tests pin the refusal/no-op contracts, that the staging discipline
  * leaves nothing behind, that no commit kind on an UNPARTITIONED lake
  * publishes a zero-row live file, and (a source guard) that the
  * staging, emptiness and size plumbing stays in that one place. */
class StagedEmptinessSpec extends SparkSpec {

  private def state(d: DataFrame): Set[(String, Long, Double)] =
    d.select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def freshLake(keys: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ses").toFile
    dir.deleteOnExit()
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)),
        "site", "id", "v"),
      dir.getAbsolutePath, keys = keys)
    Versioned.init(spark, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  /** Relative paths of every file physically present under `sub`. */
  private def filesUnder(dir: String, sub: String): Set[String] = {
    val root = new java.io.File(dir, sub)
    if (!root.exists()) return Set.empty
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).map(_.getName).toSet
  }

  private def footerRows(path: String): Long = {
    val f = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        spark.sparkContext.hadoopConfiguration))
    try f.getRecordCount finally f.close()
  }

  private def noStagingLeft(dir: String): Unit =
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_staging_")),
      "a staged write directory survived")

  test("mergeIntoMor: empty batch refused off the staged tombstone's footer — no commit, no staged leftovers") {
    val dir = freshLake(Seq("site"))
    val v0 = Versioned.currentVersion(spark, dir)
    val empty = df(Seq(("a", 1L, 1.0)), "site", "id", "v").limit(0)
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeIntoMor(spark, dir, empty, Seq("site"), Seq("id"))
    }
    assert(e.getMessage.contains("empty batch"))
    assert(Versioned.currentVersion(spark, dir) == v0, "no version minted")
    assert(filesUnder(dir, "_deletes").isEmpty,
      "the refused batch's staged tombstone must be deleted")
    noStagingLeft(dir)
  }

  test("mergeIntoMor: all-deletes batch — tombstone-only commit, zero insert files, no schema-only stray (partitioned and unpartitioned)") {
    for (keys <- Seq(Seq("site"), Seq.empty[String])) {
      val dir = freshLake(keys)
      val v0 = Versioned.currentVersion(spark, dir)
      val live0 = Versioned.filesAt(spark, dir, v0).toSet
      val b = df(Seq(("a", 1L, 1.0)), "site", "id", "v")
        .withColumn("__delete", lit(true))
      val v1 = Versioned.mergeIntoMor(spark, dir, b, keys, Seq("id"))
      assert(v1 == v0 + 1)
      // MOR delete: live DATA files unchanged, row hidden by the key
      assert(Versioned.filesAt(spark, dir, v1).toSet == live0,
        "an all-deletes MOR merge must add no data files")
      assert(state(Versioned.snapshot(spark, dir)) ==
        Set(("a", 2L, 2.0), ("b", 10L, 10.0)))
      noStagingLeft(dir)
    }
  }

  test("deleteWhere: no-match predicate — no commit, staged tombstone reclaimed") {
    val dir = freshLake(Seq("site"))
    val v0 = Versioned.currentVersion(spark, dir)
    val before = filesUnder(dir, "_deletes")
    val v = Versioned.deleteWhere(spark, dir, col("id") === 999L, Seq("id"))
    assert(v == v0, "no-match deleteWhere must not commit")
    assert(filesUnder(dir, "_deletes") == before,
      "no-match deleteWhere must reclaim its staged tombstone")
    // and a MATCH still commits exactly one tombstone
    val v1 = Versioned.deleteWhere(spark, dir, col("id") === 1L, Seq("id"))
    assert(v1 == v0 + 1)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 2L, 2.0), ("b", 10L, 10.0)))
  }

  test("updateWhereVectors / deleteWhereVectors: no-match — no commit, staged DV reclaimed; match still lands") {
    val dir = freshLake(Seq("site"))
    val v0 = Versioned.currentVersion(spark, dir)
    assert(Versioned.updateWhereVectors(spark, dir, col("id") === 999L,
      Map("v" -> lit(5.0)), Seq("site")) == v0)
    assert(Versioned.deleteWhereVectors(spark, dir,
      col("id") === 999L) == v0)
    assert(filesUnder(dir, "_deletes").isEmpty,
      "no-match vector ops must reclaim their staged DV files")
    noStagingLeft(dir)
    val v1 = Versioned.deleteWhereVectors(spark, dir, col("id") === 10L)
    assert(v1 == v0 + 1)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0)))
    // a match in ONE partition of the multi-partition scan: the vector
    // keeps one file per scan partition, and the empty partitions'
    // schema-only files must not be committed as #del entries
    val ops: Seq[(String, (String, Long) => Long)] = Seq(
      "deleteWhereVectors" -> ((d, id) =>
        Versioned.deleteWhereVectors(spark, d, col("id") === id)),
      "updateWhereVectors" -> ((d, id) =>
        Versioned.updateWhereVectors(spark, d, col("id") === id,
          Map("v" -> lit(5.0)), Seq("site"))))
    for ((name, op) <- ops; id <- Seq(1L, 10L)) {
      val d = freshLake(Seq("site"))
      assert(op(d, id) == 1L, s"$name on id $id must commit v1")
      val dvs = Versioned.deleteFilesAt(spark, d)
      assert(dvs.nonEmpty)
      val empties = dvs.map(e => e -> footerRows(s"$d/$e")).filter(_._2 == 0L)
      assert(empties.isEmpty,
        s"$name on id $id committed zero-row DV files: $empties")
    }
  }

  test("overwrite: empty batch refused off the staged write — no commit, no staged file left under the table dir (partitioned and unpartitioned)") {
    for (keys <- Seq(Seq("site"), Seq.empty[String])) {
      val dir = freshLake(keys)
      val v0 = Versioned.currentVersion(spark, dir)
      val before = filesUnder(dir, "")
      val e = intercept[IllegalArgumentException] {
        Versioned.overwrite(spark, dir,
          df(Seq(("a", 1L, 1.0)), "site", "id", "v").limit(0), keys)
      }
      assert(e.getMessage.contains("overwrite got an empty batch"))
      assert(Versioned.currentVersion(spark, dir) == v0, "no version minted")
      assert(filesUnder(dir, "") == before,
        "the refused overwrite's staged files must be deleted")
      noStagingLeft(dir)
    }
  }

  /** Footer row count of every file live at the current version. */
  private def liveFileRows(dir: String): Seq[(String, Long)] =
    Versioned.filesAt(spark, dir).map(r =>
      r -> footerRows(Versioned.refPath(dir, r)))

  test("UNPARTITIONED lake: no commit kind leaves a zero-row live file beside real ones; a delete-everything COW still snapshots with its schema") {
    // one row per partition, and the FIRST partition's row filtered
    // away — the shape in which an unpartitioned Spark write's first
    // task still creates a schema-only part file
    def batch(rows: Seq[(String, Long, Double, Boolean)]) = {
      import spark.implicits._
      val all = ("z", -1L, 0.0, false) +: rows
      spark.sparkContext.parallelize(all, all.size)
        .toDF("site", "id", "v", "__delete").filter(col("id") =!= -1L)
    }
    val cases: Seq[(String, String => Long)] = Seq(
      "append" -> (d => Versioned.append(spark, d,
        batch(Seq(("c", 20L, 2.0, false), ("c", 21L, 3.0, false)))
          .drop("__delete"), Nil)),
      "mergeInto" -> (d => Versioned.mergeInto(spark, d,
        batch(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true),
          ("c", 7L, 7.0, false))), Nil, Seq("id"))),
      "updateWhere" -> (d => Versioned.updateWhere(spark, d,
        col("id") === 1L, Map("v" -> lit(5.0)), Nil)),
      "mergeIntoMor insert leg" -> (d => Versioned.mergeIntoMor(spark, d,
        batch(Seq(("a", 2L, 0.0, true), ("c", 7L, 7.0, false))),
        Nil, Seq("id"))),
      "overwrite" -> (d => Versioned.overwrite(spark, d,
        batch(Seq(("c", 20L, 2.0, false), ("c", 21L, 3.0, false)))
          .drop("__delete"), Nil)))
    for ((name, commit) <- cases) {
      val dir = freshLake(Nil)
      val v = commit(dir)
      assert(v == 1L, s"$name must commit v1")
      val empties = liveFileRows(dir).filter(_._2 == 0L)
      assert(empties.isEmpty, s"$name committed zero-row live files: $empties")
      noStagingLeft(dir)
    }
    val dir = freshLake(Nil)
    assert(Versioned.deleteWhereCow(spark, dir, lit(true), Nil) == 1L)
    val snap = Versioned.snapshot(spark, dir)
    assert(snap.columns.toSet == Set("site", "id", "v") && snap.isEmpty,
      "a delete-everything commit must still serve the table's schema")
  }

  test("one staging step: no ThreadLocal or retired staging helper in lake/; errorifexists and countFooterRows only where the staging rule allows") {
    import scala.jdk.CollectionConverters._
    val lake = java.nio.file.Paths.get("src/main/scala/graft/lake")
    assert(java.nio.file.Files.isDirectory(lake),
      s"run from the repo root, not ${sys.props("user.dir")}")
    val retired = Seq("ThreadLocal", "stagedParts", "noteStagedSizes",
      "writeStagedFiles")
    val offenders = java.nio.file.Files.walk(lake).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        retired.filter(src.contains).map(n => s"$p: $n")
      }.toSeq
    assert(offenders.isEmpty, s"commit state travels in Staged values: $offenders")
    val lines = java.nio.file.Files.readAllLines(
      lake.resolve("Versioned.scala")).asScala.toSeq
    // the enclosing top-level member of each line (two-space indent)
    val defRe =
      """  (?:private(?:\[\w+\])? )?(?:final )?(?:case )?(?:def|val|var|class|object|trait) (\w+).*""".r
    val owners = lines.scanLeft("") {
      case (_, defRe(n)) => n
      case (cur, _) => cur
    }.tail
    def callers(needle: String): Set[String] =
      lines.zip(owners).collect {
        case (l, o) if l.contains(needle) && !l.trim.startsWith("*") &&
          !l.trim.startsWith("//") => o
      }.toSet
    val errIfExists = callers("errorifexists")
    assert(errIfExists.nonEmpty &&
      errIfExists.subsetOf(Set("stage", "writeSchemaAnchorRaw", "writeChangeInc")),
      s"errorifexists written outside the staging step: $errIfExists")
    val footer = callers("countFooterRows(") - "countFooterRows"
    assert(footer == Set("stage", "fastRowCount", "optimize"),
      s"countFooterRows called outside stage/fastRowCount/optimize: $footer")
  }

  test("uniform footer schema serves the un-evolved read; an evolved lake still merges (null-fills the late column)") {
    val dir = freshLake(Seq("site"))
    // un-evolved: snapshot schema comes off the uniform footers
    assert(Versioned.snapshot(spark, dir).columns.toSeq ==
      Seq("id", "v", "site"))
    // evolve: append a batch carrying a NEW column — footers now
    // genuinely disagree, so the read must fall back to the
    // distributed merge and null-fill the old files
    Versioned.append(spark, dir,
      df(Seq(("c", 30L, 30.0, "x")), "site", "id", "v", "tag"),
      Seq("site"))
    val snap = Versioned.snapshot(spark, dir)
    assert(snap.columns.contains("tag"))
    val tags = snap.select("id", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tags(30L).contains("x") && tags(1L).isEmpty,
      "evolved read must null-fill pre-evolution files")
  }
}
