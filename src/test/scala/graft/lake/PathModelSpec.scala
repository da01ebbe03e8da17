package graft.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** S1-S3 path parsing + F1/F2 pruning (SURVEY.md §2.1, §2.3). */
class PathModelSpec extends SparkSpec {

  private val root = "/lake"
  private def inv(paths: String*) =
    df(paths.map(p => (p, 100L)), "path", "size")

  test("parsePaths extracts site/participant/metric + filename timestamp") {
    val d = PathModel.parsePaths(inv(
      "/lake/top/siteA/p001/heart_rate/20241017_0930.csv.gz",
      "/lake/top/siteB/p002/steps/sub/20240101_1200_3.csv.gz"), root)
      .select("site", "participant_id", "metric", "shard_idx")
      .orderBy("site")
    assert(rowsOf(d) == Seq(
      Seq("siteA", "p001", "heart_rate", null),
      Seq("siteB", "p002", "steps", 3)))
  }

  test("parsePaths drops short paths and unparseable timestamps (reference returns None)") {
    val d = PathModel.parsePaths(inv(
      "/lake/top/siteA/short.csv.gz",                      // <4 parts
      "/lake/top/siteA/p001/hr/nodate.csv.gz",             // no timestamp
      "/lake/top/siteA/p001/hr/20241332_9999.csv.gz",      // invalid date
      "/lake/top/siteA/p001/hr/20241017_0930.csv.gz"), root)
    assert(d.count() == 1)
  }

  test("includeExclude: exclude wins over include; include needs >=1 match") {
    val parsed = PathModel.parsePaths(inv(
      "/lake/top/siteA/p001/hr/20240101_0000.csv.gz",
      "/lake/top/siteB/p002/hr/20240101_0000.csv.gz",
      "/lake/top/siteC/p003/hr/20240101_0000.csv.gz"), root)
    val both = PathModel.includeExclude(parsed, Seq("siteA", "siteB"), Seq("siteB"))
    assert(rowsOf(both.select("site")) == Seq(Seq("siteA")))
    val exclOnly = PathModel.includeExclude(parsed, Nil, Seq("p003"))
    assert(exclOnly.count() == 2)
    val all = PathModel.includeExclude(parsed, Nil, Nil)
    assert(all.count() == 3)
  }

  test("includeBySubstring matches any path component substring") {
    val parsed = PathModel.parsePaths(inv(
      "/lake/top/siteA/p001/heart_rate/20240101_0000.csv.gz",
      "/lake/top/siteB/p002/steps/20240101_0000.csv.gz"), root)
    val d = PathModel.includeBySubstring(parsed, Seq("eart"))
    assert(rowsOf(d.select("metric")) == Seq(Seq("heart_rate")))
    assert(PathModel.includeBySubstring(parsed, Nil).count() == 2)
  }

  test("walk yields exactly fs.listFiles's files in its order (nested/empty dirs, _ and . entries, .crc sidecars, a file root)") {
    // the local FS is a ChecksumFileSystem: every create writes a .crc
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val root = new Path(Files.createTempDirectory("graft-walk").toUri)
    Seq("a.csv.gz", "s1/p1/hr/20240101_0000.csv.gz", "s1/p1/hr/deep/x.parquet",
        "_SUCCESS", "_tmp/y.parquet", ".hidden/z", "s2/.dot", "s2/_under")
      .foreach { rel =>
        val o = fs.create(new Path(root, rel)); o.write(Array[Byte](1, 2, 3)); o.close()
      }
    fs.mkdirs(new Path(root, "empty/nested/also_empty"))
    assert(Files.exists(Paths.get(new Path(root, "s1/p1/hr/.20240101_0000.csv.gz.crc").toUri)))
    def listed(p: Path, recursive: Boolean): Seq[(String, Long)] = {
      val it = fs.listFiles(p, recursive)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) { val f = it.next(); b += ((f.getPath.toString, f.getLen)) }
      b.result()
    }
    for (p <- Seq(root, new Path(root, "s1"), new Path(root, "empty"),
        new Path(root, "a.csv.gz")); recursive <- Seq(true, false)) {
      val walked = PathModel.walk(fs, p, recursive).map(f => (f.getPath.toString, f.getLen))
      assert(walked == listed(p, recursive), s"$p recursive=$recursive")
    }
    val all = PathModel.walk(fs, root).map(_.getPath.getName)
    assert(all.size == 8 && !all.exists(_.endsWith(".crc")), all)
  }

  test("no file under src/main/scala lists through fs.listFiles( or listLocatedStatus") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not ${sys.props("user.dir")}")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter { p =>
        val src = Files.readString(p)
        src.contains("fs.listFiles(") || src.contains("listLocatedStatus")
      }.toSeq
    assert(offenders.isEmpty, s"list through PathModel.walk: $offenders")
  }
}
