package graft.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** U1-U2 + P1 (merge-data.py semantics, SURVEY.md §2.4). */
class MergeDataSpec extends SparkSpec {

  test("unionDrift aligns columns by name and null-fills like pd.concat") {
    val a = df(Seq((1L, 10.0)), "k", "x")
    val b = df(Seq((2L, 20.0)), "k", "y")
    val u = MergeData.unionDrift(Seq(a, b)).orderBy("k")
    assert(u.columns.toSeq == Seq("k", "x", "y"))
    assert(rowsOf(u) == Seq(Seq(1L, 10.0, null), Seq(2L, null, 20.0)))
  }

  test("unionDrift preserves the row multiset (concat ignore_index)") {
    val a = df(Seq((1L, 1.0), (1L, 1.0)), "k", "x") // duplicates survive
    val u = MergeData.unionDrift(Seq(a, a))
    assert(u.count() == 4)
  }

  test("withLineage formats file_timestamp as ISO string (merge-data.py:81)") {
    val d = df(Seq(Tuple1("2024-10-17 09:30:00")), "raw")
      .withColumn("file_timestamp", to_timestamp(col("raw")))
    assert(rowsOf(MergeData.withLineage(d).select("file_timestamp")) ==
      Seq(Seq("2024-10-17T09:30:00")))
  }

  test("writeMerged: dynamic partition overwrite rewrites only touched groups (U2)") {
    val out = Files.createTempDirectory("graft-merge").toString
    val full = df(Seq(
      ("s1", "p1", "hr", 1.0), ("s2", "p2", "hr", 2.0)),
      "site", "participant_id", "metric", "v")
    MergeData.writeMerged(spark, full, out)
    // rewrite only s1's group with a new value; s2 must survive untouched
    val patch = df(Seq(("s1", "p1", "hr", 9.0)), "site", "participant_id", "metric", "v")
    MergeData.writeMerged(spark, patch, out)
    val back = spark.read.parquet(out).orderBy("site")
    assert(rowsOf(back.select("site", "v")) == Seq(Seq("s1", 9.0), Seq("s2", 2.0)))
  }

  test("writeMerged csv.gz: reference output format round-trips, gzipped") {
    val out = Files.createTempDirectory("graft-merge-csv").toString
    val full = df(Seq(
      ("s1", "p1", "hr", 1.5), ("s2", "p2", "steps", 2.5)),
      "site", "participant_id", "metric", "v")
    MergeData.writeMerged(spark, full, out, format = "csv.gz")
    // files are genuinely gzip-compressed csv
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .toArray.map(_.toString).filter(_.endsWith(".csv.gz"))
    assert(files.nonEmpty, "expected .csv.gz part files")
    val back = spark.read.option("header", "true").csv(out)
      .select("site", "participant_id", "metric", "v").orderBy("site")
    assert(rowsOf(back) == Seq(
      Seq("s1", "p1", "hr", "1.5"), Seq("s2", "p2", "steps", "2.5")))
    // reference parity: the group columns live INSIDE the file contents
    // (merge-data.py:81-83), not only in the directory names — read ONE
    // part file directly, bypassing partition-column recovery
    val one = spark.read.option("header", "true").csv(files.head)
    assert(Seq("site", "participant_id", "metric", "v")
      .forall(one.columns.contains),
      s"file contents missing group columns: ${one.columns.mkString(",")}")
    intercept[IllegalArgumentException] {
      MergeData.writeMerged(spark, full, out, format = "tsv")
    }
  }

  test("writeMerged: more groups than shuffle partitions -> one file per group, one write task per partition") {
    val out = Files.createTempDirectory("graft-merge-wide").toString
    val parts = spark.sessionState.conf.numShufflePartitions
    val groups = 3 * parts
    val rows = for (g <- 0 until groups; i <- 0 until 5)
      yield (s"s${g % 3}", s"p$g", "hr", i.toDouble)
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.stageId, e.stageInfo.numTasks))
    }
    org.apache.spark.sql.GraftColumnBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      MergeData.writeMerged(spark,
        df(rows, "site", "participant_id", "metric", "v"), out)
      org.apache.spark.sql.GraftColumnBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    // the last stage is the write itself, downstream of the shuffle
    assert(stages.asScala.maxBy(_._1)._2 == parts)
    val groupDirs = Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("metric=")).toSeq
    assert(groupDirs.size == groups)
    groupDirs.foreach { d =>
      val data = Files.list(d).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
      assert(data.size == 1, s"$d: $data")
    }
  }
}
