package graft.lake

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.MergeData

/** Manifest-committed (snapshot-isolated) lake: atomic commit via
  * manifest rename, reader isolation across a concurrent merge, time
  * travel, and vacuum retention. */
class VersionedSpec extends SparkSpec {

  private def state(d: org.apache.spark.sql.DataFrame): Set[(String, Long, Double)] =
    d.select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def freshLake(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned").toFile
    dir.deleteOnExit()
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)),
        "site", "id", "v"),
      dir.getAbsolutePath, keys = Seq("site"))
    dir.getAbsolutePath
  }

  /** Rewrite every manifest of `dir` WITHOUT its `#bytes` lines — the
    * pre-rail legacy shape the lazy size fallback must still serve. */
  private def stripManifestSizes(dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = new org.apache.hadoop.fs.Path(dir, "_manifest")
    fs.listStatus(md).map(_.getPath)
      .filter(_.getName.matches("v\\d+(\\.delta)?\\.txt")).foreach { p =>
        val in = fs.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toVector finally in.close()
        val out = fs.create(p, true)
        try out.write((lines.filterNot(l =>
            l.startsWith("#bytes ") || l == "#bytesall")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
  }

  /** How far the diagnostic counter `c` moved while `body` ran. */
  private def probed[T](c: java.util.concurrent.atomic.LongAdder)(body: => T)
      : (T, Long) = {
    val c0 = c.sum()
    val r = body
    (r, c.sum() - c0)
  }

  test("versioned merge applies update/delete/insert and commits a new version") {
    val dir = freshLake()
    assert(Versioned.init(spark, dir) == 0L)
    val v1 = Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true),
        ("c", 7L, 7.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(v1 == 1L && Versioned.currentVersion(spark, dir) == 1L)
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))
  }

  test("a reader holding version N is isolated from a concurrent commit") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // reader resolves v0 — captures its file list, as any reader does
    val v0Files = Versioned.filesAt(spark, dir, 0L)
    val preMerge = state(Versioned.snapshot(spark, dir, 0L))
    // a merge commits v1 while the reader is "in flight"
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 999.0, false), ("b", 10L, 0.0, true)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    // the reader's resolved files are untouched: re-reading them yields
    // exactly the pre-merge state (commits never mutate or delete files)
    assert(Versioned.filesAt(spark, dir, 0L) == v0Files)
    assert(state(Versioned.snapshot(spark, dir, 0L)) == preMerge)
    assert(preMerge == Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    // while the latest snapshot sees the merge
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 999.0), ("a", 2L, 2.0)))
  }

  test("time travel across multiple versions; vacuum bounds history") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 2.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 3.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    def vAt(ver: Long) = Versioned.snapshot(spark, dir, ver)
      .filter(col("id") === 1L).select("v").collect()(0).getDouble(0)
    assert(vAt(0L) == 1.0 && vAt(1L) == 2.0 && vAt(2L) == 3.0)

    Versioned.vacuum(spark, dir, keepVersions = 2)
    // v1 and v2 survive, v0 is gone (manifest and unreferenced files)
    assert(vAt(1L) == 2.0 && vAt(2L) == 3.0)
    intercept[IllegalArgumentException] { Versioned.filesAt(spark, dir, 0L) }
    // and the surviving versions' files all still exist on disk
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1L to 2L).foreach { v =>
      Versioned.filesAt(spark, dir, v).foreach { rel =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(dir, rel)), s"v$v lost $rel")
      }
    }
  }

  test("optimize compacts small files under the manifest; rows and history intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned_opt").toFile
    dir.deleteOnExit()
    // a deliberately fragmented base: 4 files per partition
    df((1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i, i.toDouble)),
      "site", "id", "v")
      .repartition(4)
      .write.mode("overwrite").partitionBy("site").parquet(dir.getAbsolutePath)
    Versioned.init(spark, dir.getAbsolutePath)
    val rowsBefore = Versioned.snapshot(spark, dir.getAbsolutePath)
      .select("site", "id", "v").collect().map(_.toSeq).toSet
    def filesPerDir(v: Long): Map[String, Int] =
      Versioned.filesAt(spark, dir.getAbsolutePath, v)
        .groupBy(f => f.take(f.lastIndexOf('/'))).map { case (d, fs) => d -> fs.size }
    assert(filesPerDir(0L).values.forall(_ > 1), "fixture must be fragmented")

    val v1 = Versioned.optimize(spark, dir.getAbsolutePath, Seq("site"))
    assert(v1 == 1L)
    assert(filesPerDir(1L).values.forall(_ == 1), "one file per partition after optimize")
    assert(Versioned.snapshot(spark, dir.getAbsolutePath)
      .select("site", "id", "v").collect().map(_.toSeq).toSet == rowsBefore,
      "optimize is a pure layout change")
    // time travel still sees the fragmented layout
    assert(Versioned.snapshot(spark, dir.getAbsolutePath, 0L)
      .select("site", "id", "v").collect().map(_.toSeq).toSet == rowsBefore)
    // already-compacted lake: no-op, no new version
    assert(Versioned.optimize(spark, dir.getAbsolutePath, Seq("site")) == 1L)
  }

  test("a concurrent commit to the same version is detected, not clobbered") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val batch = df(Seq(("a", 1L, 5.0, false)), "site", "id", "v", "__delete")
    Versioned.mergeInto(spark, dir, batch, Seq("site"), Seq("site", "id"))
    // two writers race to commit version 2: the winner lands first,
    // the loser's commit must abort and leave the winner's manifest
    val winner = Versioned.filesAt(spark, dir, 1L) // any valid file list
    Versioned.commitManifest(spark, dir, 2L, winner)
    val e = intercept[IllegalArgumentException] {
      Versioned.commitManifest(spark, dir, 2L, winner.take(1))
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(Versioned.filesAt(spark, dir, 2L) == winner,
      "the winner's manifest survives the losing commit attempt")
  }

  test("skip index rides the manifest: refresh tracks commits, pruned reads time-travel") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val built = SkipIndex.build(Versioned.snapshot(spark, dir, 0L), Seq("id"))
    val idx0 = spark.createDataFrame(
      java.util.Arrays.asList(built.collect(): _*), built.schema)
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, false), ("a", 4L, 4.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    // the v0 index does NOT describe v1...
    val e = intercept[IllegalArgumentException] {
      Versioned.prunedScan(spark, dir, Seq(PruneRange("id", 0, 100)), Some(idx0))
    }
    assert(e.getMessage.contains("does not describe"))
    // ...but still serves v0 exactly (pruned time travel) — even though
    // the directory now also holds v1's files
    val tt = Versioned.prunedScan(spark, dir, Seq(PruneRange("id", 0, 100)),
      Some(idx0), 0L)
    assert(tt.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 1.0), (2L, 2.0), (10L, 10.0)))
    // refresh against v1's manifest files (touched partition only):
    // index becomes exact for the latest snapshot
    val idx1 = SkipIndex.refreshForFiles(spark, dir, idx0, Seq("id"),
      Seq("site=a"), Versioned.filesAt(spark, dir).map(f => s"$dir/$f"))
    val now = Versioned.prunedScan(spark, dir, Seq(PruneRange("id", 0, 100)), Some(idx1))
    assert(now.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 100.0), (2L, 2.0), (4L, 4.0), (10L, 10.0)))
  }

  test("txn marker makes a replayed batch a version-level no-op") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val batch = df(Seq(("a", 1L, 5.0, false)), "site", "id", "v", "__delete")
    val v1 = Versioned.mergeInto(spark, dir, batch, Seq("site"),
      Seq("site", "id"), txn = Some(("stream-x", 0L)))
    assert(v1 == 1L && Versioned.lastTxn(spark, dir, "stream-x") == 0L)
    // replay of batch 0: skipped entirely, version unchanged
    assert(Versioned.mergeInto(spark, dir, batch, Seq("site"),
      Seq("site", "id"), txn = Some(("stream-x", 0L))) == 1L)
    assert(Versioned.currentVersion(spark, dir) == 1L)
    // the next batch commits; an unrelated txn id sees no high-water mark
    assert(Versioned.lastTxn(spark, dir, "stream-y") == -1L)
    val v2 = Versioned.mergeInto(spark, dir,
      df(Seq(("a", 2L, 20.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"), txn = Some(("stream-x", 1L)))
    assert(v2 == 2L && Versioned.lastTxn(spark, dir, "stream-x") == 1L)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 5.0), ("a", 2L, 20.0), ("b", 10L, 10.0)))
  }

  test("OPTIMIZE ZORDER BY: re-clustered snapshot identical, files z-split, history intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned_z").toFile
    dir.deleteOnExit()
    // shuffled 2-D data in 4 unclustered files per partition
    val rows = (0L until 400L).map { i =>
      (if (i % 2 == 0) "a" else "b", i, (i * 7919) % 1000, ((i * 104729) % 1000).toDouble)
    }
    df(rows, "site", "id", "x", "y")
      .repartition(4)
      .write.mode("overwrite").partitionBy("site").parquet(dir.getAbsolutePath)
    Versioned.init(spark, dir.getAbsolutePath)
    val before = Versioned.snapshot(spark, dir.getAbsolutePath)
      .select("site", "id", "x", "y").collect().map(_.toSeq).toSet
    val v1 = Versioned.optimize(spark, dir.getAbsolutePath, Seq("site"),
      targetFilesPerPartition = 4,
      zorder = Some(Maintenance.mortonKey(
        col("x"), col("y").cast("long"), bits = 10)))
    assert(v1 == 1L)
    assert(Versioned.snapshot(spark, dir.getAbsolutePath)
      .select("site", "id", "x", "y").collect().map(_.toSeq).toSet == before,
      "zorder optimize is a pure layout change")
    assert(Versioned.snapshot(spark, dir.getAbsolutePath, 0L)
      .select("site", "id", "x", "y").collect().map(_.toSeq).toSet == before,
      "pre-optimize version still reads identically")
    // the z-layout pays: a footer-built index over the new snapshot
    // prunes a 2-predicate read below the full file count, exactly
    val live = Versioned.filesAt(spark, dir.getAbsolutePath, v1)
      .map(f => s"${dir.getAbsolutePath}/$f")
    assert(live.size > 2, "zorder rewrite must split partitions into slices")
    val idx = SkipIndex.buildFromFooterFiles(spark, live, Seq("x", "y"))
    val preds = Seq(("x", 0.0, 240.0), ("y", 0.0, 240.0))
    val cand = SkipIndex.candidateFilesMulti(idx, preds)
    assert(cand.size < live.size,
      s"tight 2-D boxes must prune some files (${cand.size}/${live.size})")
    val pruned = Versioned.prunedScan(spark, dir.getAbsolutePath,
        preds.map { case (c, lo, hi) => PruneRange(c, lo, hi) }, Some(idx))
      .select("site", "id", "x", "y").collect().map(_.toSeq).toSet
    val naive = before.filter(r =>
      r(2).asInstanceOf[Long] <= 240 && r(3).asInstanceOf[Double] <= 240.0)
    assert(pruned == naive)
  }

  test("merge-on-read equality deletes: tombstoned reads, time travel, guards, materialize") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val v0Files = Versioned.filesAt(spark, dir, 0L)

    // O(keys) delete: no data file touched, one tombstone committed
    val v1 = Versioned.deleteWhere(spark, dir, col("id") === 1L, Seq("id"))
    assert(v1 == 1L)
    assert(Versioned.filesAt(spark, dir, 1L) == v0Files,
      "equality delete must not rewrite data files")
    assert(Versioned.deleteFilesAt(spark, dir, 1L).nonEmpty)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 2L, 2.0), ("b", 10L, 10.0)))
    // time travel still reads the pre-delete state
    assert(state(Versioned.snapshot(spark, dir, 0L)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))

    // matching nothing is a no-op; mismatched key columns are refused
    assert(Versioned.deleteWhere(spark, dir, col("id") === 999L, Seq("id")) == 1L)
    val km = intercept[IllegalArgumentException] {
      Versioned.deleteWhere(spark, dir, col("id") === 2L, Seq("site", "id"))
    }
    assert(km.getMessage.contains("tombstone key mismatch"))

    // a tombstone whose keys are NOT a rowKey subset refuses a merge
    val batch = df(Seq(("a", 7L, 7.0, false)), "site", "id", "v", "__delete")
    assert(intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, dir, batch, Seq("site"), Seq("site"))
    }.getMessage.contains("subset"))
    // pruned reads apply pending tombstones on top of the pruned scan
    val idx = SkipIndex.build(
      spark.read.option("basePath", dir)
        .parquet(v0Files.map(f => s"$dir/$f"): _*), Seq("id"))
    assert(Versioned.prunedScan(spark, dir, Seq(PruneRange("id", 0, 100)), Some(idx))
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L, 10L),
      "pruned read must hide tombstoned rows")

    // materialize rewrites ONLY the affected partition (site=a holds
    // id 1; site=b's file must survive byte-identical)
    val bFilesBefore = Versioned.filesAt(spark, dir).filter(_.contains("site=b/"))
    val v2 = Versioned.materializeDeletes(spark, dir, Seq("site"))
    assert(v2 == 2L)
    assert(Versioned.deleteFilesAt(spark, dir).isEmpty)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 2L, 2.0), ("b", 10L, 10.0)))
    assert(Versioned.filesAt(spark, dir).filter(_.contains("site=b/")) == bFilesBefore,
      "unaffected partitions keep their files")
    // tombstoned version still time-travels AFTER compaction
    assert(state(Versioned.snapshot(spark, dir, 1L)) ==
      Set(("a", 2L, 2.0), ("b", 10L, 10.0)))

    // and the lake is mergeable again: re-inserting the deleted key sticks
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 11.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 11.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))

    // vacuum past the tombstoned version also reaps its tombstone files
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_deletes")))
    def tombCount(): Int = {
      val delIt = fs.listFiles(new org.apache.hadoop.fs.Path(dir, "_deletes"), true)
      var n = 0
      while (delIt.hasNext) { if (delIt.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    Versioned.vacuum(spark, dir, keepVersions = 2) // keeps v2, v3 only
    assert(tombCount() == 1,
      "a YOUNG unreferenced tombstone may be an in-flight writer's " +
        "(written before its CAS) — age-gated, not reaped yet")
    Versioned.vacuum(spark, dir, 2,
      System.currentTimeMillis() + Versioned.ChangeIncRetainMillis + 60000L)
    assert(tombCount() == 0,
      "aged-out tombstones only dead manifests referenced are reaped")
    assert(state(Versioned.snapshot(spark, dir, 2L)) ==
      Set(("a", 2L, 2.0), ("b", 10L, 10.0)))
  }

  test("MOR delete publishes a CDF increment; replicas converge across tombstone deletes") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))      // v1
    Versioned.mergeInto(spark, dir,
      df(Seq(("c", 7L, 7.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))                             // v2
    val vDel = Versioned.deleteWhere(spark, dir, col("v") < 5.0,
      Seq("site", "id"))                                          // v3
    assert(Versioned.deleteFilesAt(spark, dir).nonEmpty, "the delete stays MOR")
    // the increment carries the FULL deleted rows as delete actions
    def inc() = Versioned.changesBetween(spark, dir, vDel - 1, vDel)
      .select("_action", "site", "id", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(inc() == Set(("delete", "a", 1L, 1.0), ("delete", "a", 2L, 2.0)))
    // replay matches nothing: no commit, the increment stays the original
    assert(Versioned.deleteWhere(spark, dir, col("v") < 5.0,
      Seq("site", "id")) == vDel)
    assert(inc() == Set(("delete", "a", 1L, 1.0), ("delete", "a", 2L, 2.0)))
    // a replica replays merge + delete increments and converges
    val replica = dir + "_replica2"
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)),
        "site", "id", "v"), replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    Versioned.applyTableChanges(spark, dir, replica, Seq("site"), sinceV = 1L)
    assert(state(Versioned.snapshot(spark, replica)) ==
      state(Versioned.snapshot(spark, dir)))
    assert(state(Versioned.snapshot(spark, replica)) ==
      Set(("b", 10L, 10.0), ("c", 7L, 7.0)))
  }

  test("fastRowCount: footer-summed count == snapshot count at every version; refuses tombstones") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true), ("c", 7L, 7.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    (0L to 1L).foreach { v =>
      assert(Versioned.fastRowCount(spark, dir, v) ==
        Versioned.snapshot(spark, dir, v).count())
    }
    assert(Versioned.fastRowCount(spark, dir) == 3L) // a1, b10, c7
    Versioned.deleteWhere(spark, dir, col("id") === 7L, Seq("id"))
    val e = intercept[IllegalArgumentException] {
      Versioned.fastRowCount(spark, dir)
    }
    assert(e.getMessage.contains("overcount"))
    // older, tombstone-free versions still fast-count
    assert(Versioned.fastRowCount(spark, dir, 1L) == 3L)
  }

  test("delta manifests: commit bytes bounded by the batch; checkpoint every Nth; tail resolution exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned_delta").toFile
    dir.deleteOnExit()
    // a WIDE base: many files in partitions the merges never touch —
    // if commits listed the whole lake, every manifest would scale
    // with this, not with the one-partition batches below
    df((1L to 200L).map(i => (s"wide_${i % 20}", i, i.toDouble)), "site", "id", "v")
      .repartition(10)
      .write.mode("overwrite").partitionBy("site").parquet(dir.getAbsolutePath)
    MergeData.writeMerged(spark, df(Seq(("hot", 0L, 0.0)), "site", "id", "v"),
      dir.getAbsolutePath, keys = Seq("site"))
    Versioned.init(spark, dir.getAbsolutePath)
    val totalFiles = Versioned.filesAt(spark, dir.getAbsolutePath, 0L).size
    assert(totalFiles > 50, s"fixture must be wide, got $totalFiles files")

    val expected = scala.collection.mutable.ArrayBuffer(
      Versioned.snapshot(spark, dir.getAbsolutePath, 0L)
        .select("site", "id", "v").collect().map(_.toSeq).toSet)
    (1 to 12).foreach { i =>
      Versioned.mergeInto(spark, dir.getAbsolutePath,
        df(Seq(("hot", 0L, i.toDouble, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("site", "id"))
      expected += Versioned.snapshot(spark, dir.getAbsolutePath, i.toLong)
        .select("site", "id", "v").collect().map(_.toSeq).toSet
    }
    val md = new java.io.File(dir, "_manifest")
    def lines(name: String): Seq[String] =
      java.nio.file.Files.readAllLines(
        new java.io.File(md, name).toPath).toArray.toSeq.map(_.toString)
    // v1..v9: delta manifests whose file lines are bounded by the
    // one-partition batch (one +file, one -file), NOT the lake width
    (1 to 9).foreach { v =>
      val name = f"v$v%06d.delta.txt"
      assert(new java.io.File(md, name).exists(), s"v$v must be a delta manifest")
      val fileLines = lines(name).filterNot(_.startsWith("#"))
      assert(fileLines.nonEmpty && fileLines.size <= 4,
        s"delta at v$v must be batch-bounded, got ${fileLines.size} lines")
      assert(fileLines.forall(l => l.startsWith("+") || l.startsWith("-")))
    }
    // v10 hits the cadence: a full checkpoint listing the live lake
    assert(new java.io.File(md, f"v${10}%06d.txt").exists(),
      "v10 must be a checkpoint")
    assert(lines(f"v${10}%06d.txt").count(!_.startsWith("#")) >= totalFiles - 2)
    assert(new java.io.File(md, f"v${11}%06d.delta.txt").exists(),
      "v11 resumes delta form")
    // EVERY version resolves exactly through checkpoint + delta tail
    (0 to 12).foreach { v =>
      assert(Versioned.snapshot(spark, dir.getAbsolutePath, v.toLong)
        .select("site", "id", "v").collect().map(_.toSeq).toSet == expected(v),
        s"version $v must resolve exactly")
      assert(Versioned.snapshot(spark, dir.getAbsolutePath, v.toLong)
        .filter(col("site") === "hot" && col("id") === 0L)
        .select("v").collect()(0).getDouble(0) == v.toDouble)
    }
  }

  test("vacuum cannot break streaming exactly-once: txn marks survive manifest reaping") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // four txn-stamped batches, then vacuum reaps every manifest that
    // originally recorded batches 0..2
    (0 to 3).foreach { b =>
      Versioned.mergeInto(spark, dir,
        df(Seq(("a", 1L, b.toDouble, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("site", "id"), txn = Some(("stream-z", b.toLong)))
    }
    Versioned.vacuum(spark, dir, keepVersions = 1)
    intercept[IllegalArgumentException] { Versioned.filesAt(spark, dir, 3L) }
    // the carried high-water map still answers from the one retained manifest
    assert(Versioned.lastTxn(spark, dir, "stream-z") == 3L)
    // replaying ANY reaped batch advances nothing
    (0 to 3).foreach { b =>
      assert(Versioned.mergeInto(spark, dir,
        df(Seq(("a", 1L, b.toDouble, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("site", "id"), txn = Some(("stream-z", b.toLong))) == 4L)
    }
    assert(Versioned.currentVersion(spark, dir) == 4L)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 3.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    // a fresh batch still commits normally
    assert(Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 9.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"), txn = Some(("stream-z", 4L))) == 5L)
  }

  test("timestamp time travel: versionAsOf boundaries, monotonic clamp, snapshotAsOf") {
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 2.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"), commitTs = 2000L)
    // a commit whose clock reads EARLIER than its predecessor is
    // clamped (Delta's skew adjustment) so timestamps stay monotonic
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 3.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"), commitTs = 1500L)
    assert(Versioned.commitTimeAt(spark, dir, 0L).contains(1000L))
    assert(Versioned.commitTimeAt(spark, dir, 1L).contains(2000L))
    assert(Versioned.commitTimeAt(spark, dir, 2L).contains(2000L))

    assert(Versioned.versionAsOf(spark, dir, 1000L) == 0L) // exact boundary
    assert(Versioned.versionAsOf(spark, dir, 1999L) == 0L)
    assert(Versioned.versionAsOf(spark, dir, 2000L) == 2L) // newest at tie
    assert(Versioned.versionAsOf(spark, dir, Long.MaxValue) == 2L)
    val e = intercept[IllegalArgumentException] {
      Versioned.versionAsOf(spark, dir, 999L)
    }
    assert(e.getMessage.contains("before the earliest"))
    assert(state(Versioned.snapshotAsOf(spark, dir, 1500L)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    assert(state(Versioned.snapshotAsOf(spark, dir, 2000L)) ==
      Set(("a", 1L, 3.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
  }

  test("optimize under pending tombstones: small-file pass carries them, ZORDER pass compacts them; history() describes it all") {
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned_optmor").toFile
    dir.deleteOnExit()
    df((1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i, i.toDouble)),
      "site", "id", "v")
      .repartition(4)
      .write.mode("overwrite").partitionBy("site").parquet(dir.getAbsolutePath)
    val lake = dir.getAbsolutePath
    Versioned.init(spark, lake, commitTs = 1000L)
    Versioned.deleteWhere(spark, lake, col("id") <= 4L, Seq("id"), commitTs = 2000L)
    val expect = (5L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i, i.toDouble)).toSet

    // small-file compaction: layout-only, tombstones stay carried MOR
    val v2 = Versioned.optimize(spark, lake, Seq("site"), commitTs = 3000L)
    assert(v2 == 2L)
    assert(Versioned.deleteFilesAt(spark, lake, v2).nonEmpty,
      "small-file optimize must carry pending tombstones")
    assert(state(Versioned.snapshot(spark, lake)) == expect)

    // ZORDER re-cluster: materializes the tombstones in the same commit
    val v3 = Versioned.optimize(spark, lake, Seq("site"),
      targetFilesPerPartition = 2,
      zorder = Some(Maintenance.mortonKey(col("id"), col("v").cast("long"), bits = 8)),
      commitTs = 4000L)
    assert(v3 == 3L)
    assert(Versioned.deleteFilesAt(spark, lake, v3).isEmpty,
      "zorder optimize must compact pending tombstones")
    assert(state(Versioned.snapshot(spark, lake)) == expect)
    // physical proof: the raw v3 files no longer hold the deleted rows
    val raw3 = spark.read.option("basePath", lake)
      .parquet(Versioned.filesAt(spark, lake, v3).map(f => s"$lake/$f"): _*)
    assert(raw3.filter(col("id") <= 4L).count() == 0L)
    // and a fastRowCount (which refuses under tombstones) works again
    assert(Versioned.fastRowCount(spark, lake) == expect.size.toLong)
    // history: pre-delete and tombstoned versions still travel
    assert(state(Versioned.snapshot(spark, lake, 0L)).size == 40)
    assert(state(Versioned.snapshot(spark, lake, 1L)) == expect)

    val h = Versioned.history(spark, lake)
      .select("version", "commit_ts", "is_checkpoint", "n_files",
        "n_pending_delete_files")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4)))
    assert(h.map(_._1).toSeq == Seq(3L, 2L, 1L, 0L), "newest first")
    assert(h.map(_._2).toSeq == Seq(4000L, 3000L, 2000L, 1000L))
    assert(h.last._3, "v0 is a checkpoint")
    assert(!h.head._3, "v3 is a delta")
    assert(h.find(_._1 == 1L).get._5 == 1L, "v1 carries one tombstone file")
    assert(h.find(_._1 == 3L).get._5 == 0L)
    assert(h.find(_._1 == 3L).get._4 ==
      Versioned.filesAt(spark, lake, 3L).size.toLong)
  }

  test("merge over pending tombstones: conflicts materialized in-commit, rest stays MOR") {
    val dir = freshLake() // a:(1,1.0),(2,2.0)  b:(10,10.0)
    Versioned.init(spark, dir)
    val v1 = Versioned.deleteWhere(spark, dir, col("id") === 1L, Seq("id"))
    val v2 = Versioned.deleteWhere(spark, dir, col("id") === 10L, Seq("id"))
    assert(v1 == 1L && v2 == 2L)

    // NON-conflicting merge (updates id=2 only): commits right over the
    // pending tombstones, which stay carried merge-on-read
    val v3 = Versioned.mergeInto(spark, dir,
      df(Seq(("a", 2L, 22.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(v3 == 3L)
    assert(Versioned.deleteFilesAt(spark, dir, v3).nonEmpty,
      "non-conflicting tombstones must stay MOR")
    assert(state(Versioned.snapshot(spark, dir)) == Set(("a", 2L, 22.0)))
    // site=b was never rewritten: the physical file is untouched
    assert(Versioned.filesAt(spark, dir, v3).filter(_.contains("site=b/")) ==
      Versioned.filesAt(spark, dir, 0L).filter(_.contains("site=b/")))

    // PARTIAL conflict: re-insert id=10 (tombstoned, physical rows in
    // site=b) — site=b joins the rewrite scope even though the batch
    // only names it via the key, the id=10 tombstone is dropped, and
    // the id=1 tombstone survives as a rewritten carried set
    val v4 = Versioned.mergeInto(spark, dir,
      df(Seq(("b", 10L, 99.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(v4 == 4L)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 2L, 22.0), ("b", 10L, 99.0)))
    val carried = Versioned.deleteFilesAt(spark, dir, v4)
    assert(carried.nonEmpty, "the non-conflicting id=1 tombstone must survive")
    assert(spark.read.parquet(carried.map(d => s"$dir/$d"): _*)
      .collect().map(_.getLong(0)).toSet == Set(1L))

    // FULL conflict: re-insert id=1 — every tombstone conflicts, the
    // lake comes out fully materialized
    val v5 = Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 11.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(v5 == 5L)
    assert(Versioned.deleteFilesAt(spark, dir, v5).isEmpty)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 11.0), ("a", 2L, 22.0), ("b", 10L, 99.0)))

    // history is intact across the whole interleaving
    assert(state(Versioned.snapshot(spark, dir, 0L)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    assert(state(Versioned.snapshot(spark, dir, 1L)) ==
      Set(("a", 2L, 2.0), ("b", 10L, 10.0)))
    assert(state(Versioned.snapshot(spark, dir, 2L)) == Set(("a", 2L, 2.0)))
    assert(state(Versioned.snapshot(spark, dir, 3L)) == Set(("a", 2L, 22.0)))
    assert(state(Versioned.snapshot(spark, dir, 4L)) ==
      Set(("a", 2L, 22.0), ("b", 10L, 99.0)))
  }

  test("a losing concurrent commit leaves NO visible feed increment; the retry publishes fresh") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))      // v1
    val batch = df(Seq(("a", 1L, 100.0, false)), "site", "id", "v", "__delete")
    // inject a racing merge of the same key into the CAS window: the
    // merge resolves against v1, writes its increment and data files —
    // and then finds v2 taken
    var fired = false
    Versioned.beforeCommitHook = () => if (!fired) {
      fired = true
      Versioned.mergeInto(spark, dir,
        df(Seq(("a", 1L, 50.0, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("site", "id"))                           // v2
    }
    try {
      val e = intercept[IllegalArgumentException] {
        Versioned.mergeInto(spark, dir, batch, Seq("site"), Seq("site", "id"))
      }
      assert(e.getMessage.contains("concurrent commit"))
    } finally Versioned.beforeCommitHook = () => ()
    def inc(from: Long, to: Long) = Versioned.changesBetween(spark, dir, from, to)
      .select("_action", "site", "id", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // the loser published nothing: its increment dir is referenced by
    // no manifest, so the feed serves the winner's commit alone
    assert(Versioned.currentVersion(spark, dir) == 2L)
    assert(inc(1L, 2L) == Set(
      ("update_preimage", "a", 1L, 1.0),
      ("update_postimage", "a", 1L, 50.0)))
    // the retry re-resolves against the winner's state and publishes
    val v3 = Versioned.mergeInto(spark, dir, batch, Seq("site"), Seq("site", "id"))
    assert(v3 == 3L)
    assert(inc(2L, 3L) == Set(
      ("update_preimage", "a", 1L, 50.0),
      ("update_postimage", "a", 1L, 100.0)))
  }

  test("a concurrent writer's files landing in the same partition during the data-write window are never published by this commit") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // Writer B crashes AFTER its data files landed in site=a but BEFORE
    // its manifest CAS — the classic window. Writer A, appending to the
    // same partition concurrently, must identify its commit's files by
    // what IT wrote (staged-dir listing), never by diffing the shared
    // partition directory — or it would publish B's uncommitted rows.
    var fired = false
    Versioned.afterDataWriteHook = () => {
      if (!fired) {
        fired = true
        // B's orphaned (uncommitted) data files, directly in the dir
        df(Seq(("a", 666L, 666.0)), "site", "id", "v")
          .write.mode("append").partitionBy("site").parquet(dir)
      }
    }
    try {
      val v1 = Versioned.append(spark, dir,
        df(Seq(("a", 5L, 5.0)), "site", "id", "v"), Seq("site"))
      assert(v1 == 1L)
    } finally Versioned.afterDataWriteHook = () => ()
    // A's commit holds base + A's batch; B's orphan row is invisible
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0), ("a", 5L, 5.0)))
    // B's replay (the crash-restart) appends its batch exactly once
    Versioned.append(spark, dir,
      df(Seq(("a", 666L, 666.0)), "site", "id", "v"), Seq("site"))
    assert(Versioned.snapshot(spark, dir)
      .filter(col("id") === 666L).count() == 1L,
      "the replayed batch must appear exactly once")
  }

  test("two concurrent appends to the SAME partition both land, each exactly once") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // B runs a COMPLETE append (data + commit) inside A's window
    // between A's data write and A's file identification + CAS
    var fired = false
    Versioned.afterDataWriteHook = () => {
      if (!fired) {
        fired = true
        Versioned.append(spark, dir,
          df(Seq(("a", 20L, 20.0)), "site", "id", "v"), Seq("site"))
      }
    }
    try {
      val v = Versioned.append(spark, dir,
        df(Seq(("a", 30L, 30.0)), "site", "id", "v"), Seq("site"))
      assert(v == 2L, "A lost the CAS to B and committed the next version")
    } finally Versioned.afterDataWriteHook = () => ()
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0),
      ("a", 20L, 20.0), ("a", 30L, 30.0)))
    // v1 is B's commit alone — A's files were not captured into it
    assert(state(Versioned.snapshot(spark, dir, 1L)) == Set(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0), ("a", 20L, 20.0)))
  }

  test("append refuses key collisions with pending tombstones; appendsBetween refuses tombstone changes") {
    val root = java.nio.file.Files.createTempDirectory("graft_follow2").toFile
    root.deleteOnExit()
    val lake = new java.io.File(root, "lake").getAbsolutePath
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0)), "site", "id", "v"),
      lake, keys = Seq("site"))
    Versioned.init(spark, lake)
    Versioned.deleteWhere(spark, lake, col("id") === 1L, keyCols = Seq("id"))
    // colliding key refused; disjoint append is fine
    val e = intercept[IllegalArgumentException] {
      Versioned.append(spark, lake,
        df(Seq(("a", 1L, 5.0)), "site", "id", "v"), Seq("site"))
    }
    assert(e.getMessage.contains("mergeInto"))
    Versioned.append(spark, lake,
      df(Seq(("a", 3L, 3.0)), "site", "id", "v"), Seq("site"))
    assert(state(Versioned.snapshot(spark, lake)) ==
      Set(("a", 2L, 2.0), ("a", 3L, 3.0)))
    // the deleteWhere commit changed visible rows without touching
    // files — a follower range across it must refuse
    val e2 = intercept[IllegalArgumentException] {
      Versioned.appendsBetween(spark, lake, 0L, 2L)
    }
    assert(e2.getMessage.contains("change feed"))
    // while the pure-append tail reads exactly the appended rows
    assert(state(Versioned.appendsBetween(spark, lake, 1L, 2L)) ==
      Set(("a", 3L, 3.0)))
  }

  test("append retry re-validates the batch against a constraint the winning commit added") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // the winner ADDS a CHECK constraint inside A's CAS window; A's
    // batch violates it — the retry must refuse, not commit blind
    var fired = false
    Versioned.beforeCommitHook = () => {
      if (!fired) {
        fired = true
        Versioned.addConstraint(spark, dir, "v_nonneg", "v >= 0")
      }
    }
    try {
      val e = intercept[IllegalArgumentException] {
        Versioned.append(spark, dir,
          df(Seq(("a", 7L, -7.0)), "site", "id", "v"), Seq("site"))
      }
      assert(e.getMessage.contains("v_nonneg"),
        s"retry must enforce the new constraint, got: ${e.getMessage}")
    } finally Versioned.beforeCommitHook = () => ()
    // and a conforming batch retries through fine
    var fired2 = false
    Versioned.beforeCommitHook = () => {
      if (!fired2) {
        fired2 = true
        Versioned.commitManifest(spark, dir,
          Versioned.currentVersion(spark, dir) + 1,
          Versioned.filesAt(spark, dir))
      }
    }
    try {
      Versioned.append(spark, dir,
        df(Seq(("a", 8L, 8.0)), "site", "id", "v"), Seq("site"))
    } finally Versioned.beforeCommitHook = () => ()
    assert(Versioned.snapshot(spark, dir)
      .filter(col("id") === 8L).count() == 1L)
  }

  test("optimistic concurrency: a losing writer RETRIES against the winner's snapshot; both merges land") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val batchA = df(Seq(("a", 1L, 111.0, false)), "site", "id", "v", "__delete")
    val batchB = df(Seq(("b", 10L, 222.0, false), ("b", 11L, 11.0, false)),
      "site", "id", "v", "__delete")
    // writer B commits INSIDE writer A's CAS window (one-shot hook:
    // B's own commit must not recurse)
    var fired = false
    Versioned.beforeCommitHook = () => {
      if (!fired) {
        fired = true
        Versioned.mergeInto(spark, dir, batchB, Seq("site"), Seq("site", "id"))
      }
    }
    try {
      val v = Versioned.mergeIntoRetry(spark, dir, batchA,
        Seq("site"), Seq("site", "id"))
      assert(v == 2L, "A retried and committed after B took v1")
    } finally Versioned.beforeCommitHook = () => ()
    // BOTH writers' changes are in the final state — A's retry
    // re-resolved against B's committed snapshot
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 111.0), ("a", 2L, 2.0),
      ("b", 10L, 222.0), ("b", 11L, 11.0)))
    assert(state(Versioned.snapshot(spark, dir, 1L)) == Set(
      ("a", 1L, 1.0), ("a", 2L, 2.0),
      ("b", 10L, 222.0), ("b", 11L, 11.0)), "v1 is B's commit alone")
    // attempts exhausted -> the concurrent-commit error surfaces
    Versioned.beforeCommitHook = () =>
      Versioned.commitManifest(spark, dir,
        Versioned.currentVersion(spark, dir) + 1,
        Versioned.filesAt(spark, dir))
    try {
      val e = intercept[IllegalArgumentException] {
        Versioned.mergeIntoRetry(spark, dir, batchA,
          Seq("site"), Seq("site", "id"), maxAttempts = 2)
      }
      assert(e.getMessage.contains("concurrent commit"))
    } finally Versioned.beforeCommitHook = () => ()
  }

  test("OPTIMIZE binpack: small files collapse to the byte target's file count; compact partitions untouched; idempotent; stats inherit") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_binpack").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "lake").getAbsolutePath
    // site=a: 8 small files of 25 wide rows each (1 KB of seeded
    // pseudo-random payload per row — INCOMPRESSIBLE, so bytes stay
    // ~linear in rows across the rewrite and the size trigger reaches
    // a fixpoint); site=b: one compact file
    def payload(seed: Long): String = {
      val r = new scala.util.Random(seed)
      r.alphanumeric.take(1024).mkString
    }
    def wave(i: Int) = (0 until 25)
      .map(j => ("a", (i * 100 + j).toLong, payload(i * 100 + j)))
      .toDF("site", "id", "pay")
    MergeData.writeMerged(spark,
      Seq(("b", 1L, payload(-1))).toDF("site", "id", "pay"),
      dir, keys = Seq("site"))
    Versioned.init(spark, dir)
    Versioned.backfillStats(spark, dir, Seq("id"))
    (0 until 8).foreach(i =>
      Versioned.append(spark, dir, wave(i), Seq("site")))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOf(p: String) = Versioned.filesAt(spark, dir)
      .filter(_.startsWith(s"site=$p/"))
    def bytesOf(refs: Seq[String]) = refs.map(r =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$r")).getLen).sum
    assert(filesOf("a").size == 8)
    val aBytes = bytesOf(filesOf("a"))
    val aRows = 200L
    val bFilesBefore = filesOf("b")
    val preSnap = Versioned.snapshot(spark, dir)
      .select("site", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet

    // target ~ half the partition's bytes -> expect the impl's
    // deterministic ceil(rows / rowsPerFile) file count, which for
    // uniform rows equals ceil(bytes / target) = 2 (+/- encoding slack
    // bounded by one file)
    val target = aBytes / 2 + 1
    val v = Versioned.optimize(spark, dir, Seq("site"),
      targetFileSizeBytes = Some(target))
    val rowsPerFile = math.max(1L, target * aRows / aBytes)
    val expected = (aRows + rowsPerFile - 1) / rowsPerFile
    assert(filesOf("a").size == expected && expected <= 3,
      s"8 small files must collapse to ceil(rows/rowsPerFile) = $expected, " +
        s"got ${filesOf("a").size}")
    assert(filesOf("b") == bFilesBefore,
      "a partition already within its byte budget is untouched")
    assert(Versioned.snapshot(spark, dir)
      .select("site", "id").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet == preSnap, "binpack is layout-only")
    // stats discipline inherited: the compacted files are covered
    assert(Versioned.fastRowCount(spark, dir) == aRows + 1)
    val (lo, hi) = Versioned.fastMinMax(spark, dir, "id")
    assert(lo == 0.0 && hi == 724.0)
    // idempotent: a second pass finds nothing to do
    assert(Versioned.optimize(spark, dir, Seq("site"),
      targetFileSizeBytes = Some(target)) == v)
    // time travel still reads the pre-compaction layout
    assert(Versioned.snapshot(spark, dir, v - 1)
      .select("id").count() == aRows + 1)
  }

  test("null-count stats: fastNullCount is exact and maintained by commits; prunedScan routes range/null/IN predicates in one call") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_nullstats").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "lake").getAbsolutePath
    val base = Seq(
      ("a", 1L, None: Option[Double]), ("a", 2L, None),
      ("b", 10L, Some(10.0)), ("b", 11L, Some(11.0)))
      .toDF("site", "id", "v")
    MergeData.writeMerged(spark, base, dir, keys = Seq("site"))
    Versioned.init(spark, dir)
    Versioned.backfillStats(spark, dir, Seq("id", "v"))
    assert(Versioned.fastNullCount(spark, dir, "v") == 2L)
    assert(Versioned.fastNullCount(spark, dir, "id") == 0L)
    // commits maintain the counts (inherited discipline)
    Versioned.append(spark, dir,
      Seq(("b", 12L, None: Option[Double])).toDF("site", "id", "v"),
      Seq("site"))
    assert(Versioned.fastNullCount(spark, dir, "v") == 3L)
    assert(Versioned.fastNullCount(spark, dir, "v", 0L) == 2L,
      "null counts time-travel")
    // routing: IS NULL skips the no-null files, IS NOT NULL skips the
    // all-null files, ranges use the boxes, IN falls through (no
    // blooms) — all intersected in ONE call
    def cands(ps: Seq[PrunePred]) =
      Versioned.prunedScanCandidates(spark, dir, ps).files
    assert(cands(Seq(PruneIsNull("v"))).nonEmpty &&
      cands(Seq(PruneIsNull("v"))).forall(f =>
        f.contains("site=a") || f.contains("site=b")),
      "IS NULL candidates exist")
    val all = Versioned.filesAt(spark, dir).size
    assert(cands(Seq(PruneNotNull("v"))).size < all,
      "IS NOT NULL must skip the all-null site=a files")
    assert(cands(Seq(PruneNotNull("v"))).forall(_.contains("site=b")))
    assert(cands(Seq(PruneRange("id", 10.0, 11.0))).forall(_.contains("site=b")))
    // results are exact (residual applies on survivors)
    assert(Versioned.prunedScan(spark, dir, Seq(PruneIsNull("v")))
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 12L))
    assert(Versioned.prunedScan(spark, dir,
        Seq(PruneNotNull("v"), PruneRange("id", 10.0, 10.0)))
      .select("id").collect().map(_.getLong(0)).toSet == Set(10L))
    assert(Versioned.prunedScan(spark, dir,
        Seq(PruneIn("id", Seq(11L, 12L)), PruneNotNull("v")))
      .select("id").collect().map(_.getLong(0)).toSet == Set(11L))
    // untracked columns refuse rather than prune everything
    val e = intercept[IllegalArgumentException] {
      Versioned.prunedScan(spark, dir, Seq(PruneRange("nope", 0.0, 1.0)))
    }
    assert(e.getMessage.contains("not tracked"))
    // MOR tombstones apply on the survivors
    Versioned.deleteWhere(spark, dir, col("id") === 1L, keyCols = Seq("id"))
    assert(Versioned.prunedScan(spark, dir, Seq(PruneIsNull("v")))
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L, 12L))
    val e2 = intercept[IllegalArgumentException] {
      Versioned.fastNullCount(spark, dir, "v")
    }
    assert(e2.getMessage.contains("materializeDeletes"))
  }

  test("column mapping: RENAME/DROP are metadata-only; reads, writes, time travel, MOR deletes, stats and restore follow the mapping") {
    val dir = freshLake()
    Versioned.init(spark, dir)                                      // v0
    val before = Versioned.filesAt(spark, dir, 0L)
    // RENAME v -> val: zero files change hands
    assert(Versioned.renameColumn(spark, dir, "v", "val") == 1L)    // v1
    assert(Versioned.filesAt(spark, dir, 1L) == before,
      "rename must be metadata-only")
    assert(Versioned.snapshot(spark, dir).columns.toSeq ==
      Seq("id", "val", "site"))
    assert(Versioned.snapshot(spark, dir, 0L).columns.contains("v"),
      "time travel keeps the old name")
    // writes speak the NEW name; files stay physically 'v'
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, false)), "site", "id", "val", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v2
    assert(state(Versioned.snapshot(spark, dir)
        .withColumnRenamed("val", "v")) ==
      Set(("a", 1L, 100.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    val physCols = spark.read
      .parquet(s"$dir/${Versioned.filesAt(spark, dir).filterNot(before.contains).head}")
      .columns.toSeq
    assert(physCols.contains("v") && !physCols.contains("val"),
      s"new files keep the physical name, got $physCols")
    // blind append + MOR delete under the mapping
    Versioned.append(spark, dir,
      df(Seq(("b", 11L, 11.0)), "site", "id", "val"), Seq("site"))  // v3
    Versioned.deleteWhere(spark, dir, col("val") === 11.0,
      keyCols = Seq("site", "id"))                                  // v4
    assert(Versioned.snapshot(spark, dir)
      .filter(col("id") === 11L).isEmpty)
    // stats answer under the logical name
    Versioned.backfillStats(spark, dir, Seq("val"))
    assert(Versioned.snapshot(spark, dir).count() == 3L)
    // restore ACROSS the rename keeps the current (new) name
    Versioned.restore(spark, dir, 0L)                               // v5
    assert(Versioned.snapshot(spark, dir).columns.toSeq ==
      Seq("id", "val", "site"))
    assert(state(Versioned.snapshot(spark, dir)
        .withColumnRenamed("val", "v")) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))

    // DROP then RE-ADD: the old physical column can never resurrect
    Versioned.dropColumn(spark, dir, "val")                         // v6
    assert(Versioned.snapshot(spark, dir).columns.toSeq == Seq("id", "site"))
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 777.0, false)), "site", "id", "val", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v7
    val readd = Versioned.snapshot(spark, dir)
      .select("site", "id", "val").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toSet
    assert(readd.contains(("a", 1L, 777.0)))
    assert(readd.filterNot(_._2 == 1L).forall(_._3.isNaN),
      s"untouched rows must read NULL in the re-added column (no " +
        s"resurrection from the dropped physical), got $readd")
    // dropped-era travel still shows neither name; pre-drop shows data
    assert(!Versioned.snapshot(spark, dir, 6L).columns.contains("val"))
    assert(Versioned.snapshot(spark, dir, 5L).columns.contains("val"))

    // guard rails
    val e1 = intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "site", "site2")
    }
    assert(e1.getMessage.contains("partition"))
    Versioned.addConstraint(spark, dir, "id_pos", "id > 0")
    val e2 = intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "id", "ident")
    }
    assert(e2.getMessage.contains("id_pos"))
    // the mapping bumps the protocol floor to 2
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = new org.apache.hadoop.fs.Path(dir,
      f"_manifest/v${Versioned.currentVersion(spark, dir)}%06d.delta.txt")
    val lines = {
      val in = fs.open(latest)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(lines.exists(_.startsWith("#ver 2")),
      s"column mapping demands reader protocol 2, got ${lines.take(2)}")
  }

  test("change-feed TABLE PROPERTY: argument-less writers feed a converging replica across merge/append/delete/restore; vacuum reaps only orphans") {
    val dir = freshLake()
    Versioned.init(spark, dir)                                    // v0
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))     // v1
    // a replica seeded from the enable-version snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_cdfprop").toFile
    root.deleteOnExit()
    val replica = new java.io.File(root, "replica").getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, dir, 1L),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    // NONE of these writers passes a changeFeed argument — the
    // property makes emission a commit-path invariant
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, false), ("c", 7L, 7.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))                             // v2
    Versioned.append(spark, dir,
      df(Seq(("b", 11L, 11.0)), "site", "id", "v"), Seq("site"))  // v3
    Versioned.deleteWhere(spark, dir, col("id") === 2L,
      keyCols = Seq("site", "id"))                                // v4
    Versioned.optimize(spark, dir, Seq("site"))                   // v5 layout-only
    Versioned.restore(spark, dir, 2L)                             // v6
    val cur = Versioned.applyTableChanges(spark, dir, replica,
      Seq("site"), sinceV = 1L)
    assert(cur == 6L)
    assert(state(Versioned.snapshot(spark, replica)) ==
      state(Versioned.snapshot(spark, dir)),
      "replica must converge with zero per-call feed arguments")
    // the batch read serves every increment, tagged by version
    val ch = Versioned.changesBetween(spark, dir, 1L, 6L)
    assert(ch.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L, 4L, 6L),
      "merge, append, delete and restore each published; optimize is layout-only")
    // a merge keyed differently from the property is refused
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, dir,
        df(Seq(("a", 1L, 1.0, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("id"))
    }
    assert(e.getMessage.contains("keys must agree"))
    // vacuum: referenced increments survive (the feed still serves the
    // retained range), orphans (lost CAS / crash leftovers) are reaped
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(dir, "_changes/inc_orphan")
    fs.mkdirs(orphan)
    Versioned.vacuum(spark, dir, keepVersions = 5) // keeps v2..v6
    assert(fs.exists(orphan),
      "a YOUNG unreferenced increment may belong to an in-flight commit " +
        "(increments are written before the manifest CAS) — never reaped")
    Versioned.vacuum(spark, dir, 5,
      System.currentTimeMillis() + Versioned.ChangeIncRetainMillis + 60000L)
    assert(!fs.exists(orphan),
      "aged-out unreferenced increment dirs are provably orphans — reaped")
    assert(Versioned.changesBetween(spark, dir, 2L, 6L)
      .select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L, 6L),
      "retained increments survive vacuum")
    // disable lifts the invariant
    Versioned.disableChangeFeed(spark, dir)
    val v8 = Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 5.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("id")) // different key: fine once disabled
    val e2 = intercept[IllegalArgumentException] {
      Versioned.changeIncrementAt(spark, dir, v8)
    }
    assert(e2.getMessage.contains("no change increment"))
  }

  test("#ver protocol guard: a manifest demanding a future reader level is refused naming its features; enable-cdf stamps level 1") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))
    // the property bumps the floor: the manifest SAYS what it demands
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(dir, "_manifest")
    val v1 = fs.listStatus(mdir).map(_.getPath)
      .find(_.getName.matches("v0*1\\..*txt")).get
    val lines = {
      val in = fs.open(v1)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(lines.exists(_.startsWith("#ver 1 change-feed")),
      s"enable-cdf must stamp the protocol line, got: ${lines.take(3)}")
    // a future manifest is refused with the feature named, not misread
    val cur = Versioned.currentVersion(spark, dir)
    val future = new org.apache.hadoop.fs.Path(mdir,
      f"v${cur + 1}%06d.delta.txt")
    val out = fs.create(future, true)
    out.write("#ver 99 time-crystals\n+nope.parquet\n".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalArgumentException] {
      Versioned.snapshot(spark, dir)
    }
    assert(e.getMessage.contains("protocol 99") &&
      e.getMessage.contains("time-crystals") &&
      e.getMessage.contains("upgrade"),
      s"got: ${e.getMessage}")
    // older versions of the same table still read fine
    fs.delete(future, false)
    assert(state(Versioned.snapshot(spark, dir)).nonEmpty)
  }

  test("resolution cache: wipe-and-rebuild at the same path serves the NEW lake's files") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 5.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    val oldV1 = Versioned.filesAt(spark, dir, 1L) // now cached
    // wipe the lake and rebuild a DIFFERENT one at the same path
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    MergeData.writeMerged(spark,
      df(Seq(("z", 99L, 9.0)), "site", "id", "v"), dir, keys = Seq("site"))
    Versioned.init(spark, dir)
    Versioned.mergeInto(spark, dir,
      df(Seq(("z", 98L, 8.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    val newV1 = Versioned.filesAt(spark, dir, 1L)
    assert(newV1 != oldV1, "cache must not serve the wiped lake's listing")
    assert(state(Versioned.snapshot(spark, dir, 1L)) ==
      Set(("z", 99L, 9.0), ("z", 98L, 8.0)))
  }

  test("schema evolution through the manifest commit: new columns null-fill, old versions keep their schema") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val evolved = df(Seq(("a", 1L, 100.0, "m1", false)),
      "site", "id", "v", "tag", "__delete")
    Versioned.mergeInto(spark, dir, evolved, Seq("site"), Seq("site", "id"))
    val snap = Versioned.snapshot(spark, dir)
    assert(snap.columns.contains("tag"))
    val byId = snap.select("id", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(byId(1L).contains("m1"))
    assert(byId(2L).isEmpty && byId(10L).isEmpty,
      "untouched rows null-fill the evolved column")
    // time travel reads v0 with v0's schema — the new column never
    // existed there
    assert(!Versioned.snapshot(spark, dir, 0L).columns.contains("tag"))
    // evolution adds, never drops: a batch missing a base column refuses
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, dir,
        df(Seq(("a", 1L, false)), "site", "id", "__delete"),
        Seq("site"), Seq("site", "id"))
    }
    assert(e.getMessage.contains("missing base columns"))
  }

  test("versioned merge is replay-idempotent at the data level") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val batch = df(Seq(("a", 1L, 5.0, false), ("a", 2L, 0.0, true)),
      "site", "id", "v", "__delete")
    Versioned.mergeInto(spark, dir, batch, Seq("site"), Seq("site", "id"))
    val once = state(Versioned.snapshot(spark, dir))
    Versioned.mergeInto(spark, dir, batch, Seq("site"), Seq("site", "id"))
    assert(state(Versioned.snapshot(spark, dir)) == once &&
      once == Set(("a", 1L, 5.0), ("b", 10L, 10.0)))
  }

  test("RESTORE: metadata-only rollback; history intact; CDF classes; replica converges; refuses reaped targets") {
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"), commitTs = 1500L)
    val v1 = Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true),
        ("c", 7L, 7.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"), commitTs = 2000L)
    val s1 = state(Versioned.snapshot(spark, dir, v1))
    val v2 = Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 111.0, false), ("b", 10L, 0.0, true),
        ("d", 20L, 20.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"), commitTs = 3000L)
    val s2 = state(Versioned.snapshot(spark, dir, v2))
    assert(s1 == Set(("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))
    assert(s2 == Set(("a", 1L, 111.0), ("c", 7L, 7.0), ("d", 20L, 20.0)))

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def allDataFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val buf = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet") &&
            !p.toString.contains("/_")) buf += p.toString
      }
      buf.toSet
    }
    val filesBefore = allDataFiles()
    val v3 = Versioned.restore(spark, dir, v1, commitTs = 4000L)
    assert(v3 == 4L)
    // metadata-only: not one data file written or deleted
    assert(allDataFiles() == filesBefore, "restore must not touch data files")
    // latest == restored target; the rolled-back state still time-travels
    assert(state(Versioned.snapshot(spark, dir)) == s1)
    assert(state(Versioned.snapshot(spark, dir, v2)) == s2)
    val hist = Versioned.history(spark, dir).collect()
    assert(hist.length == 5 &&
      hist.head.getAs[Long]("version") == 4L &&
      hist.head.getAs[Long]("commit_ts") == 4000L &&
      hist.head.getAs[String]("operation") == "restore" &&
      hist.last.getAs[String]("operation") == "init" &&
      hist(1).getAs[String]("operation") == "merge")

    // CDF classes of the v2→v1 diff: d inserted at v2 → delete;
    // b deleted at v2 → insert; a changed 111→100 → pre/postimage
    val feed = Versioned.changesBetween(spark, dir, v2, v3)
    def cls(a: String): Set[(String, Long, Double)] =
      feed.filter(col("_action") === a).select("site", "id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cls("delete") == Set(("d", 20L, 20.0)))
    assert(cls("insert") == Set(("b", 10L, 10.0)))
    assert(cls("update_preimage") == Set(("a", 1L, 111.0)))
    assert(cls("update_postimage") == Set(("a", 1L, 100.0)))

    // a replica sitting at the pre-restore state converges through the feed
    val replica = java.nio.file.Files
      .createTempDirectory("graft_restore_replica").toFile.getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, dir, v2),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    Versioned.applyTableChanges(spark, dir, replica, Seq("site"), sinceV = v2)
    assert(state(Versioned.snapshot(spark, replica)) == s1)

    // replaying the same restore is a version-level no-op
    assert(Versioned.restore(spark, dir, v1) == 4L)
    assert(Versioned.history(spark, dir).count() == 5L)

    // a target whose unique files were reaped refuses loudly: delete a
    // file only v2 references (not live at v3 == v1's state)
    val v2only = (Versioned.filesAt(spark, dir, v2).toSet --
      Versioned.filesAt(spark, dir, v3).toSet).head
    fs.delete(new org.apache.hadoop.fs.Path(dir, v2only), false)
    val e = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir, v2)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("SHALLOW CLONE: zero-copy at-version; independent evolution; COW localizes touched partitions; OPTIMIZE materializes") {
    val src = freshLake()
    Versioned.init(spark, src, commitTs = 1000L)
    Versioned.mergeInto(spark, src,
      df(Seq(("a", 1L, 100.0, false), ("c", 7L, 7.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"), commitTs = 2000L)
    val s1 = state(Versioned.snapshot(spark, src, 1L))
    assert(s1 == Set(("a", 1L, 100.0), ("a", 2L, 2.0), ("b", 10L, 10.0),
      ("c", 7L, 7.0)))

    val dst = new java.io.File(java.nio.file.Files
      .createTempDirectory("graft_clone").toFile, "clone").getAbsolutePath
    assert(Versioned.cloneAt(spark, src, dst, version = 1L) == 0L)

    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def localParquet(): Int = {
      if (!fs.exists(new org.apache.hadoop.fs.Path(dst))) return 0
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dst), true)
      var n = 0
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet") && !p.toString.contains("/_")) n += 1
      }
      n
    }
    // zero-copy: not one data file under the clone, yet it reads fully
    assert(localParquet() == 0, "shallow clone must copy zero data files")
    assert(Versioned.filesAt(spark, dst).forall(Versioned.refIsForeign))
    assert(state(Versioned.snapshot(spark, dst)) == s1)
    assert(Versioned.fastRowCount(spark, dst) == s1.size)

    // independent evolution: merge into the clone; source unchanged
    val srcBefore = state(Versioned.snapshot(spark, src))
    Versioned.mergeInto(spark, dst,
      df(Seq(("a", 1L, 42.0, false), ("a", 2L, 0.0, true)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(state(Versioned.snapshot(spark, dst)) ==
      Set(("a", 1L, 42.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))
    assert(state(Versioned.snapshot(spark, src)) == srcBefore,
      "the source must never observe the clone's writes")
    // COW localization: the touched partition (site=a) is now local,
    // untouched partitions still reference the source
    val refs = Versioned.filesAt(spark, dst)
    val (aRefs, rest) = refs.partition(r => Versioned.refRel(r).startsWith("site=a/"))
    assert(aRefs.nonEmpty && aRefs.forall(r => !Versioned.refIsForeign(r)))
    assert(rest.nonEmpty && rest.forall(Versioned.refIsForeign))
    // clone time-travels within its own history
    assert(state(Versioned.snapshot(spark, dst, 0L)) == s1)

    // pruned reads refuse while foreign refs remain
    val eP = intercept[IllegalArgumentException] {
      Versioned.prunedScan(spark, dst, Seq(PruneRange("id", 0.0, 5.0)),
        Some(SkipIndex.buildFromFooterFiles(spark,
          refs.map(r => Versioned.refPath(dst, r)), Seq("id"))))
    }
    assert(eP.getMessage.contains("OPTIMIZE"))

    // OPTIMIZE localizes everything; rows identical; v1 still travels
    val post = state(Versioned.snapshot(spark, dst))
    Versioned.optimize(spark, dst, Seq("site"))
    assert(Versioned.filesAt(spark, dst).forall(r => !Versioned.refIsForeign(r)))
    assert(state(Versioned.snapshot(spark, dst)) == post)
    assert(state(Versioned.snapshot(spark, dst, 1L)) == post)

    // a source with pending tombstones refuses to clone
    Versioned.deleteWhere(spark, src, col("id") === 10L, keyCols = Seq("id"))
    val dst2 = new java.io.File(java.nio.file.Files
      .createTempDirectory("graft_clone2").toFile, "c2").getAbsolutePath
    val eT = intercept[IllegalArgumentException] {
      Versioned.cloneAt(spark, src, dst2)
    }
    assert(eT.getMessage.contains("materializeDeletes"))
    // but an older tombstone-free version still clones
    assert(Versioned.cloneAt(spark, src, dst2, version = 1L) == 0L)
    assert(state(Versioned.snapshot(spark, dst2)) == s1)
  }

  test("commit-time stats: backfill once, commits inherit; statsPrunedRead == filter at every version; vacuum re-bases") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toFile
    dir.deleteOnExit()
    val root = dir.getAbsolutePath
    // range-clustered on id so per-file boxes are tight (pruning bites)
    df((1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i, i.toDouble)),
      "site", "id", "v")
      .repartitionByRange(4, col("id"))
      .write.mode("overwrite").partitionBy("site").parquet(root)
    Versioned.init(spark, root)

    // no stats yet: loud refusal naming the repair
    val e0 = intercept[IllegalArgumentException] { Versioned.statsAt(spark, root) }
    assert(e0.getMessage.contains("backfillStats"))

    assert(Versioned.backfillStats(spark, root, Seq("id")) == 0L)
    val nFilesV0 = Versioned.filesAt(spark, root, 0L).size
    assert(Versioned.statsAt(spark, root, 0L).count() == nFilesV0.toLong)

    // a merge with NO statsCols inherits the discipline
    Versioned.mergeInto(spark, root,
      df(Seq(("a", 50L, 50.0, false), ("a", 2L, 100.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    // the incremental sidecar covers ONLY the commit's new files
    val incFiles = spark.read.parquet(
        s"$root/_manifest/stats/v000001.inc.parquet")
      .select("file").distinct().count()
    val newAtV1 = (Versioned.filesAt(spark, root, 1L).toSet --
      Versioned.filesAt(spark, root, 0L).toSet).size
    assert(incFiles == newAtV1.toLong && incFiles < nFilesV0 + newAtV1,
      "inc sidecar must cover exactly the commit's own files, not the lake")

    def prunedIds(v: Long, lo: Double, hi: Double): Set[Long] =
      Versioned.prunedScan(spark, root, Seq(PruneRange("id", lo, hi)),
        version = v)
        .filter(col("id").between(lo, hi))
        .select("id").collect().map(_.getLong(0)).toSet
    // latest: stats-pruned == snapshot filter
    assert(prunedIds(1L, 1.0, 8.0) ==
      Versioned.snapshot(spark, root, 1L).filter(col("id").between(1, 8))
        .select("id").collect().map(_.getLong(0)).toSet)
    // pruning actually skips files on the range layout
    assert(SkipIndex.candidateFilesMulti(
        Versioned.statsAt(spark, root, 1L), Seq(("id", 1.0, 8.0))).size <
      Versioned.filesAt(spark, root, 1L).size)
    // time travel: v0's stats serve v0 even after the commit
    assert(prunedIds(0L, 1.0, 8.0) == (1L to 8L).toSet)

    // optimize inherits too (rewritten files get fresh boxes)
    Versioned.optimize(spark, root, Seq("site"))
    assert(prunedIds(2L, 1.0, 8.0) == (1L to 8L).toSet)
    assert(Versioned.statsAt(spark, root, 2L).count() ==
      Versioned.filesAt(spark, root, 2L).size.toLong)

    // metadata-only extrema from the same sidecars: exact at every
    // version, zero data/footer reads; untracked column refused
    assert(Versioned.fastMinMax(spark, root, "id") == (1.0, 50.0))
    assert(Versioned.fastMinMax(spark, root, "id", 0L) == (1.0, 40.0))
    val eMM = intercept[IllegalArgumentException] {
      Versioned.fastMinMax(spark, root, "v")
    }
    assert(eMM.getMessage.contains("backfillStats"))

    // vacuum past the base full sidecar: stats re-base at keepFrom,
    // every retained version still resolves
    Versioned.vacuum(spark, root, keepVersions = 2)
    assert(Versioned.statsAt(spark, root, 1L).count() ==
      Versioned.filesAt(spark, root, 1L).size.toLong)
    assert(prunedIds(2L, 1.0, 8.0) == (1L to 8L).toSet)
    assert(prunedIds(1L, 30.0, 60.0) ==
      Versioned.snapshot(spark, root, 1L)
        .filter(col("id").between(30, 60))
        .select("id").collect().map(_.getLong(0)).toSet)
  }

  test("concurrent appends: the loser retries its manifest CAS only — both land, no data files rewritten or orphaned") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // writer B's append commits INSIDE writer A's CAS window (one-shot
    // hook: B's own commit must not recurse)
    var fired = false
    Versioned.beforeCommitHook = () => {
      if (!fired) {
        fired = true
        Versioned.append(spark, dir,
          df(Seq(("b", 20L, 20.0)), "site", "id", "v"), Seq("site"))
      }
    }
    val vA =
      try Versioned.append(spark, dir,
        df(Seq(("a", 30L, 30.0)), "site", "id", "v"), Seq("site"))
      finally Versioned.beforeCommitHook = () => ()
    assert(vA == 2L, "the losing appender must retry and land as v2")
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0),
        ("b", 20L, 20.0), ("a", 30L, 30.0)),
      "both appends' rows must be visible")
    // appends never supersede: every physical data file is referenced
    // by the latest version — the retry wrote NO second copy
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var phys = 0
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && !p.toString.contains("/_")) phys += 1
    }
    assert(phys == Versioned.filesAt(spark, dir, 2L).size,
      "a commit-only retry must not rewrite or orphan data files")
    assert(Versioned.history(spark, dir).collect()
      .map(_.getAs[String]("operation")).toSeq ==
      Seq("append", "append", "init"))
  }

  test("concurrent merges to DISJOINT partitions: the loser retries COMMIT-ONLY — no second data write, no orphans") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // writer B merges site=b INSIDE writer A's (site=a) CAS window
    var fired = false
    Versioned.beforeCommitHook = () => {
      if (!fired) {
        fired = true
        Versioned.mergeInto(spark, dir,
          df(Seq(("b", 10L, 222.0, false)), "site", "id", "v", "__delete"),
          Seq("site"), Seq("site", "id"))
      }
    }
    // NOTE: plain mergeInto, NOT mergeIntoRetry — the disjoint loser
    // must recover inside the commit loop without a full re-resolve
    val vA =
      try Versioned.mergeInto(spark, dir,
        df(Seq(("a", 1L, 111.0, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("site", "id"))
      finally Versioned.beforeCommitHook = () => ()
    assert(vA == 2L, "the disjoint loser must land as v2 commit-only")
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 111.0), ("a", 2L, 2.0), ("b", 10L, 222.0)))
    // the loser wrote its partition ONCE: every physical file is
    // either referenced by v2 or was superseded by exactly the two
    // merges' rewrites (site=a by A, site=b by B) — no extra copy
    // from any second data job
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var phys = 0
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && !p.toString.contains("/_")) phys += 1
    }
    val referenced = (0L to 2L)
      .flatMap(Versioned.filesAt(spark, dir, _)).toSet.size
    assert(phys == referenced,
      s"commit-only retry must add no unreferenced files: $phys physical " +
        s"vs $referenced referenced across v0..v2")
    // an OVERLAPPING winner still forces the full path: same-partition
    // race surfaces concurrent-commit to mergeIntoRetry, which
    // re-resolves — both changes land, B's last
    var fired2 = false
    Versioned.beforeCommitHook = () => {
      if (!fired2) {
        fired2 = true
        Versioned.mergeInto(spark, dir,
          df(Seq(("a", 5L, 5.0, false)), "site", "id", "v", "__delete"),
          Seq("site"), Seq("site", "id"))
      }
    }
    try {
      val v = Versioned.mergeIntoRetry(spark, dir,
        df(Seq(("a", 6L, 6.0, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("site", "id"))
      assert(v == 4L, "overlapping loser re-resolves and lands after")
    } finally Versioned.beforeCommitHook = () => ()
    assert(state(Versioned.snapshot(spark, dir)).contains(("a", 5L, 5.0)) &&
      state(Versioned.snapshot(spark, dir)).contains(("a", 6L, 6.0)),
      "both overlapping merges' rows land via the full re-resolve")
  }

  test("commit-time blooms: backfill once, commits inherit sizing; point lookups == IN filter at every version; vacuum re-bases") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blooms").toFile
    dir.deleteOnExit()
    val root = dir.getAbsolutePath
    df((1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i, i.toDouble)),
      "site", "id", "v")
      .repartition(4)
      .write.mode("overwrite").partitionBy("site").parquet(root)
    Versioned.init(spark, root)
    val e0 = intercept[IllegalArgumentException] { Versioned.bloomsAt(spark, root) }
    assert(e0.getMessage.contains("backfillBlooms"))

    assert(Versioned.backfillBlooms(spark, root, Seq("id"),
      expectedPerFile = 100L, fpp = 0.01) == 0L)
    // a merge with NO parameters inherits cols AND sizing
    Versioned.mergeInto(spark, root,
      df(Seq(("a", 50L, 50.0, false), ("a", 2L, 100.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    val incFiles = spark.read.parquet(
        s"$root/_manifest/bloom/v000001.inc.parquet")
      .select("file").distinct().count()
    val newAtV1 = (Versioned.filesAt(spark, root, 1L).toSet --
      Versioned.filesAt(spark, root, 0L).toSet).size
    assert(incFiles == newAtV1.toLong,
      "bloom inc sidecar must cover exactly the commit's own files")

    def lookup(v: Long, ids: Long*): Map[Long, Double] =
      Versioned.prunedScan(spark, root, Seq(PruneIn("id", ids)),
          version = v)
        .select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lookup(1L, 2L, 50L, 777L) == Map(2L -> 100.0, 50L -> 50.0))
    // time travel: v0's blooms serve v0 — the updated row reads its
    // ORIGINAL value, the inserted key is absent
    assert(lookup(0L, 2L, 50L) == Map(2L -> 2.0))
    // the inserted key's probe actually skips the base files
    assert(BloomIndex.candidateFilesIn(spark,
        Versioned.bloomsAt(spark, root, 1L), "id", Seq(lit(50L))).size <
      Versioned.filesAt(spark, root, 1L).size)

    // optimize inherits too; vacuum re-bases the family
    Versioned.optimize(spark, root, Seq("site"))
    assert(lookup(2L, 2L, 50L) == Map(2L -> 100.0, 50L -> 50.0))
    Versioned.vacuum(spark, root, keepVersions = 2)
    assert(lookup(1L, 50L) == Map(50L -> 50.0))
    assert(lookup(2L, 2L, 50L, 777L) == Map(2L -> 100.0, 50L -> 50.0))
  }

  test("CHECK constraints: add validates existing data; merge/append enforced pre-write; NULL passes; drop lifts; survives vacuum") {
    val dir = freshLake() // (a,1,1.0), (a,2,2.0), (b,10,10.0)
    Versioned.init(spark, dir)
    // an expression the existing data violates is refused with a count
    val e0 = intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "v_big", "v > 5")
    }
    assert(e0.getMessage.contains("2 existing rows"))
    Versioned.addConstraint(spark, dir, "v_nonneg", "v >= 0")
    // NULL passes (SQL CHECK semantics): this expr is NULL for id=999
    Versioned.addConstraint(spark, dir, "null_passes",
      "CASE WHEN id = 999 THEN CAST(NULL AS BOOLEAN) ELSE true END")
    assert(Versioned.constraints(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
      .keySet == Set("v_nonneg", "null_passes"))
    // time travel: v0 had none
    assert(Versioned.constraints(spark, dir, 0L).isEmpty)

    // a violating merge batch is refused BEFORE any data write
    val vBefore = Versioned.currentVersion(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nParquet(): Int = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet") && !p.toString.contains("/_")) n += 1
      }
      n
    }
    val filesBefore = nParquet()
    val eM = intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, dir,
        df(Seq(("a", 5L, -1.0, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("site", "id"))
    }
    assert(eM.getMessage.contains("v_nonneg") &&
      eM.getMessage.contains("1 rows"))
    assert(nParquet() == filesBefore,
      "a refused batch must not have written data files")
    assert(Versioned.currentVersion(spark, dir) == vBefore)
    // a delete-only batch carries no rows to check
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 2L, -999.0, true)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    // NULL-expr rows pass; valid appends pass
    Versioned.append(spark, dir,
      df(Seq(("a", 999L, 9.0)), "site", "id", "v"), Seq("site"))
    val eA = intercept[IllegalArgumentException] {
      Versioned.append(spark, dir,
        df(Seq(("a", 6L, -2.0)), "site", "id", "v"), Seq("site"))
    }
    assert(eA.getMessage.contains("v_nonneg"))

    // constraints survive vacuum (carried in every manifest)
    Versioned.vacuum(spark, dir, keepVersions = 1)
    val eV = intercept[IllegalArgumentException] {
      Versioned.append(spark, dir,
        df(Seq(("a", 7L, -3.0)), "site", "id", "v"), Seq("site"))
    }
    assert(eV.getMessage.contains("v_nonneg"))

    // drop lifts enforcement
    Versioned.dropConstraint(spark, dir, "v_nonneg")
    Versioned.append(spark, dir,
      df(Seq(("a", 7L, -3.0)), "site", "id", "v"), Seq("site"))
    assert(state(Versioned.snapshot(spark, dir))
      .contains(("a", 7L, -3.0)))

    // RESTORE re-validates against the CURRENT rules: the negative row
    // is live now, so re-adding the constraint is refused — and after
    // deleting the row and adding the rule, restoring to the
    // violating state is refused too (a rollback must not commit a
    // table in violation)
    val vNeg = Versioned.currentVersion(spark, dir)
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 7L, 0.0, true)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    Versioned.addConstraint(spark, dir, "v_nonneg2", "v >= 0")
    val eR = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir, vNeg)
    }
    assert(eR.getMessage.contains("v_nonneg2"))
  }

  test("shallow clone inherits the source's table properties: mapping, constraints, change feed, txn high-waters") {
    val dir = freshLake()
    Versioned.init(spark, dir)                                      // v0
    Versioned.renameColumn(spark, dir, "v", "reading")              // v1
    Versioned.addConstraint(spark, dir, "id_pos", "id > 0")         // v2
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))       // v3
    Versioned.append(spark, dir,
      df(Seq(("b", 11L, 11.0)), "site", "id", "reading"), Seq("site"),
      txn = Some(("ing", 5L)))                                      // v4
    val clone = java.nio.file.Files
      .createTempDirectory("graft_cloneprops").toFile
    clone.deleteOnExit()
    val cdir = clone.getAbsolutePath
    Versioned.cloneAt(spark, dir, cdir)
    // MAPPING carried: the clone reads the source's physically-named
    // files under the LOGICAL schema (without #ren it would expose
    // the physical spelling and mis-merge every later write)
    assert(Versioned.snapshot(spark, cdir).columns.toSeq ==
      Versioned.snapshot(spark, dir).columns.toSeq)
    assert(Versioned.snapshot(spark, cdir).columns.contains("reading"))
    // CONSTRAINTS carried: the governed table's clone refuses what
    // the source refuses
    val e = intercept[IllegalArgumentException] {
      Versioned.append(spark, cdir,
        df(Seq(("c", -1L, 1.0)), "site", "id", "reading"), Seq("site"))
    }
    assert(e.getMessage.contains("id_pos"))
    // CHANGE FEED carried: the clone's first argument-less commit
    // publishes its increment (no silent feed hole)
    val cv = Versioned.mergeInto(spark, cdir,
      df(Seq(("c", 7L, 7.0, false)), "site", "id", "reading", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(Versioned.changeIncrementAt(spark, cdir, cv).get.count() == 1L)
    // TXN HIGH-WATERS carried: an exactly-once writer cut over to the
    // clone does not replay batches it already delivered to the source
    assert(Versioned.lastTxn(spark, cdir, "ing") == 5L)
    // the source never observes any of it
    assert(Versioned.currentVersion(spark, dir) == 4L)
  }

  test("change feed across RENAME/DROP: changesBetween re-spells to the range end; applyTableChanges converges a replica through the rename") {
    val dir = freshLake()
    Versioned.init(spark, dir)                                      // v0
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))       // v1
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdfren").toFile
    root.deleteOnExit()
    val replica = new java.io.File(root, "replica").getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, dir, 1L),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    // a merge BEFORE the rename (its increment carries 'v' on disk)
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v2
    Versioned.renameColumn(spark, dir, "v", "reading")              // v3
    // a merge and a MOR delete AFTER (increments carry 'reading')
    Versioned.mergeInto(spark, dir,
      df(Seq(("c", 7L, 7.0, false)), "site", "id", "reading", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v4
    Versioned.deleteWhere(spark, dir, col("id") === 2L,
      keyCols = Seq("site", "id"))                                  // v5
    // batch read: ONE schema — the range end's — for the whole range
    val ch = Versioned.changesBetween(spark, dir, 1L, 5L)
    assert(ch.columns.contains("reading") && !ch.columns.contains("v"),
      s"pre-rename increments must be re-spelled, got ${ch.columns.toSeq}")
    assert(ch.filter(col("_commit_version") === 2L &&
        col("_action") === "update_postimage")
      .select("reading").collect().map(_.getDouble(0)).toSeq == Seq(100.0),
      "the v2 increment's physical 'v' values surface under 'reading'")
    // replica seeded pre-rename converges THROUGH the rename: the
    // rename mirrors onto it, increments apply under their own names
    val cur = Versioned.applyTableChanges(spark, dir, replica,
      Seq("site"), sinceV = 1L)
    assert(cur == 5L)
    val rep = Versioned.snapshot(spark, replica)
    assert(rep.columns.sorted.toSeq ==
      Versioned.snapshot(spark, dir).columns.sorted.toSeq)
    assert(rep.select("site", "id", "reading").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet ==
      Versioned.snapshot(spark, dir).select("site", "id", "reading")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet,
      "replica == source through a mid-range rename")
    // a DROP mid-range prunes the column from earlier increments too
    Versioned.dropColumn(spark, dir, "reading")                     // v6
    Versioned.mergeInto(spark, dir,
      df(Seq(("d", 9L, false)), "site", "id", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v7
    val ch2 = Versioned.changesBetween(spark, dir, 1L, 7L)
    assert(!ch2.columns.contains("reading") && !ch2.columns.contains("v"),
      s"dropped physical must vanish from the whole range, got ${ch2.columns.toSeq}")
  }

  test("a VERSIONED replica mirrors RENAME/DROP metadata-only and converges across them") {
    val dir = freshLake()
    Versioned.init(spark, dir)                                      // v0
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))       // v1
    val root = java.nio.file.Files
      .createTempDirectory("graft_vrepl").toFile
    root.deleteOnExit()
    val replica = new java.io.File(root, "replica").getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, dir, 1L),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)                                  // rep v0
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 100.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v2
    Versioned.renameColumn(spark, dir, "v", "val")                  // v3
    Versioned.mergeInto(spark, dir,
      df(Seq(("c", 7L, 7.0, false)), "site", "id", "val", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v4
    Versioned.deleteWhere(spark, dir, col("id") === 2L,
      keyCols = Seq("site", "id"))                                  // v5
    val cur = Versioned.applyTableChanges(spark, dir, replica,
      Seq("site"), sinceV = 1L)
    assert(cur == 5L)
    // converged, under the new name
    assert(Versioned.snapshot(spark, replica).columns.contains("val"))
    assert(state(Versioned.snapshot(spark, replica)
        .withColumnRenamed("val", "v")) ==
      state(Versioned.snapshot(spark, dir)
        .withColumnRenamed("val", "v")))
    // the mirrored rename is replica v2 (after one merge commit) and
    // moved ZERO files — renames are metadata on both sides
    assert(Versioned.filesAt(spark, replica, 2L) ==
      Versioned.filesAt(spark, replica, 1L),
      "mirrored rename must be metadata-only on the replica")
    // a DROP mirrors metadata-only too, and later increments apply
    Versioned.dropColumn(spark, dir, "val")                         // v6
    Versioned.mergeInto(spark, dir,
      df(Seq(("d", 9L, false)), "site", "id", "__delete"),
      Seq("site"), Seq("site", "id"))                               // v7
    Versioned.applyTableChanges(spark, dir, replica,
      Seq("site"), sinceV = 5L)
    assert(!Versioned.snapshot(spark, replica).columns.contains("val"))
    assert(Versioned.snapshot(spark, replica)
      .select("site", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Versioned.snapshot(spark, dir).select("site", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("vacuumRetain: time-based retention maps the cutoff to a version suffix; current always survives") {
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)                    // v0
    Versioned.append(spark, dir,
      df(Seq(("a", 21L, 1.0)), "site", "id", "v"), Seq("site"),
      commitTs = 2000L)                                             // v1
    Versioned.append(spark, dir,
      df(Seq(("a", 22L, 1.0)), "site", "id", "v"), Seq("site"),
      commitTs = 3000L)                                             // v2
    Versioned.append(spark, dir,
      df(Seq(("a", 23L, 1.0)), "site", "id", "v"), Seq("site"),
      commitTs = 4000L)                                             // v3
    // cutoff = 4500 - 1500 = 3000: v2 (ts 3000) and v3 (ts 4000) stay
    Versioned.vacuumRetain(spark, dir, retainMillis = 1500L,
      nowMillis = 4500L)
    assert(Versioned.snapshot(spark, dir, 2L).count() == 5L)
    assert(Versioned.snapshot(spark, dir).count() == 6L)
    intercept[Exception] { Versioned.filesAt(spark, dir, 1L) }
    // a cutoff older than everything keeps everything
    Versioned.vacuumRetain(spark, dir, retainMillis = 100000L,
      nowMillis = 4500L)
    assert(Versioned.snapshot(spark, dir, 2L).count() == 5L)
    // retain 0 keeps only the current version
    Versioned.vacuumRetain(spark, dir, retainMillis = 0L,
      nowMillis = 9000L)
    assert(Versioned.snapshot(spark, dir).count() == 6L)
    intercept[Exception] { Versioned.filesAt(spark, dir, 2L) }
  }

  test("partition spec as a table property: declare, enforce, re-spec by rewrite, travel across, restore refusal") {
    // after the re-spec, `id` reads back from the partition PATH as
    // int32 — widen instead of getLong
    def stateN(d: org.apache.spark.sql.DataFrame): Set[(String, Long, Double)] =
      d.select("site", "id", "v").collect()
        .map(r => (r.getString(0), r.getAs[Number](1).longValue(),
          r.getDouble(2))).toSet
    val dir = freshLake()
    Versioned.init(spark, dir)                                      // v0
    assert(Versioned.partitionSpec(spark, dir).isEmpty,
      "legacy tables are undeclared")
    // declaring the CURRENT layout is metadata-only
    val before = Versioned.filesAt(spark, dir, 0L)
    assert(Versioned.changePartitionSpec(spark, dir, Seq("site")) == 1L)
    assert(Versioned.filesAt(spark, dir, 1L) == before,
      "declaring the current layout must not rewrite")
    assert(Versioned.partitionSpec(spark, dir).contains(Seq("site")))
    // the property ENFORCES: a stale-keyed writer is refused by name
    val e = intercept[IllegalArgumentException] {
      Versioned.append(spark, dir,
        df(Seq(("a", 31L, 1.0)), "site", "id", "v"), Seq("site", "id"))
    }
    assert(e.getMessage.contains("declared spec"))
    // pending MOR tombstones fold away in the re-spec rewrite
    Versioned.deleteWhere(spark, dir, col("id") === 2L,
      keyCols = Seq("site", "id"))                                  // v2
    val preSwitch = stateN(Versioned.snapshot(spark, dir))
    val vSpec = Versioned.changePartitionSpec(spark, dir, Seq("id")) // v3
    assert(vSpec == 3L)
    assert(Versioned.deleteFilesAt(spark, dir, vSpec).isEmpty,
      "the re-spec rewrite materializes pending tombstones")
    assert(stateN(Versioned.snapshot(spark, dir)) == preSwitch,
      "re-spec is layout-only")
    assert(Versioned.filesAt(spark, dir, vSpec)
      .forall(_.startsWith("id=")), "new layout keys the directories")
    // old versions travel under their OWN layout
    assert(stateN(Versioned.snapshot(spark, dir, 1L)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    // writes under the new spec work; the old spec is refused
    Versioned.mergeInto(spark, dir,
      df(Seq(("c", 7L, 7.0, false)), "site", "id", "v", "__delete"),
      Seq("id"), Seq("id"))                                         // v4
    assert(stateN(Versioned.snapshot(spark, dir)).contains(("c", 7L, 7.0)))
    val e2 = intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, dir,
        df(Seq(("c", 8L, 8.0, false)), "site", "id", "v", "__delete"),
        Seq("site"), Seq("id"))
    }
    assert(e2.getMessage.contains("declared spec"))
    // restore across the re-spec is refused (old-layout files under
    // the new spec's meta would lie)
    val e3 = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir, 1L)
    }
    assert(e3.getMessage.contains("partition-spec"))
    // restore WITHIN the spec works
    Versioned.restore(spark, dir, vSpec)                            // v5
    assert(stateN(Versioned.snapshot(spark, dir)) == preSwitch)
    // the property demands reader protocol 3, named
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = new org.apache.hadoop.fs.Path(dir,
      f"_manifest/v${Versioned.currentVersion(spark, dir)}%06d.delta.txt")
    val lines = {
      val in = fs.open(latest)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(lines.exists(l => l.startsWith("#ver 3") &&
      l.contains("partition-spec")),
      s"partition spec demands reader protocol 3, got ${lines.take(2)}")
    // a clone inherits the spec
    val clone = java.nio.file.Files
      .createTempDirectory("graft_clonespec").toFile
    clone.deleteOnExit()
    Versioned.cloneAt(spark, dir, clone.getAbsolutePath)
    assert(Versioned.partitionSpec(spark, clone.getAbsolutePath)
      .contains(Seq("id")))
  }

  test("generated columns: absent computed, present validated; hidden partitioning via changePartitionSpec; guard rails") {
    def stateB(d: org.apache.spark.sql.DataFrame): Set[(String, Long, Double, Long)] =
      d.select("site", "id", "v", "bucket").collect()
        .map(r => (r.getString(0), r.getAs[Number](1).longValue(),
          r.getDouble(2), r.getAs[Number](3).longValue())).toSet
    val dir = freshLake()
    Versioned.init(spark, dir)                                      // v0
    // declaring over an ABSENT column rewrites once, computing it
    assert(Versioned.addGeneratedColumn(spark, dir, "bucket",
      "pmod(id, 2)") == 1L)                                         // v1
    assert(stateB(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 1.0, 1L), ("a", 2L, 2.0, 0L), ("b", 10L, 10.0, 0L)))
    assert(!Versioned.snapshot(spark, dir, 0L).columns.contains("bucket"),
      "old versions travel without the generated column")
    // a batch WITHOUT the column gets it computed
    Versioned.append(spark, dir,
      df(Seq(("a", 3L, 3.0)), "site", "id", "v"), Seq("site"))      // v2
    assert(stateB(Versioned.snapshot(spark, dir))
      .contains(("a", 3L, 3.0, 1L)))
    // a batch that DISAGREES with the rule is refused by name
    val e = intercept[IllegalArgumentException] {
      Versioned.append(spark, dir,
        df(Seq(("a", 4L, 4.0, 7L)), "site", "id", "v", "bucket"),
        Seq("site"))
    }
    assert(e.getMessage.contains("GENERATED ALWAYS AS"))
    // HIDDEN PARTITIONING: re-key onto the generated column — writers
    // still never spell it
    Versioned.changePartitionSpec(spark, dir, Seq("bucket"))        // v3
    Versioned.mergeInto(spark, dir,
      df(Seq(("c", 7L, 7.0, false)), "site", "id", "v", "__delete"),
      Seq("bucket"), Seq("site", "id"))                             // v4
    assert(stateB(Versioned.snapshot(spark, dir))
      .contains(("c", 7L, 7.0, 1L)))
    assert(Versioned.filesAt(spark, dir).forall(_.startsWith("bucket=")))
    // declaring over an EXISTING agreeing column is metadata-only;
    // a disagreeing rule is refused
    val before = Versioned.filesAt(spark, dir)
    Versioned.addGeneratedColumn(spark, dir, "v", "v")              // v5
    assert(Versioned.filesAt(spark, dir) == before)
    Versioned.dropGeneratedColumn(spark, dir, "v")                  // v6
    val e2 = intercept[IllegalArgumentException] {
      Versioned.addGeneratedColumn(spark, dir, "v", "v + 1")
    }
    assert(e2.getMessage.contains("disagree"))
    // a column a rule references cannot be renamed from under it
    val e3 = intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "id", "ident")
    }
    assert(e3.getMessage.contains("generated"))
    // a clone inherits the rules; dropping lifts them
    val clone = java.nio.file.Files
      .createTempDirectory("graft_clonegen").toFile
    clone.deleteOnExit()
    Versioned.cloneAt(spark, dir, clone.getAbsolutePath)
    assert(Versioned.generatedColumns(spark, clone.getAbsolutePath)
      .contains("bucket"))
    Versioned.dropGeneratedColumn(spark, dir, "bucket")             // v7
    Versioned.append(spark, dir,
      df(Seq(("d", 9L, 9.0, 42L)), "site", "id", "v", "bucket"),
      Seq("bucket"))                                                // v8
    assert(stateB(Versioned.snapshot(spark, dir))
      .contains(("d", 9L, 9.0, 42L)), "lifted rule stops validating")
  }

  test("OPTIMIZE ZORDER with a byte target: re-cluster and size compose in one pass") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    (1 to 3).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("a", 100L + i, i.toDouble), ("b", 200L + i, i.toDouble)),
          "site", "id", "v"), Seq("site"))
    }
    val pre = state(Versioned.snapshot(spark, dir))
    val nFilesPre = Versioned.filesAt(spark, dir).size
    val v = Versioned.optimize(spark, dir, Seq("site"),
      zorder = Some(col("id")),
      targetFileSizeBytes = Some(8L * 1024 * 1024))
    assert(state(Versioned.snapshot(spark, dir)) == pre,
      "zorder+target is layout-only")
    assert(Versioned.filesAt(spark, dir, v).size < nFilesPre,
      "the sized re-cluster must compact the small files")
    assert(state(Versioned.snapshot(spark, dir, v - 1)) == pre,
      "pre-optimize version still travels")
  }

  test("MOR merge (scoped tombstones): == COW merge == recompute; zero partition rewrites; own inserts survive; chains; materializes away") {
    val dirM = freshLake()
    val dirC = freshLake()
    Versioned.init(spark, dirM)
    Versioned.init(spark, dirC)
    val batch = df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true),
      ("c", 7L, 7.0, false)), "site", "id", "v", "__delete")
    val vM = Versioned.mergeIntoMor(spark, dirM, batch, Seq("site"),
      Seq("site", "id"))
    Versioned.mergeInto(spark, dirC, batch, Seq("site"), Seq("site", "id"))
    assert(state(Versioned.snapshot(spark, dirM)) ==
      state(Versioned.snapshot(spark, dirC)),
      "MOR and COW merges must resolve identically")
    assert(state(Versioned.snapshot(spark, dirM)) == Set(
      ("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))
    // ZERO rewrites: every v0 file is still referenced at vM
    assert(Versioned.filesAt(spark, dirM, 0L).toSet
      .subsetOf(Versioned.filesAt(spark, dirM, vM).toSet),
      "MOR merge must not rewrite or drop any existing file")
    // the tombstone is scoped: protocol floor is 4 while pending
    assert(Versioned.deleteFilesAt(spark, dirM, vM)
      .exists(_.matches(".* @\\d+$")), "the #del entry must carry @bound")
    // time travel: v0 reads pre-merge
    assert(state(Versioned.snapshot(spark, dirM, 0L)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    // CHAINING: a second MOR merge on the SAME key — the second
    // tombstone must hide the first merge's insert (pre-bound file)
    // while the second's own insert survives
    val v2 = Versioned.mergeIntoMor(spark, dirM,
      df(Seq(("a", 1L, 500.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(state(Versioned.snapshot(spark, dirM)) == Set(
      ("a", 1L, 500.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))
    assert(state(Versioned.snapshot(spark, dirM, vM)) == Set(
      ("a", 1L, 100.0), ("b", 10L, 10.0), ("c", 7L, 7.0)),
      "the first MOR state still time-travels")
    // a plain append with a TOMBSTONED key is fine under scoped
    // tombstones (its files post-date every bound)
    Versioned.append(spark, dirM, df(Seq(("a", 2L, 22.0)), "site", "id", "v"),
      Seq("site"))
    assert(state(Versioned.snapshot(spark, dirM)).contains(("a", 2L, 22.0)))
    // cross a CHECKPOINT boundary (every 10th commit): the exemption
    // set must keep resolving through the checkpoint's full listing
    (1 to 8).foreach { i =>
      Versioned.append(spark, dirM,
        df(Seq(("b", 1000L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    assert(Versioned.currentVersion(spark, dirM) >= 10L)
    assert(state(Versioned.snapshot(spark, dirM))
      .contains(("a", 1L, 500.0)), "scoped filter must survive a checkpoint")
    // materialization folds the tombstones; state unchanged
    val pre = state(Versioned.snapshot(spark, dirM))
    Versioned.materializeDeletes(spark, dirM, Seq("site"))
    assert(Versioned.deleteFilesAt(spark, dirM).isEmpty)
    assert(state(Versioned.snapshot(spark, dirM)) == pre)
    assert(Versioned.fastRowCount(spark, dirM) == pre.size.toLong)
    // and v2 still travels correctly AFTER materialization
    assert(state(Versioned.snapshot(spark, dirM, v2)) == Set(
      ("a", 1L, 500.0), ("b", 10L, 10.0), ("c", 7L, 7.0)))
  }

  test("MOR merge: OPTIMIZE small-file pass folds scoped tombstones (no resurrection); COW interplay preserves bounds; restore/vacuum guards") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    val v1 = Versioned.mergeIntoMor(spark, dir,
      df(Seq(("a", 1L, 100.0, false), ("b", 77L, 77.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    // OPTIMIZE (small-file pass) rewrites partitions into files added
    // AFTER the bound — without folding the tombstone in, (a,1,1.0)
    // would resurrect
    val vOpt = Versioned.optimize(spark, dir, Seq("site"))
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 100.0), ("a", 2L, 2.0), ("b", 10L, 10.0), ("b", 77L, 77.0)),
      "compaction must not resurrect scope-tombstoned rows")
    assert(state(Versioned.snapshot(spark, dir, v1)) ==
      state(Versioned.snapshot(spark, dir, vOpt)), "layout-only")
    // COW merge interplay under a PENDING scoped tombstone:
    val dir2 = freshLake()
    Versioned.init(spark, dir2)
    Versioned.mergeIntoMor(spark, dir2,
      df(Seq(("a", 1L, 100.0, false), ("b", 10L, 200.0, false)),
        "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    // batch conflicts with key (a,1) but not (b,10): the conflicting
    // key materializes into the rewrite, the surviving keys re-commit
    // UNDER THEIR ORIGINAL BOUND (an unscoped rewrite would hide
    // (b,10,200.0), the earlier merge's own insert)
    Versioned.mergeInto(spark, dir2,
      df(Seq(("a", 1L, 111.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    assert(state(Versioned.snapshot(spark, dir2)) == Set(
      ("a", 1L, 111.0), ("a", 2L, 2.0), ("b", 10L, 200.0)),
      "the surviving scoped tombstone must keep its bound through the rewrite")
    assert(Versioned.deleteFilesAt(spark, dir2)
      .exists(_.matches(".* @\\d+$")),
      "the re-written remaining tombstone must stay scoped")
    // restore across pending scoped tombstones is refused (re-added
    // files would post-date the bound and resurrect)
    val er = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir2, 0L)
    }
    assert(er.getMessage.contains("SCOPED tombstones"))
    // vacuum past a pending bound is refused with the repair named
    val dir3 = freshLake()
    Versioned.init(spark, dir3)
    (1 to 3).foreach { i =>
      Versioned.append(spark, dir3,
        df(Seq(("a", 100L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    Versioned.mergeIntoMor(spark, dir3,
      df(Seq(("a", 1L, 9.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id")) // v4, bound 4
    (1 to 3).foreach { i =>
      Versioned.append(spark, dir3,
        df(Seq(("b", 200L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    val ev = intercept[IllegalArgumentException] {
      Versioned.vacuum(spark, dir3, keepVersions = 2)
    }
    assert(ev.getMessage.contains("materializeDeletes"))
    // retention that keeps the manifests back past the bound is fine,
    // and reads still resolve the exemption set afterwards
    Versioned.vacuum(spark, dir3, keepVersions = 5) // keeps v3..v7
    assert(state(Versioned.snapshot(spark, dir3)).contains(("a", 1L, 9.0)))
  }

  test("stats sidecars carry per-file bytes: binpack sizing is metadata-only under coverage; old sidecars and bare lakes fall back") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.backfillStats(spark, dir, Seq("id"))
    (1 to 3).foreach { i => // inherit stats (and bytes) per commit
      Versioned.append(spark, dir,
        df(Seq(("a", 100L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    // the sidecar's bytes are the files' real sizes
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Versioned.statsAt(spark, dir).groupBy("file")
      .agg(max("bytes").as("b")).collect().foreach { r =>
        assert(r.getLong(1) ==
          fs.getFileStatus(new org.apache.hadoop.fs.Path(r.getString(0))).getLen,
          s"sidecar bytes must equal the file's size: ${r.getString(0)}")
      }
    val pre = state(Versioned.snapshot(spark, dir))
    val (_, dirProbes) = probed(Versioned.optimizeFileStatProbes)(
      Versioned.optimize(spark, dir, Seq("site"),
        targetFileSizeBytes = Some(8L * 1024 * 1024)))
    assert(dirProbes == 0,
      "byte sizing must be metadata-only when the sidecars cover the files")
    assert(state(Versioned.snapshot(spark, dir)) == pre)
    // a lake WITHOUT the stats discipline is STILL metadata-only: the
    // manifests' own #bytes rail covers every rail-era commit
    val dir2 = freshLake()
    Versioned.init(spark, dir2)
    (1 to 2).foreach { i =>
      Versioned.append(spark, dir2,
        df(Seq(("a", 100L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    val (_, dir2Probes) = probed(Versioned.optimizeFileStatProbes)(
      Versioned.optimize(spark, dir2, Seq("site"),
        targetFileSizeBytes = Some(8L * 1024 * 1024)))
    assert(dir2Probes == 0,
      "no sidecars, but the manifest #bytes rail must carry the sizing")
    // PRE-RAIL manifests (no #bytes lines) without sidecars: the
    // per-file getFileStatus fallback carries the sizing
    val dir2b = freshLake()
    Versioned.init(spark, dir2b)
    (1 to 2).foreach { i =>
      Versioned.append(spark, dir2b,
        df(Seq(("a", 100L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    stripManifestSizes(dir2b)
    val (_, dir2bProbes) = probed(Versioned.optimizeFileStatProbes)(
      Versioned.optimize(spark, dir2b, Seq("site"),
        targetFileSizeBytes = Some(8L * 1024 * 1024)))
    assert(dir2bProbes > 0,
      "pre-rail manifests and no sidecars -> the getFileStatus " +
        "fallback must carry the sizing")
    // OLD sidecars (written before the bytes column) keep working:
    // statsAt reads bytes = -1 (unknown) and optimize falls back
    val dir3 = freshLake()
    Versioned.init(spark, dir3)
    Versioned.backfillStats(spark, dir3, Seq("id"))
    val scPath = new org.apache.hadoop.fs.Path(dir3,
      "_manifest/stats/v000000.full.parquet").toString
    val legacy = spark.read.parquet(scPath).drop("bytes")
    val rows = legacy.collect().toSeq
    val sch = legacy.schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), sch)
      .coalesce(1).write.mode("overwrite").parquet(scPath)
    assert(Versioned.statsAt(spark, dir3)
      .filter(col("bytes") =!= -1L).isEmpty,
      "a pre-bytes sidecar reads as unknown, not as an error")
    stripManifestSizes(dir3) // pre-rail manifests too
    val (_, dir3Probes) = probed(Versioned.optimizeFileStatProbes)(
      Versioned.optimize(spark, dir3, Seq("site"),
        targetFileSizeBytes = Some(8L * 1024 * 1024)))
    assert(dir3Probes > 0,
      "unknown bytes -> fallback, never a wrong plan")
  }

  test("type widening (#schema pin): metadata-only int->long and float->double, mixed-era files read wide, travel keeps the narrow type, refusal matrix, clones inherit the pin") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_widen").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "lake").getAbsolutePath
    MergeData.writeMerged(spark,
      df(Seq(("a", 1, 1.5f), ("b", 2, 2.5f)), "site", "id", "v"),
      dir, keys = Seq("site"))
    Versioned.init(spark, dir, commitTs = 1000L)
    val vNarrow = Versioned.currentVersion(spark, dir)
    assert(Versioned.snapshot(spark, dir).schema("id").dataType == IntegerType)
    // the widen is ONE metadata commit — zero data files change
    val filesBefore = Versioned.filesAt(spark, dir)
    val vW = Versioned.widenColumn(spark, dir, "id", LongType)
    assert(Versioned.filesAt(spark, dir, vW) == filesBefore,
      "widening must touch no data file")
    assert(Versioned.snapshot(spark, dir).schema("id").dataType == LongType)
    // a post-widen append carries values only the wide type can hold;
    // pre-widen (int) and post-widen (long) files then READ AS ONE
    // SCAN under the pin (footer inference would refuse to merge them)
    Versioned.append(spark, dir,
      df(Seq(("a", 5000000000L, 3.5f)), "site", "id", "v"), Seq("site"))
    val got = Versioned.snapshot(spark, dir)
      .agg(sum(col("id")).as("s"), count(lit(1)).as("n")).head()
    assert(got.getLong(0) == 5000000003L && got.getLong(1) == 3L)
    // a NARROW writer batch after the widen is cast up at the write
    Versioned.append(spark, dir,
      df(Seq(("b", 7, 4.5f)), "site", "id", "v"), Seq("site"))
    assert(Versioned.snapshot(spark, dir)
      .filter(col("id") === 7L).count() == 1L)
    // float -> double stacks on the same pin
    Versioned.widenColumn(spark, dir, "v", DoubleType)
    assert(Versioned.snapshot(spark, dir).schema("v").dataType == DoubleType)
    assert(math.abs(Versioned.snapshot(spark, dir)
      .agg(sum(col("v"))).head().getDouble(0) - 12.0) < 1e-9)
    // TRAVEL: the pre-widen version still reads under its own (narrow)
    // meta — no pin, plain inference, int type
    assert(Versioned.snapshot(spark, dir, vNarrow)
      .schema("id").dataType == IntegerType,
      "pre-widen versions must travel under their own type")
    // the fast format path reads the same pin (vectorized promotion)
    val fast = spark.read.format("graft").load(dir)
    assert(fast.schema("id").dataType == LongType)
    assert(fast.agg(sum(col("id"))).head().getLong(0) == 5000000010L)
    // REFUSAL MATRIX: narrowing, string<->numeric, long->double
    val eNarrow = intercept[IllegalArgumentException] {
      Versioned.widenColumn(spark, dir, "id", IntegerType) }
    assert(eNarrow.getMessage.contains("LOSSLESS"), eNarrow.getMessage)
    intercept[IllegalArgumentException] {
      Versioned.widenColumn(spark, dir, "id", StringType) }
    intercept[IllegalArgumentException] {
      Versioned.widenColumn(spark, dir, "site", LongType) } // string->num and partition col
    intercept[IllegalArgumentException] {
      Versioned.widenColumn(spark, dir, "id", DoubleType) } // long->double is lossy
    // the PRUNED read paths read mixed-width survivors under the pin
    // too (plain inference would sample whichever footer came first)
    Versioned.backfillStats(spark, dir, Seq("id"))
    val pruned = Versioned.prunedScan(spark, dir,
      Seq(PruneRange("id", 4.0e9, 6.0e9)))
    assert(pruned.select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(5000000000L),
      "prunedScan must serve widened tables exactly")
    // clones inherit the pin (their foreign files include narrow ones)
    val cloneDir = new java.io.File(root, "clone").getAbsolutePath
    Versioned.cloneAt(spark, dir, cloneDir)
    assert(Versioned.snapshot(spark, cloneDir).schema("id").dataType ==
      LongType)
    assert(Versioned.snapshot(spark, cloneDir)
      .agg(sum(col("id"))).head().getLong(0) == 5000000010L)
  }

  test("scoped ZORDER rewrites (OPTIMIZE WHERE / incremental stripe) CARRY the #del lines — MOR-deleted rows in untouched bulk files never resurrect") {
    import org.apache.spark.sql.functions.input_file_name
    val dir = freshLake() // partitions a, b
    Versioned.init(spark, dir, commitTs = 1000L)
    // fragment both partitions so a scoped optimize has work
    (1 to 2).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("a", 100L + i, i.toDouble), ("b", 200L + i, i.toDouble)),
          "site", "id", "v"), Seq("site"), commitTs = 1000L + i)
    }
    // a deletion vector hides rows in BOTH partitions
    Versioned.deleteWhereVectors(spark, dir, col("id") % 2 === 0L,
      commitTs = 1010L)
    val visible = state(Versioned.snapshot(spark, dir))
    assert(!visible.exists(_._2 % 2 == 0))
    // a WHERE-scoped ZORDER pass touches ONLY site=a: the r15 review
    // bug dropped every #del line here, resurrecting site=b's deleted
    // rows through the carried bulk files
    Versioned.optimize(spark, dir, Seq("site"),
      zorder = Some(col("id")),
      partitionFilter = Some(Map("site" -> "a")))
    assert(state(Versioned.snapshot(spark, dir)) == visible,
      "a scoped ZORDER must not resurrect MOR-deleted rows elsewhere")
    assert(Versioned.deleteFilesAt(spark, dir).nonEmpty,
      "the scoped pass must CARRY the pending #del lines")
    // the incremental-clustering stripe pass (onlyFiles) is the same
    // shape: cluster, stamp, DV-delete in the bulk, append a stripe,
    // incremental OPTIMIZE — the bulk's deleted rows stay gone
    Versioned.setClusterBy(spark, dir, Seq("id"))
    graft.sources.GraftOptimizeCommand(dir, Nil).run(spark) // full + stamp
    Versioned.deleteWhereVectors(spark, dir, col("id") === 1L,
      commitTs = 1020L)
    val visible2 = state(Versioned.snapshot(spark, dir))
    Versioned.append(spark, dir,
      df(Seq(("a", 901L, 9.0)), "site", "id", "v"), Seq("site"),
      commitTs = 1021L)
    graft.sources.GraftOptimizeCommand(dir, Nil).run(spark) // stripe only
    assert(state(Versioned.snapshot(spark, dir)) ==
      visible2 + (("a", 901L, 9.0)),
      "the incremental stripe must not resurrect bulk deletes")
    // a FULL re-layout folds the MOR state away as before
    graft.sources.GraftOptimizeCommand(dir, Nil, full = true).run(spark)
    assert(Versioned.deleteFilesAt(spark, dir).isEmpty,
      "a FULL re-cluster still folds the #del lines into the data")
    assert(state(Versioned.snapshot(spark, dir)) ==
      visible2 + (("a", 901L, 9.0)))
  }

  test("widening a bloom-covered column re-bases the bloom family without it (type-bound hashes would false-negative) — probes stay correct, re-ANALYZE re-establishes") {
    import org.apache.spark.sql.types.LongType
    val root = java.nio.file.Files.createTempDirectory("graft_widbloom").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "lake").getAbsolutePath
    MergeData.writeMerged(spark,
      df(Seq(("a", 7, 1.0), ("b", 8, 2.0)), "site", "uid", "v"),
      dir, keys = Seq("site"))
    Versioned.init(spark, dir, commitTs = 1000L)
    Versioned.backfillBlooms(spark, dir, Seq("uid", "v"),
      expectedPerFile = 100L)
    // pre-widen, the bloom prunes uid probes
    assert(state2(Versioned.prunedScan(spark, dir,
      Seq(PruneIn("uid", Seq(7))))) == Set(("a", 7L, 1.0)))
    Versioned.widenColumn(spark, dir, "uid", LongType)
    // the family re-based WITHOUT uid: remaining coverage intact,
    // uid probes stop pruning (correct, never a false negative)
    val cols = Versioned.bloomsAt(spark, dir).select("col").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cols == Set("v"),
      s"the widened column's type-bound blooms must drop (got $cols)")
    // re-ANALYZE rebuilds over the WIDE type — a long-range probe hits
    Versioned.append(spark, dir,
      df(Seq(("a", 6000000000L, 3.0)), "site", "uid", "v"), Seq("site"))
    Versioned.backfillBlooms(spark, dir, Seq("uid"),
      expectedPerFile = 100L)
    assert(state2(Versioned.prunedScan(spark, dir,
      Seq(PruneIn("uid", Seq(6000000000L))))) == Set(("a", 6000000000L, 3.0)))
    assert(state2(Versioned.prunedScan(spark, dir,
      Seq(PruneIn("uid", Seq(7L))))) == Set(("a", 7L, 1.0)),
      "pre-widen values must still be found under the rebuilt blooms")
  }

  private def state2(d: org.apache.spark.sql.DataFrame): Set[(String, Long, Double)] =
    d.select("site", "uid", "v").collect()
      .map(r => (r.getString(0), // uid reads int pre-widen, long after
        r.get(1).asInstanceOf[Number].longValue(), r.getDouble(2))).toSet

  test("widening the ONLY bloom-tracked column drops the family via a zero-row marker: pre-widen versions keep time-traveled coverage, post-widen refuses with the backfill repair, inheritance stops, re-backfill re-establishes") {
    import org.apache.spark.sql.types.LongType
    val root = java.nio.file.Files.createTempDirectory("graft_widmark").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "lake").getAbsolutePath
    MergeData.writeMerged(spark,
      df(Seq(("a", 7, 1.0), ("b", 8, 2.0)), "site", "uid", "v"),
      dir, keys = Seq("site"))
    Versioned.init(spark, dir, commitTs = 1000L)
    val vB = Versioned.backfillBlooms(spark, dir, Seq("uid"),
      expectedPerFile = 100L)
    assert(state2(Versioned.prunedScan(spark, dir,
      Seq(PruneIn("uid", Seq(7))))) == Set(("a", 7L, 1.0)))
    Versioned.widenColumn(spark, dir, "uid", LongType)
    // post-widen: the family is DROPPED (type-bound hashes would
    // false-negative) — reads refuse with the repair named
    val e = intercept[IllegalArgumentException] {
      Versioned.bloomsAt(spark, dir) }
    assert(e.getMessage.contains("backfillBlooms"), e.getMessage)
    // the marker did NOT destroy history: the pre-widen version still
    // time-travels under its own coverage (the pre-r16 root delete
    // wiped this — and did so BEFORE the commit CAS)
    assert(Versioned.bloomsAt(spark, dir, vB).select("col").distinct()
      .collect().map(_.getString(0)).toSet == Set("uid"),
      "pre-widen bloom coverage must survive the widen")
    // inheritance stopped at the marker: a post-widen append neither
    // crashes on the empty family nor resurrects it
    Versioned.append(spark, dir,
      df(Seq(("a", 6000000000L, 3.0)), "site", "uid", "v"), Seq("site"))
    assert(intercept[IllegalArgumentException] {
      Versioned.bloomsAt(spark, dir) }.getMessage.contains("backfillBlooms"))
    // re-ANALYZE over the WIDE type re-establishes from scratch
    Versioned.backfillBlooms(spark, dir, Seq("uid"),
      expectedPerFile = 100L)
    assert(state2(Versioned.prunedScan(spark, dir,
      Seq(PruneIn("uid", Seq(7L))))) == Set(("a", 7L, 1.0)))
    assert(state2(Versioned.prunedScan(spark, dir,
      Seq(PruneIn("uid", Seq(6000000000L))))) == Set(("a", 6000000000L, 3.0)))
  }

  test("a FAILED replace deletes its staged anchor: the version counter holds, and the next successful definition's zero-file reads serve ITS schema — never the failed replace's") {
    import org.apache.spark.sql.types._
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)
    val v0 = Versioned.currentVersion(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaRoot = new org.apache.hadoop.fs.Path(dir, "_schema")
    def anchorCount(): Int =
      if (!fs.exists(schemaRoot)) 0 else fs.listStatus(schemaRoot).length
    val before = anchorCount()
    // the replacing rows lack the new schema's columns: staging fails
    // AFTER the anchor write — exactly the orphan window
    intercept[org.apache.spark.sql.AnalysisException] {
      Versioned.replaceTable(spark, dir,
        StructType(Seq(StructField("x", LongType), StructField("y", StringType))),
        Nil, rows = Some(df(Seq(("a", 1L, 1.0)), "site", "id", "v")))
    }
    assert(anchorCount() == before,
      "a failed replace must delete its own staged (attempt-unique) " +
        "anchor — no _schema debris")
    assert(Versioned.currentVersion(spark, dir) == v0,
      "a failed replace must not move the version counter")
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)),
      "the original table must be byte-identical after the failed replace")
    // the NEXT definition to take v+1 owns its zero-file reads
    val good = StructType(Seq(
      StructField("k", StringType), StructField("n", LongType)))
    val v1 = Versioned.replaceTable(spark, dir, good, Nil)
    assert(v1 == v0 + 1)
    assert(Versioned.snapshot(spark, dir, v1).columns.toSeq == Seq("k", "n"),
      "the successful replace's empty read must serve ITS schema")
  }

  test("manifest #bytes rail: fileSizesAt is metadata-only for rail-era commits, equals FS truth, survives vacuum's checkpoint rewrite, travels with clones; pre-rail manifests fall back lazily") {
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)
    (1 to 3).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("a", 100L + i, i.toDouble)), "site", "id", "v"),
        Seq("site"), commitTs = 1000L + i)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fsTruth(): Map[String, Long] =
      Versioned.filesAt(spark, dir).map(r => r -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(Versioned.refPath(dir, r))).getLen)
        .toMap
    val (sizes, sizesProbes) =
      probed(Versioned.sizeStatProbes)(Versioned.fileSizesAt(spark, dir))
    assert(sizesProbes == 0L,
      "rail-era commits must resolve sizes from the manifests alone")
    assert(sizes == fsTruth(), "manifest-recorded sizes must equal FS truth")
    // vacuum rewrites the oldest retained delta as a checkpoint — the
    // sizes of reaped commits must bake into it, staying metadata-only
    Versioned.vacuum(spark, dir, keepVersions = 2)
    val (afterVac, afterVacProbes) =
      probed(Versioned.sizeStatProbes)(Versioned.fileSizesAt(spark, dir))
    assert(afterVacProbes == 0L,
      "vacuum must bake reaped manifests' sizes into the rewritten checkpoint")
    assert(afterVac == fsTruth())
    // a shallow clone inherits the source's recorded sizes (keyed by
    // its foreign refs) — DESCRIBE on the clone is metadata-only too
    val cloneDir = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_sizeclone").toFile,
      "clone").getAbsolutePath
    Versioned.cloneAt(spark, dir, cloneDir)
    val (cloneSizes, cloneSizesProbes) =
      probed(Versioned.sizeStatProbes)(Versioned.fileSizesAt(spark, cloneDir))
    assert(cloneSizesProbes == 0L,
      "clone sizes must travel from the source's manifests")
    assert(cloneSizes.values.sum == afterVac.values.sum)
    // PRE-RAIL manifests (stripped #bytes): same totals via the lazy
    // per-file fallback — old lakes still read, the counter says so
    stripManifestSizes(dir)
    val (legacy, legacyProbes) =
      probed(Versioned.sizeStatProbes)(Versioned.fileSizesAt(spark, dir))
    assert(legacyProbes > 0L,
      "stripped manifests must fall back per file")
    assert(legacy == fsTruth(), "fallback sizes must equal FS truth")
  }

  test("#bytes roll-up: checkpoints bake every known live size (+#bytesall), so fileSizesKnown's walk is capped at checkpoint+tail on ANY history depth — sizes == FS truth, zero stat probes") {
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)
    // 25 commits = two checkpoint cadences past v0: a pre-roll-up walk
    // would read every one of the ~26 retained manifests
    (1 to 25).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("a", 500L + i, i.toDouble)), "site", "id", "v"),
        Seq("site"), commitTs = 1000L + i)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val truth = Versioned.filesAt(spark, dir).map(r => r -> fs.getFileStatus(
      new org.apache.hadoop.fs.Path(Versioned.refPath(dir, r))).getLen).toMap
    val probes0 = Versioned.sizeStatProbes.sum()
    val walk0 = Versioned.manifestSizeWalkReads.sum()
    val sizes = Versioned.fileSizesAt(spark, dir)
    val walked = Versioned.manifestSizeWalkReads.sum() - walk0
    assert(sizes == truth, "rolled-up sizes must equal FS truth")
    assert(Versioned.sizeStatProbes.sum() == probes0,
      "the roll-up must keep DESCRIBE/binpack metadata-only")
    assert(walked <= Versioned.CheckpointInterval + 1,
      s"the size walk must stop at the newest roll-up checkpoint " +
        s"(read $walked manifests for a " +
        "26-version history)")
  }

  test("#bytes roll-up heals RESTORE-resurrected files: a checkpoint's walk continues past older markers, so sizes recorded before an intervening roll-up re-enter the rail") {
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)
    (1 to 12).foreach { i => // crosses the v10 checkpoint cadence
      Versioned.append(spark, dir,
        df(Seq(("a", 700L + i, i.toDouble)), "site", "id", "v"),
        Seq("site"), commitTs = 1000L + i)
    }
    // back to v2: files dropped after v2 resurrect; their only #bytes
    // records sit BELOW the v10 roll-up marker
    Versioned.restore(spark, dir, 2L, commitTs = 2000L)
    // ride to the next checkpoint cadence: its roll-up must WALK PAST
    // the stale marker and re-collect the resurrected files' sizes
    (1 to 10).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("a", 800L + i, i.toDouble)), "site", "id", "v"),
        Seq("site"), commitTs = 2000L + i)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val truth = Versioned.filesAt(spark, dir).map(r => r -> fs.getFileStatus(
      new org.apache.hadoop.fs.Path(Versioned.refPath(dir, r))).getLen).toMap
    val (sizes, probes) =
      probed(Versioned.sizeStatProbes)(Versioned.fileSizesAt(spark, dir))
    assert(sizes == truth)
    assert(probes == 0L,
      "post-restore checkpoints must re-collect resurrected files' " +
        "sizes — the write-side walk may not stop at a stale marker")
  }

  test("DROP COLUMN purges its DEFAULT and pending nested #addcol entries; RENAME refuses both by name (stable-spelling rails)") {
    import org.apache.spark.sql.types.DoubleType
    val dir = freshLake()
    Versioned.init(spark, dir, commitTs = 1000L)
    Versioned.setColumnDefault(spark, dir, "v", "0.5")
    // a surviving default would RESURRECT the dropped column on the
    // next omitting write (applyDefaults injects, autoRenames assigns
    // a fresh physical): the drop must take the rule with it
    Versioned.dropColumn(spark, dir, "v")
    Versioned.append(spark, dir,
      df(Seq(("a", 900L)), "site", "id"), Seq("site"))
    assert(!Versioned.snapshot(spark, dir).columns.contains("v"),
      "a dropped column's DEFAULT must not resurrect it")
    assert(Versioned.columnDefaults(spark, dir).isEmpty)
    // rename of a defaulted column refuses with the repair
    val dir2 = freshLake()
    Versioned.init(spark, dir2, commitTs = 1000L)
    Versioned.setColumnDefault(spark, dir2, "v", "0.5")
    val e1 = intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir2, "v", "reading") }
    assert(e1.getMessage.contains("dropColumnDefault"), e1.getMessage)
    // nested #addcol: rename of the parent refuses; drop purges (a
    // stale meta.fps entry under a re-added non-struct meta would
    // throw withField-on-non-struct on EVERY read — bricking the table)
    Versioned.addColumn(spark, dir2, "meta",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.IntegerType))))
    Versioned.addColumn(spark, dir2, "meta.fps", DoubleType)
    val e2 = intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir2, "meta", "m2") }
    assert(e2.getMessage.contains("meta.fps"), e2.getMessage)
    Versioned.dropColumn(spark, dir2, "meta")
    Versioned.addColumn(spark, dir2, "meta",
      org.apache.spark.sql.types.IntegerType) // re-added as NON-struct
    assert(Versioned.snapshot(spark, dir2).select("meta").count() >= 0L,
      "a purged nested entry must not poison reads of the re-added column")
  }

  test("OPTIMIZE commit-only CAS rebase: a racing append no longer discards the compaction; a racing rewrite still aborts it") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // fragment site=a so the compaction has work
    (1 to 3).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("a", 100L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    // writer B's append commits INSIDE optimize's CAS window
    var fired = false
    Versioned.beforeCommitHook = () => {
      if (!fired) { fired = true
        Versioned.append(spark, dir,
          df(Seq(("b", 777L, 77.0)), "site", "id", "v"), Seq("site")) }
    }
    val pre = state(Versioned.snapshot(spark, dir, 3L)) + (("b", 777L, 77.0))
    val vOpt =
      try Versioned.optimize(spark, dir, Seq("site"))
      finally Versioned.beforeCommitHook = () => ()
    assert(vOpt == 5L, "the losing compaction must rebase and land after the append")
    assert(state(Versioned.snapshot(spark, dir)) == pre,
      "compacted state must include the racing append's rows")
    assert(Versioned.filesAt(spark, dir, vOpt)
      .count(_.contains("site=a/")) == 1,
      "the compaction's collapse must survive the rebase")
    assert(Versioned.history(spark, dir).collect()
      .map(_.getAs[String]("operation")).head == "optimize")
    // a winner that REMOVED a replaced file (merge rewriting a target
    // partition) forces the abandon path — rows must never resurrect
    (1 to 3).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("a", 200L + i, i.toDouble)), "site", "id", "v"), Seq("site"))
    }
    var fired2 = false
    Versioned.beforeCommitHook = () => {
      if (!fired2) { fired2 = true
        Versioned.mergeInto(spark, dir,
          df(Seq(("a", 201L, 999.0, false)), "site", "id", "v", "__delete"),
          Seq("site"), Seq("site", "id")) }
    }
    val eo = intercept[IllegalArgumentException] {
      try Versioned.optimize(spark, dir, Seq("site"))
      finally Versioned.beforeCommitHook = () => ()
    }
    assert(eo.getMessage.contains("concurrent commit"))
    assert(state(Versioned.snapshot(spark, dir)).contains(("a", 201L, 999.0)),
      "the aborted compaction must leave the winner's merge intact")
  }

  test("overwrite: full-replace commit with a DIFF increment — replicas converge incrementally, unchanged rows don't re-ship") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id")) // v1
    val replica = java.nio.file.Files
      .createTempDirectory("graft_ovwrep").toFile.getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, dir, 1L),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    // regenerate: (a,1) changed, (a,2) unchanged, (b,10) gone, (c,7) new
    val v2 = Versioned.overwrite(spark, dir,
      df(Seq(("a", 1L, 100.0), ("a", 2L, 2.0), ("c", 7L, 7.0)),
        "site", "id", "v"),
      Seq("site"))
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 100.0), ("a", 2L, 2.0), ("c", 7L, 7.0)))
    assert(state(Versioned.snapshot(spark, dir, 1L)) == Set(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)),
      "the pre-overwrite state still travels")
    val inc = Versioned.changeIncrementAt(spark, dir, v2).get
    val byAction = inc.groupBy("_action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byAction == Map("update_preimage" -> 1L,
      "update_postimage" -> 1L, "delete" -> 1L, "insert" -> 1L),
      s"the increment is the DIFF, not the table: $byAction")
    Versioned.applyTableChanges(spark, dir, replica, Seq("site"), sinceV = 1L)
    assert(state(Versioned.snapshot(spark, replica)) ==
      state(Versioned.snapshot(spark, dir)))
    // idempotent replay via txn marker
    val vAgain = Versioned.overwrite(spark, dir,
      df(Seq(("z", 1L, 1.0)), "site", "id", "v"), Seq("site"),
      txn = Some(("ow", 1L)))
    assert(vAgain == v2 + 1)
    assert(Versioned.overwrite(spark, dir,
      df(Seq(("z", 2L, 2.0)), "site", "id", "v"), Seq("site"),
      txn = Some(("ow", 1L))) == vAgain, "replayed overwrite is a no-op")
  }

  test("MOR merge publishes CDF increments: a feed replica converges across mergeIntoMor") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id")) // v1
    val replica = java.nio.file.Files
      .createTempDirectory("graft_morrep").toFile.getAbsolutePath
    MergeData.writeMerged(spark, Versioned.snapshot(spark, dir, 1L),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    val v2 = Versioned.mergeIntoMor(spark, dir,
      df(Seq(("a", 1L, 100.0, false), ("a", 2L, 0.0, true),
        ("c", 7L, 7.0, false)), "site", "id", "v", "__delete"),
      Seq("site"), Seq("site", "id"))
    val inc = Versioned.changeIncrementAt(spark, dir, v2)
    assert(inc.isDefined)
    assert(inc.get.select("_action").distinct().collect()
      .map(_.getString(0)).toSet ==
      Set("update_preimage", "update_postimage", "insert", "delete"))
    Versioned.applyTableChanges(spark, dir, replica, Seq("site"), sinceV = 1L)
    assert(state(Versioned.snapshot(spark, replica)) ==
      state(Versioned.snapshot(spark, dir)),
      "a feed replica must converge across a MOR merge")
  }

  test("append's commit-only retry BAILS when the winner changed semantics-bearing properties (cdf/generated/mapping)") {
    // a concurrent enableChangeFeed wins the CAS inside the append's
    // commit window: re-CASing would commit op=append with no #cdfinc
    // — a permanent feed hole. The retry must refuse instead.
    val dir = freshLake()
    Versioned.init(spark, dir)
    var fired = false
    Versioned.beforeCommitHook = () => {
      if (!fired) { fired = true
        Versioned.enableChangeFeed(spark, dir, Seq("site", "id")) }
    }
    val e = intercept[IllegalArgumentException] {
      try Versioned.append(spark, dir,
        df(Seq(("a", 30L, 30.0)), "site", "id", "v"), Seq("site"))
      finally Versioned.beforeCommitHook = () => ()
    }
    assert(e.getMessage.contains("changed table properties"))
    // the caller-level re-run sees the feed and publishes its increment
    val v = Versioned.append(spark, dir,
      df(Seq(("a", 30L, 30.0)), "site", "id", "v"), Seq("site"))
    assert(Versioned.changeIncrementAt(spark, dir, v).isDefined,
      "the re-run append must publish a feed increment")
    // same discipline for a winner that added a GENERATED column: the
    // loser's files were written without it (silent nulls if re-CASed)
    val dir2 = freshLake()
    Versioned.init(spark, dir2)
    var fired2 = false
    Versioned.beforeCommitHook = () => {
      if (!fired2) { fired2 = true
        Versioned.addGeneratedColumn(spark, dir2, "v2x", "v * 2") }
    }
    val e2 = intercept[IllegalArgumentException] {
      try Versioned.append(spark, dir2,
        df(Seq(("a", 31L, 31.0)), "site", "id", "v"), Seq("site"))
      finally Versioned.beforeCommitHook = () => ()
    }
    assert(e2.getMessage.contains("changed table properties"))
    assert(Versioned.snapshot(spark, dir2).filter(col("v2x").isNull).isEmpty,
      "no null-v2x rows may have been committed by the bailed append")
  }

  test("add-generated REWRITE publishes update images: a feed replica receives the computed values") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id")) // v1
    val replica = java.nio.file.Files
      .createTempDirectory("graft_genrep").toFile.getAbsolutePath
    // seed from v1, then the source gains a computed column (rewrite
    // variant: the column does not exist yet)
    graft.ops.MergeData.writeMerged(spark, Versioned.snapshot(spark, dir, 1L),
      replica, keys = Seq("site"))
    Versioned.init(spark, replica)
    val v2 = Versioned.addGeneratedColumn(spark, dir, "v2x", "v * 2")
    assert(v2 == 2L)
    val inc = Versioned.changeIncrementAt(spark, dir, v2)
    assert(inc.isDefined, "the rewrite variant is NOT row-neutral")
    assert(inc.get.select("_action").distinct().collect()
      .map(_.getString(0)).toSet ==
      Set("update_preimage", "update_postimage"))
    Versioned.applyTableChanges(spark, dir, replica, Seq("site"), sinceV = 1L)
    val rep = Versioned.snapshot(spark, replica)
    assert(rep.columns.contains("v2x"), "replica must gain the column")
    assert(rep.filter(!(col("v2x") <=> col("v") * 2)).isEmpty,
      "replica rows must carry the computed values, not nulls")
    // the METADATA-ONLY variant (column already present and agreeing)
    // stays row-neutral: no increment, replicas skip it
    val v3 = Versioned.addGeneratedColumn(spark, dir, "v3x0",
      "v * 0") // first create it physically via the rewrite
    assert(Versioned.changeIncrementAt(spark, dir, v3).isDefined)
    Versioned.dropGeneratedColumn(spark, dir, "v3x0") // v4: rule lifted
    val v5 = Versioned.addGeneratedColumn(spark, dir, "v3x0", "v * 0")
    assert(Versioned.changeIncrementAt(spark, dir, v5).isEmpty,
      "re-declaring over agreeing data is metadata-only (row-neutral)")
  }

  test("OPTIMIZE on an UNPARTITIONED table: the root group compacts like any partition (binpack route), data identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_unpopt")
      .toFile.getAbsolutePath + "/lake"
    MergeData.writeMerged(spark,
      Seq(("a", 1L, 1.0)).toDF("site", "id", "v"), dir, keys = Nil)
    Versioned.init(spark, dir)
    (2 to 5).foreach { i =>
      Versioned.append(spark, dir,
        Seq(("a", i.toLong, i.toDouble)).toDF("site", "id", "v"), Nil)
    }
    val before = Versioned.snapshot(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(Versioned.filesAt(spark, dir).size >= 5)
    Versioned.optimize(spark, dir, Nil)
    assert(Versioned.filesAt(spark, dir).size == 1,
      "unpartitioned binpack must compact the root group")
    assert(Versioned.snapshot(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet == before)
  }

  test("re-columning backfill wins same-version inheritance; untracked-column pruning refuses instead of pruning to empty") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_recol")
      .toFile.getAbsolutePath + "/lake"
    MergeData.writeMerged(spark,
      Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("site", "id", "v"),
      dir, keys = Seq("site"))
    Versioned.init(spark, dir)
    Versioned.backfillStats(spark, dir, Seq("id"))
    // a commit under the (id)-discipline, then a RE-COLUMNING backfill
    // at the SAME version the commit's inc sidecar owns: the full must
    // win inheritance — the NEXT commit extends (id, v), not (id)
    Versioned.append(spark, dir,
      Seq(("a", 10L, 10.0)).toDF("site", "id", "v"), Seq("site"))
    Versioned.backfillStats(spark, dir, Seq("id", "v"))
    Versioned.append(spark, dir,
      Seq(("b", 20L, 20.0)).toDF("site", "id", "v"), Seq("site"))
    val cols = Versioned.statsAt(spark, dir).select("col").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cols == Set("id", "v"),
      s"post-backfill commits must inherit the re-columned set (got $cols)")
    // a predicate on v serves from the boxes
    assert(Versioned.prunedScan(spark, dir, Seq(PruneRange("v", 15.0, 25.0)))
      .select("id").collect().map(_.getLong(0)).toSet == Set(20L))
    // an UNTRACKED column refuses loudly — never an empty result
    val e = intercept[IllegalArgumentException] {
      Versioned.prunedScan(spark, dir, Seq(PruneRange("site", 0.0, 1.0))).count()
    }
    assert(e.getMessage.contains("not tracked"), e.getMessage)
    // bloom twin: probes on an un-bloomed column refuse too
    Versioned.backfillBlooms(spark, dir, Seq("id"), 100L, 0.01)
    val e2 = intercept[IllegalArgumentException] {
      Versioned.prunedScan(spark, dir, Seq(PruneIn("v", Seq(10.0)))).count()
    }
    assert(e2.getMessage.contains("no bloom filters"), e2.getMessage)
  }

  test("rail registry: every CommitMeta field is classified exactly once, and defaults is append-semantic") {
    // the class-load require() in CommitMeta's companion is the real
    // guard (an unclassified field fails EVERY Versioned test); this
    // spec pins the partition's intent so a misclassification — moving
    // a semantics-bearing rail into retrySafe to silence the loader —
    // still fails somewhere readable
    val names = Versioned.CommitMeta.empty.productElementNames.toSet
    val classified = Versioned.CommitMeta.perCommit ++
      Versioned.CommitMeta.appendSemantic.keySet ++
      Versioned.CommitMeta.retrySafe
    assert(classified == names,
      s"registry drift: ${(names -- classified) ++ (classified -- names)}")
    assert(Versioned.CommitMeta.empty.productArity == names.size)
    // the thrice-bitten rails are all in the guarded set
    for (rail <- Seq("defaults", "idents", "gens", "cdf", "renames",
        "droppedCols", "pinnedSchema"))
      assert(Versioned.CommitMeta.appendSemantic.contains(rail),
        s"$rail must be append-semantic")
    // and railsMoved actually fires on a defaults-only change
    val a = Versioned.CommitMeta.empty
    val b = a.copy(defaults = Map("src" -> "x"))
    assert(Versioned.CommitMeta.railsMoved(a, b))
    assert(!Versioned.CommitMeta.railsMoved(a, a.copy(op = Some("x"),
      cluster = Some(Seq("site")), chks = Map("c" -> "e"))))
  }

  test("append retry bails when a concurrent SET DEFAULT landed inside the CAS window; the re-run fills the default") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // writer A's batch OMITS `src`; the winner declares a DEFAULT for
    // `src` inside A's CAS window. A's staged files were built against
    // the old meta (no fill) — a blind retry would commit src=NULL
    // where every compliant post-DDL writer fills 'api'
    Versioned.addColumn(spark, dir, "src",
      org.apache.spark.sql.types.StringType)
    var fired = false
    Versioned.beforeCommitHook = () => {
      if (!fired) {
        fired = true
        Versioned.setColumnDefault(spark, dir, "src", "'api'")
      }
    }
    try {
      val e = intercept[IllegalArgumentException] {
        Versioned.append(spark, dir,
          df(Seq(("a", 70L, 7.0)), "site", "id", "v"), Seq("site"))
      }
      assert(e.getMessage.contains("defaults") ||
        e.getMessage.contains("table properties"), e.getMessage)
    } finally Versioned.beforeCommitHook = () => ()
    // the caller-level re-run sees the new meta and fills the default
    Versioned.append(spark, dir,
      df(Seq(("a", 70L, 7.0)), "site", "id", "v"), Seq("site"))
    val got = Versioned.snapshot(spark, dir)
      .filter(col("id") === 70L).select("src").collect().map(_.getString(0))
    assert(got.toSeq == Seq("api"),
      s"re-run must fill the concurrent default, got ${got.toSeq}")
  }

  test("racing replaces: the winner's committed definition serves the WINNER'S schema — the loser's staged anchor can never clobber it") {
    import org.apache.spark.sql.types._
    val dir = freshLake()
    Versioned.init(spark, dir)
    // B commits its replace INSIDE A's CAS window, AFTER A staged its
    // anchor: under the shared anchor_v{v+1} path A's staging had
    // already reclaimed-and-overwritten B's anchor as a 'crashed
    // orphan', so B's committed v+1 served A's schema (the TOCTOU);
    // attempt-unique anchors on the #anchor rail make the paths
    // disjoint and the committed manifest name its own anchor
    // replace has no retry loop (racing a replace is a semantic
    // conflict), so inject through the commit owner: B's whole replace
    // runs inside A's staged-anchor → CAS window
    val real = Versioned.commitOwner
    var fired = false
    Versioned.commitOwner = new Versioned.CommitOwner {
      override def writeVersion(fs: org.apache.hadoop.fs.FileSystem,
          d: String, v: Long, dst: org.apache.hadoop.fs.Path,
          alternate: org.apache.hadoop.fs.Path,
          body: Seq[String]): Unit = {
        if (!fired) {
          fired = true // one-shot BEFORE recursing (B commits through here)
          Versioned.replaceTable(spark, dir,
            StructType(Seq(StructField("win", StringType),
              StructField("n", LongType))), Nil)
        }
        real.writeVersion(fs, d, v, dst, alternate, body)
      }
    }
    try {
      val e = intercept[IllegalArgumentException] {
        Versioned.replaceTable(spark, dir,
          StructType(Seq(StructField("lose", DoubleType))), Nil)
      }
      assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    } finally Versioned.commitOwner = real
    assert(Versioned.snapshot(spark, dir).columns.toSeq == Seq("win", "n"),
      "the winner's zero-file reads must serve the WINNER'S schema")
  }

  test("checkpoint roll-up walk terminates on pre-rail files: a -1 sentinel records the unknowable, later checkpoints stop at it") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    // the three v0 files lose every size record — pre-rail history
    stripManifestSizes(dir)
    // drive to the first post-strip checkpoint (v10): its walk
    // exhausts the manifests and must stamp the v0 files -1
    for (i <- 1 to Versioned.CheckpointInterval)
      Versioned.append(spark, dir,
        df(Seq(("a", 100L + i, 1.0)), "site", "id", "v"), Seq("site"))
    // …and to one commit short of the second checkpoint
    for (i <- 1 to Versioned.CheckpointInterval - 1)
      Versioned.append(spark, dir,
        df(Seq(("a", 200L + i, 1.0)), "site", "id", "v"), Seq("site"))
    val rollup0 = Versioned.rollupWalkReads.sum()
    Versioned.append(spark, dir,
      df(Seq(("a", 300L, 1.0)), "site", "id", "v"), Seq("site")) // ckpt
    val rolled = Versioned.rollupWalkReads.sum() - rollup0
    assert(rolled <= Versioned.CheckpointInterval + 1,
      s"the second post-strip checkpoint must stop its roll-up walk at " +
        s"the first one's sentinels, not re-read all history " +
        s"(read $rolled manifests)")
    // sentinels never leak as sizes: the unknowable files are absent
    // from fileSizesKnown and served by the lazy stat fallback
    val known = Versioned.fileSizesKnown(spark, dir)
    assert(known.values.forall(_ >= 0L), "a -1 sentinel leaked as a size")
    val all = Versioned.fileSizesAt(spark, dir)
    assert(all.size == Versioned.filesAt(spark, dir).size &&
      all.values.forall(_ > 0L))
  }

  test("optimizeWrite: appends shape to the byte target (unpartitioned coalesce, skewed-key split); autoCompact folds a 4-batch firehose to ~ceil(bytes/target) files") {
    def confs(ow: String, ac: String, target: String): Unit = {
      spark.conf.set("spark.graft.write.optimizeWrite", ow)
      spark.conf.set("spark.graft.write.autoCompact", ac)
      spark.conf.set("spark.graft.optimize.targetFileSize", target)
    }
    try {
      // ---- unpartitioned: a 16-partition batch is the 1-file-per-
      // shuffle-partition treadmill; the shaper coalesces it ----------
      val dir = java.nio.file.Files.createTempDirectory("graft_ow")
        .toFile.getAbsolutePath
      val wide = spark.range(0, 400).selectExpr("id", "rand(7) AS v")
        .repartition(16)
      // batch 1 UNCALIBRATED (no stats yet): writes unshaped — 16 files
      confs("true", "false", "1g")
      Versioned.overwrite(spark, dir, wide, Nil)
      assert(Versioned.filesAt(spark, dir).size == 16,
        "an uncalibrated table writes unshaped (no stats rail yet)")
      Versioned.backfillStats(spark, dir, Seq("v"))
      // batch 2: calibrated, huge target -> ONE file, not 16
      Versioned.append(spark, dir, wide, Nil)
      def addedAtHead(d: String): Seq[String] = {
        val cur = Versioned.currentVersion(spark, d)
        (Versioned.filesAt(spark, d, cur).toSet --
          Versioned.filesAt(spark, d, cur - 1).toSet).toSeq
      }
      val v2files = addedAtHead(dir)
      assert(v2files.size == 1,
        s"a calibrated append under a 1g target must land 1 file, " +
          s"got ${v2files.size}")
      // tiny target -> ~ceil split (round-robin: exact)
      val bpr = Versioned.diskBytesPerRow(spark, dir).get
      confs("true", "false", math.ceil(bpr * 100).toLong.toString)
      Versioned.append(spark, dir, wide, Nil) // 400 rows -> 4 slices
      val v3files = addedAtHead(dir)
      assert(v3files.size == 4,
        s"400 rows at a 100-row target must land 4 files, got ${v3files.size}")

      // ---- partitioned skew: one key 10x the target splits ----------
      val dir2 = java.nio.file.Files.createTempDirectory("graft_ow2")
        .toFile.getAbsolutePath
      val skewed = spark.range(0, 440)
        .selectExpr("CASE WHEN id < 400 THEN 'big' ELSE 'tiny' END AS site",
          "id", "rand(7) AS v")
      confs("true", "false", "1g")
      Versioned.overwrite(spark, dir2, skewed, Seq("site"))
      Versioned.backfillStats(spark, dir2, Seq("v"))
      val bpr2 = Versioned.diskBytesPerRow(spark, dir2).get
      confs("true", "false", math.ceil(bpr2 * 100).toLong.toString)
      Versioned.append(spark, dir2, skewed, Seq("site"))
      val added = addedAtHead(dir2)
      val bigFiles = added.count(_.contains("site=big"))
      val tinyFiles = added.count(_.contains("site=tiny"))
      assert(bigFiles >= 3 && bigFiles <= 6,
        s"the 400-row key at a 100-row target must split ~4 ways, " +
          s"got $bigFiles")
      assert(tinyFiles == 1, s"the 40-row key stays one file, got $tinyFiles")

      // ---- the 4-batch firehose: autoCompact folds cross-batch ------
      val dir3 = java.nio.file.Files.createTempDirectory("graft_ow3")
        .toFile.getAbsolutePath
      confs("true", "false", "1g")
      Versioned.overwrite(spark, dir3, wide, Nil)
      Versioned.backfillStats(spark, dir3, Seq("v"))
      spark.conf.set("spark.graft.write.autoCompact", "true")
      spark.conf.set("spark.graft.write.autoCompact.minFiles", "4")
      for (_ <- 1 to 4) Versioned.append(spark, dir3, wide, Nil)
      val finalFiles = Versioned.filesAt(spark, dir3)
      assert(finalFiles.size <= 2,
        s"the firehose must fold to ~ceil(bytes/target)=1 files " +
          s"(+1 in-flight), got ${finalFiles.size}")
      assert(Versioned.snapshot(spark, dir3).count() == 400L * 5,
        "auto-compact must never change the row set")
    } finally {
      spark.conf.unset("spark.graft.write.optimizeWrite")
      spark.conf.unset("spark.graft.write.autoCompact")
      spark.conf.unset("spark.graft.write.autoCompact.minFiles")
      spark.conf.unset("spark.graft.optimize.targetFileSize")
    }
  }

  test("clone carries declared clustering (copy-based rail carry)") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.setClusterBy(spark, dir, Seq("id"))
    Versioned.setColumnDefault(spark, dir, "v", "0.25")
    val clone = java.nio.file.Files
      .createTempDirectory("graft_clone_rails").toFile
    clone.deleteOnExit()
    Versioned.cloneAt(spark, dir, clone.getAbsolutePath)
    assert(Versioned.clusterByOf(spark, clone.getAbsolutePath) == Seq("id"),
      "declared clustering must travel to the clone")
    assert(Versioned.columnDefaults(spark, clone.getAbsolutePath) ==
      Versioned.columnDefaults(spark, dir) &&
      Versioned.columnDefaults(spark, dir).keySet == Set("v"),
      "column defaults must travel to the clone")
  }

  test("clone RESETS the history-bound clusterAt stamp (a source stamp would claim the clone's files as already laid out)") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    Versioned.setClusterBy(spark, dir, Seq("id"))
    // bump the source's version past the clone's whole future history
    (1 to 3).foreach { i =>
      Versioned.append(spark, dir,
        df(Seq(("c", 100L + i, 1.0)), "site", "id", "v"), Seq("site")) }
    Versioned.optimize(spark, dir, Seq("site"), stampClusterAt = true)
    assert(Versioned.clusterStampOf(spark, dir).nonEmpty)
    val clone = java.nio.file.Files
      .createTempDirectory("graft_clone_stamp").toFile
    clone.deleteOnExit()
    Versioned.cloneAt(spark, dir, clone.getAbsolutePath)
    // the stamp indexes the SOURCE's history: carried onto a clone
    // whose versions restart at 0, every clone file (v0 <= stamp)
    // would read as already-clustered and the incremental pass would
    // skip them forever — the registry's historyBound class resets it
    assert(Versioned.clusterStampOf(spark, clone.getAbsolutePath).isEmpty,
      "a clone must NOT inherit the source's clusterAt stamp")
    assert(Versioned.clusterByOf(spark, clone.getAbsolutePath) == Seq("id"),
      "the clustering DECLARATION itself still travels")
  }

  test("auto-compact is best-effort through conf parsing too: a malformed minFiles cannot fail a committed append") {
    val dir = freshLake()
    Versioned.init(spark, dir)
    spark.conf.set("spark.graft.write.autoCompact", "true")
    spark.conf.set("spark.graft.write.autoCompact.minFiles", "eight")
    try {
      // the append commits, then the post-commit compaction hook hits
      // the unparseable conf: it must SKIP, not throw (a caller seeing
      // the append fail would retry and double-commit the batch)
      val v = Versioned.append(spark, dir,
        df(Seq(("c", 50L, 5.0)), "site", "id", "v"), Seq("site"))
      assert(v == Versioned.currentVersion(spark, dir))
      assert(Versioned.snapshot(spark, dir).count() == 4L)
    } finally {
      spark.conf.unset("spark.graft.write.autoCompact")
      spark.conf.unset("spark.graft.write.autoCompact.minFiles")
    }
  }
}
