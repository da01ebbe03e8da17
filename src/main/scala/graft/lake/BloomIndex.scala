package graft.lake

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter data-skipping index — the point-lookup
  * complement to [[SkipIndex]]'s min/max zone maps (the same pairing
  * Delta ships as its Bloom filter index).
  *
  * Why both: a z-order/compacted layout gives TIGHT min/max boxes on
  * the clustering dimensions, but a high-cardinality column the layout
  * does NOT cluster (a primary key on a time-ordered lake) has
  * near-full-range boxes in every file — range pruning keeps
  * everything. A per-file Bloom filter answers the point question "can
  * key k be in this file at all?" with no false negatives, so an
  * IN-list/equality lookup opens only the files that might hold the
  * keys, at ~fpp false-positive file opens.
  *
  * Build is ONE aggregation pass: `groupBy(input_file_name())` with
  * Spark's native `BloomFilterAggregate` over `xxhash64(col)` — the
  * identical build/probe hashing `InjectRuntimeFilter` uses, fully
  * inside codegen; the shuffle carries nFiles × nCols bloom blobs, not
  * rows. Probing is distributed: blooms are decoded and tested on
  * EXECUTORS (`BloomFilter.readFrom` + `mightContainLong`), and only
  * surviving file NAMES reach the driver — the same file-count-bounded
  * driver hop as the lake listing itself, independent of bloom size.
  *
  * Reads go through [[Versioned.prunedScan]] (this frame as its
  * `source`), which applies the original predicate as a residual
  * filter, so false positives cost an extra file open, never a wrong
  * row.
  */
object BloomIndex {

  /** One row per (file, indexed column): `bloom` bytes + file row
    * count. `expectedPerFile` sizes each filter (items per FILE, not
    * the table); `fpp` is the per-probe false-positive rate. Sizing is
    * `BloomPrune.optimalNumBits` — ~1.2 MB per million keys at 1%. */
  def build(spark: SparkSession, dataDir: String, cols: Seq[String],
      expectedPerFile: Long, fpp: Double): DataFrame =
    buildDf(spark.read.parquet(dataDir), cols, expectedPerFile, fpp)

  /** [[build]] over an EXPLICIT file set — a [[Versioned]] manifest's
    * live files, or the touched subset [[refreshForFiles]] rebuilds.
    * `basePath` recovers Hive partition columns so indexed columns may
    * be partition columns too. */
  def buildForFiles(spark: SparkSession, dataDir: String,
      files: Seq[String], cols: Seq[String],
      expectedPerFile: Long, fpp: Double,
      pinned: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    require(files.nonEmpty, "buildForFiles needs at least one file")
    // pinned schema (type widening): a post-widen re-backfill reads
    // mixed pre/post-widen footers, which plain inference refuses to
    // merge — and the hashes MUST be built over the WIDE type, the
    // one probes arrive as
    val reader = pinned.fold(spark.read)(s0 => spark.read.schema(s0))
    buildDf(reader.option("basePath", dataDir).parquet(files: _*),
      cols, expectedPerFile, fpp)
  }

  private def buildDf(df: DataFrame, cols: Seq[String],
      expectedPerFile: Long, fpp: Double): DataFrame = {
    require(cols.nonEmpty, "BloomIndex.build needs at least one column")
    val numBits = graft.ops.BloomPrune.optimalNumBits(expectedPerFile, fpp)
    val aggs = cols.map { c =>
      GraftColumnBridge.column(new BloomFilterAggregate(
        GraftColumnBridge.expression(xxhash64(col(c))),
        Literal(expectedPerFile), Literal(numBits)).toAggregateExpression())
        .as(s"__bf_$c")
    }
    val perFile = df
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"), aggs: _*)
    val entries = cols.map(c =>
      struct(lit(c).as("col"), col(s"__bf_$c").as("bloom")))
    perFile.select(col("file"), col("rows"),
        explode(array(entries: _*)).as("e"))
      .select(col("file"), col("e.col").as("col"),
        col("e.bloom").as("bloom"), col("rows"))
  }

  /** Incremental index maintenance after a versioned merge —
    * [[SkipIndex.refreshForFiles]]'s pattern: entries for files under
    * the TOUCHED partition directories are dropped and rebuilt from the
    * LIVE files there (per the manifest — the directory listing still
    * holds superseded files); everything else is kept as-is. Work
    * scales with the merge batch, never the lake. A partition deleted
    * outright contributes no new entries; "" in `touchedDirs` is the
    * root of an UNPARTITIONED table and covers every file. */
  def refreshForFiles(spark: SparkSession, dataDir: String, idx: DataFrame,
      cols: Seq[String], expectedPerFile: Long, fpp: Double,
      touchedDirs: Seq[String], liveFiles: Seq[String]): DataFrame = {
    require(touchedDirs.nonEmpty, "refresh needs at least one touched partition")
    val survivors = idx.filter(!SkipIndex.underTouched(touchedDirs, col("file")))
    val fresh = liveFiles.filter(SkipIndex.underTouched(touchedDirs, _))
    if (fresh.isEmpty) survivors
    else survivors.unionByName(
      buildForFiles(spark, dataDir, fresh, cols, expectedPerFile, fpp))
  }

  /** Hash probe literals EXACTLY as the build hashed column values:
    * ONE local 1-row job evaluating every probe's `xxhash64` at once
    * (N separate jobs would pay N driver round-trips before the index
    * scan even starts). Callers must type each literal like the column
    * (`lit(7L)` for a BIGINT column — `lit(7)` hashes as int and never
    * matches). */
  private def probeHashes(spark: SparkSession, probes: Seq[Column]): Seq[Long] = {
    val row = spark.range(1).select(
      probes.zipWithIndex.map { case (p, i) => xxhash64(p).as(s"h$i") }: _*).head
    probes.indices.map(row.getLong)
  }

  /** Files whose bloom on `c` might contain ANY of `probes` (union of
    * per-key survivor sets — the IN-list lookup shape). Bloom decode +
    * membership tests run on executors; only file names are collected. */
  def candidateFilesIn(spark: SparkSession, idx: DataFrame, c: String,
      probes: Seq[Column]): Seq[String] = {
    require(probes.nonEmpty, "candidateFilesIn needs at least one probe")
    // a probe on an un-bloomed column must REFUSE, not prune: zero
    // matching rows would silently drop every file
    val tracked = idx.select("col").distinct()
      .collect().map(_.getString(0)).toSet
    require(tracked.contains(c),
      s"column $c has no bloom filters in this index (tracked: " +
        s"${tracked.toSeq.sorted.mkString(", ")}): rebuild/backfill " +
        "with it, or filter the full scan")
    val hashes = probeHashes(spark, probes)
    import spark.implicits._
    idx.filter(col("col") === c).select("file", "bloom")
      .as[(String, Array[Byte])]
      .mapPartitions(_.collect { case (f, b) if b != null &&
          locally {
            val bf = BloomFilter.readFrom(new ByteArrayInputStream(b))
            hashes.exists(bf.mightContainLong)
          } => f })
      .collect().toSeq.sorted
  }
}
