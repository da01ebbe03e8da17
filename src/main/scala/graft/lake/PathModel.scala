package graft.lake

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The path-partitioned lake model (SURVEY.md §1.1.1, §2.1 S1-S3, §2.3 F1-F3).
  *
  * Reference layout: `<input>/<top>/SITE/PARTICIPANT/METRIC/.../
  * YYYYMMDD_HHMM[_i].csv.gz` (`collect_data_metadata.py:17-34`). Path
  * components are partition columns; the filename carries event time.
  *
  * Spark-first mapping: one recursive file listing becomes an *inventory
  * DataFrame*; path→column extraction is `regexp_extract` over the file
  * name (codegen'd, no UDF); include/exclude pruning is a plain filter on
  * those columns, which Catalyst turns into partition pruning when the
  * lake is laid out Hive-style (`site=.../participant=.../metric=...`).
  */
object PathModel {

  /** Filename-timestamp regex (`collect_data_metadata.py:40`):
    * `YYYYMMDD_HHMM[_i].csv.gz`. */
  val fileTsRegex = "(\\d{8}_\\d{4})(?:_(\\d+))?\\.csv\\.gz$"

  /** S1: recursive scan of a raw lake into an inventory of file paths.
    * Listing happens on the driver via Hadoop's FileSystem (same place
    * Spark's own FileIndex does it); the result is a DataFrame so all
    * downstream pruning/parsing is distributed and, at 100 TB, the
    * listing itself can be replaced by an S3 Inventory table scan. The
    * listing is [[walk]] (`listStatus`), not `FileSystem.listFiles`:
    * see there. */
  def listFiles(spark: SparkSession, root: String, suffix: String = ".csv.gz"): DataFrame = {
    import spark.implicits._
    val path = new Path(root)
    walk(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
      .collect { case f if f.getPath.toString.endsWith(suffix) =>
        (f.getPath.toString, f.getLen) }
      .toDF("path", "size")
  }

  /** The files under `root` (`root` itself when it is a file), in the
    * order `FileSystem.listFiles` yields them: one `listStatus`
    * per directory, depth-first. `listFiles` wraps every file in a
    * `LocatedFileStatus`, whose constructor loads permissions — on the
    * local FS without libhadoop that forks one `ls -ld` per file
    * (Spark's `HadoopFSUtils` avoids that constructor for the same
    * reason). `ChecksumFileSystem.listStatus` hides `.crc` sidecars just
    * as `listFiles` did; `_`/`.` entries are the caller's to exclude. */
  private[graft] def walk(fs: FileSystem, root: Path,
      recursive: Boolean = true): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def go(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isFile) out += st else if (recursive) go(st.getPath)
    }
    go(root)
    out.result()
  }

  /** S2+S3: parse `.../SITE/PARTICIPANT/METRIC/.../YYYYMMDD_HHMM[_i].csv.gz`
    * relative to `root` into partition columns. Files whose relative path
    * has <4 components or whose filename doesn't parse are dropped, exactly
    * like the reference returning `None` (`collect_data_metadata.py:35-63`).
    * The metric is the component *after* participant (intermediate dirs may
    * follow it — `process-overview.py:35-69`). */
  def parsePaths(inventory: DataFrame, root: String): DataFrame = {
    val rel = regexp_replace(col("path"), s"^${java.util.regex.Pattern.quote(root.stripSuffix("/"))}/", "")
    val parts = split(rel, "/")
    inventory
      .withColumn("parts", parts)
      .filter(size(col("parts")) >= 4)
      .withColumn("site", col("parts").getItem(1))
      .withColumn("participant_id", col("parts").getItem(2))
      .withColumn("metric", col("parts").getItem(3))
      .withColumn("file_ts_raw", regexp_extract(col("path"), fileTsRegex, 1))
      .withColumn("shard_idx", regexp_extract(col("path"), fileTsRegex, 2).try_cast("int"))
      .filter(col("file_ts_raw") =!= "")
      .withColumn("file_timestamp", try_to_timestamp(col("file_ts_raw"), lit("yyyyMMdd_HHmm")))
      .filter(col("file_timestamp").isNotNull)
      .drop("parts", "file_ts_raw")
  }

  /** F1: include/exclude by exact path-part match, exclude wins, include
    * requires ≥1 matching part (`process-overview.py:16-33`). Applied to
    * the inventory it prunes before any data file is opened — same effect
    * as the reference's `dirs[:] = []` recursion prune
    * (`merge-data.py:127-130`), and partition pruning at scale. */
  def includeExclude(
      inv: DataFrame,
      include: Seq[String],
      exclude: Seq[String],
      partCols: Seq[String] = Seq("site", "participant_id", "metric")): DataFrame = {
    val partsArr = array(partCols.map(col): _*)
    val afterExclude =
      if (exclude.isEmpty) inv
      else inv.filter(!arrays_overlap(partsArr, lit(exclude.toArray)))
    if (include.isEmpty) afterExclude
    else afterExclude.filter(arrays_overlap(partsArr, lit(include.toArray)))
  }

  /** F2: include by *substring* match on any path component
    * (`extract_patient_summary.py:171-176`). */
  def includeBySubstring(inv: DataFrame, includes: Seq[String]): DataFrame =
    if (includes.isEmpty) inv
    else inv.filter(
      includes.map(s => col("path").contains(s)).reduce(_ || _))
}
