package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.TimeOps

/** Lake readers (SURVEY.md §2.1 S4-S7).
  *
  * The reference reads gzipped header-CSVs with per-file schema inference
  * (`merge-data.py:78-79` et al.). Spark reads whole globs of them in one
  * scan — gzip is auto-detected, and a supplied `StructType` avoids the
  * inference pass that would double the I/O at 100 TB.
  */
object Readers {

  /** S4: gzipped CSV with header. `schema=None` reproduces the reference's
    * inference (`inferSchema`), an explicit schema is the scale path. */
  def csvGz(spark: SparkSession, paths: Seq[String], schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    val withSchema = schema.map(base.schema).getOrElse(base.option("inferSchema", "true"))
    withSchema.csv(paths: _*)
  }

  /** S4 at lake scale: one recursive csv.gz scan rooted at `root` —
    * the reader takes the ROOT, not a driver-collected file list, so
    * the only O(files) state is Spark's own distributed file index
    * (the same listing the explicit-paths form builds on the driver
    * anyway, without the 100 TB lake's path array living in driver
    * memory). Row-level routing (include/exclude, lineage) happens by
    * joining the result against the path inventory — files the join
    * drops cost their scan bytes, which is the right trade when the
    * excluded set is a handful of sites; a large standing exclusion
    * belongs in the directory layout where the glob can prune it. */
  def csvGzTree(spark: SparkSession, root: String,
      schema: Option[StructType] = None,
      glob: String = "*.csv.gz"): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
    val withSchema = schema.map(base.schema).getOrElse(base.option("inferSchema", "true"))
    withSchema.csv(root)
  }

  /** S1+S4 in one: recursive scan of a lake subtree, reference layout.
    *
    * Schema inference over a raw lake costs a FULL extra pass (read once
    * to infer, again to parse) — at 100 TB that doubles the scan, and
    * over many tiny gzips the per-file open overhead dominates twice.
    * `inferFilesPerDir = Some(n)` bounds the inference pass to the first
    * n files (lexicographic, deterministic) of each directory and
    * applies the inferred schema to the full scan. Sound under the lake
    * contract (one measurement schema per directory, SURVEY §1.1.1);
    * `None` restores the reference-faithful full-lake inference.
    *
    * `skipCorrupt = true` reproduces the reference's per-file
    * try/except-log-and-continue (`merge-data.py:77-87`,
    * `extract_patient_summary.py:121-126`): a truncated upload or
    * garbage bytes under a `.csv.gz` name drops that FILE (Spark logs
    * it) instead of failing the scan — the right default for a lake
    * that ingests device uploads. `false` (default) keeps fail-fast for
    * pipelines where silent data loss is worse than a retry. */
  def scanLake(spark: SparkSession, root: String, glob: String = "*.csv.gz",
      inferFilesPerDir: Option[Int] = Some(1),
      skipCorrupt: Boolean = false): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .option("ignoreCorruptFiles", skipCorrupt.toString)
    val reader = inferFilesPerDir match {
      case Some(n) =>
        // the listing below is the same metadata walk Spark's scan
        // performs anyway; only the DATA read is what gets bounded
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val filter = new org.apache.hadoop.fs.GlobFilter(glob)
        val rootUri = fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toUri
        // mirror InMemoryFileIndex's exclusions: any path COMPONENT under
        // the root starting with `_` or `.` (staging dirs, in-flight
        // writes) is invisible to the real scan and must not feed the
        // inference sample either
        def visible(p: org.apache.hadoop.fs.Path): Boolean =
          rootUri.relativize(p.toUri).getPath
            .split('/').forall(c => !c.startsWith("_") && !c.startsWith("."))
        val files = PathModel.walk(fs, new org.apache.hadoop.fs.Path(root))
          .map(_.getPath).filter(p => filter.accept(p) && visible(p))
        // With skipCorrupt, a corrupt file in the sample wouldn't fail
        // inference — it would silently REMOVE its directory's schema
        // contribution and the full scan would then bind that
        // directory's healthy rows to the wrong columns. Probe each
        // candidate's first bytes (bounded I/O) and sample the first n
        // files per directory that actually decompress.
        def readable(p: String): Boolean = !skipCorrupt || {
          try {
            val in = fs.open(new org.apache.hadoop.fs.Path(p))
            try {
              val s = if (p.endsWith(".gz"))
                new java.util.zip.GZIPInputStream(in) else in
              // require at least one decompressed byte: an empty-payload
              // file has no header row, so letting it occupy one of the
              // directory's take(n) sample slots could drop that
              // directory's schema contribution — the exact failure this
              // probe exists to prevent
              s.read(new Array[Byte](256)) >= 0
            } finally in.close()
          } catch { case _: java.io.IOException => false }
        }
        val sample = files.map(_.toString).sorted
          .groupBy(p => p.substring(0, p.lastIndexOf('/')))
          .valuesIterator.flatMap(_.iterator.filter(readable).take(n))
          .toSeq.sorted
        val inferred = spark.read
          .option("header", "true").option("inferSchema", "true")
          .option("ignoreCorruptFiles", skipCorrupt.toString)
          .csv(sample: _*).schema
        base.schema(inferred)
      case None => base.option("inferSchema", "true")
    }
    reader.csv(root).withColumn("path", input_file_name())
  }

  /** S7: schema sidecar fetch — the `.json` next to the data, only ever
    * displayed by the reference (`summary.py:152-166,300-312`). */
  def schemaSidecar(spark: SparkSession, path: String): String =
    spark.read.option("wholetext", "true").text(path)
      .head().getString(0)

  /** S7+ (SURVEY.md §1.1.5, documented improvement over the reference,
    * which never applies its sidecars): materialize a sidecar JSON into
    * a real [[StructType]]. Accepts either Spark's own DataType JSON
    * (round-trips `schema.json`) or a flat `{"col": "sqlType"}` object
    * (field order preserved). */
  def sidecarStructType(json: String): StructType =
    scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(json))
      .toOption.collect { case s: StructType => s }
      .getOrElse {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(json) match {
          case JObject(fields) => StructType(fields.map {
            case (name, JString(tpe)) =>
              org.apache.spark.sql.types.StructField(name,
                org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(tpe))
            case (name, other) =>
              throw new IllegalArgumentException(
                s"sidecar field '$name': expected a type string, got $other")
          })
          case other =>
            throw new IllegalArgumentException(s"unsupported sidecar shape: ${other.getClass}")
        }
      }

  /** S4+S7: csv.gz read with the measurement's sidecar schema applied —
    * no inference pass (the scale path; inference doubles the I/O). */
  def csvGzWithSidecar(spark: SparkSession, paths: Seq[String], sidecarPath: String): DataFrame =
    csvGz(spark, paths, Some(sidecarStructType(schemaSidecar(spark, sidecarPath))))

  /** Quirk §2.11.7: first-present time column wins, in priority order
    * (`data_collection.py:53-59,108`). Columns absent from the schema are
    * skipped at *plan* time; present columns contribute via coalesce so a
    * null in the first column falls through to the next — a strict
    * superset of the reference (which picks one column per file). */
  val timeColumnPriority: Seq[String] =
    Seq("timestamp", "value.time", "value.startTime", "value.timeCompleted", "time", "timeReceived")

  def eventTime(df: DataFrame, priority: Seq[String] = timeColumnPriority): Column = {
    val present = priority.filter(df.columns.contains)
    require(present.nonEmpty, s"no time column among $priority in ${df.columns.mkString(",")}")
    TimeOps.epochSecondsToTs(coalesce(present.map(c => col(s"`$c`")): _*))
  }
}
