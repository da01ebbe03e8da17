package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

import graft.lake.LocalParquet

/** Readers for the driver-generated TPC-H-ish testdata lake (TESTDATA.md).
  *
  * All queries in [[SparkEntry]] read through here so the physical source
  * (path layout, format) is swappable in one place. At cluster scale the
  * same API would point at a partitioned lake; filters and projections
  * still push down because these are plain parquet scans.
  *
  * `events.ts` is parquet TIMESTAMP(NANOS), which Spark has no native
  * type for (Spark timestamps are microsecond): it is read via the
  * `nanosAsLong` escape hatch and truncated to microseconds with
  * INTEGRAL division (`ts div 1000`) — exactly what DuckDB does when it
  * reads the same file (truncation, not rounding). Double division
  * (`/ 1000`) would be wrong: 2024-era epoch-nanos (~1.7e18) exceed the
  * 53-bit double mantissa, so ~2% of values would truncate to a
  * different microsecond than the oracle's.
  *
  * The `nanosAsLong` conf intentionally stays set for the session: it
  * is consulted again at execution time (per-task footer conversion),
  * so a read-then-restore would break the deferred scan. It only
  * affects parquet files that actually carry TIMESTAMP(NANOS), which in
  * this lake is `events` alone.
  *
  * The cast to TIMESTAMP_NTZ matches how Spark reads this lake's other
  * (ms) timestamp columns; the cast goes through the session timezone,
  * so a UTC session is REQUIRED for oracle parity (set below;
  * build.sbt also pins -Dspark.sql.session.timeZone=UTC for all
  * runners).
  *
  * Every table's schema comes from its footer ([[parquet]]), so
  * building a table's frame launches no schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** `path` (one parquet file or a Spark-written directory) read with
    * the schema in the footer of its first data file in name order (the
    * file Spark's inference reads without `mergeSchema`), converted on
    * the driver by Spark's converter under the session's parquet confs
    * at call time (`nanosAsLong` included). No cache: one footer open. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val first = LocalParquet.dataFiles(p.getFileSystem(conf), p).map(_._1).minBy(_.toString)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    val footer = try new Footer(first, r.getFooter) finally r.close()
    spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(path)
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    // The TIMESTAMP->NTZ cast below goes through the session timezone;
    // oracle parity requires UTC. GraftSession (every main and the
    // tests) and build.sbt already set it; for ad-hoc sessions, switch
    // with a WARNING rather than silently — the caller's other
    // timezone-sensitive queries change meaning mid-session (ADVICE r3).
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC") {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "graft.Tables.events requires a UTC session for oracle-parity " +
          "timestamp casts; switching spark.sql.session.timeZone to UTC " +
          s"(was ${spark.conf.get("spark.sql.session.timeZone")})")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$dir/events.parquet")
    // The lake has shipped `ts` both as TIMESTAMP(NANOS) (surfaces as
    // LongType under nanosAsLong; truncate to micros integrally) and as
    // plain TIMESTAMP(MICROS) (a real timestamp column; just strip the
    // zone). Dispatch on the physical type actually in the footer so a
    // regenerated lake can't break analysis.
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
}
