package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The catalog command surface of `main.py`/`summary.py` (SURVEY.md §2.10).
  *
  * The reference builds an in-memory object graph from an S3 listing and
  * answers "queries" by dict traversal (`summary.py:103-150`). Here the
  * catalog is itself a DataFrame — `inventory(user_id, measurement,
  * filename, path, date, time, idx, is_schema)` — cached as Parquet
  * instead of a pickle, and every command is an aggregation over it.
  * At scale the inventory for 100 TB of objects is itself millions of
  * rows — a DataFrame, not a driver-side dict.
  */
object CatalogOps {

  /** Parse an S3-style key `prefix/user/measurement/filename` into inventory
    * columns (`main.py:122-150`, `summary.py:117-144`). Keys with the wrong
    * number of parts are dropped (`main.py:131`). Filename timestamps are
    * `YYYYMMDD_HHMMSS[_i].csv.gz` split into date/time/index
    * (`main.py:18-41`); malformed names yield nulls (logged + tolerated in
    * the reference). `.json` files are schema sidecars (`main.py:148-150`).
    */
  def inventoryFromKeys(keys: DataFrame, keyCol: String = "key"): DataFrame = {
    val parts = split(col(keyCol), "/")
    keys
      .withColumn("parts", parts)
      .filter(size(col("parts")) === 4)
      .select(
        col("parts").getItem(1).as("user_id"),
        col("parts").getItem(2).as("measurement"),
        col("parts").getItem(3).as("filename"),
        col(keyCol).as("path"))
      .withColumn("is_schema", col("filename").endsWith(".json"))
      .withColumn("date",
        regexp_extract(col("filename"), "^(\\d{8})_(\\d{4,6})(?:_(\\d+))?\\.csv\\.gz$", 1))
      .withColumn("time",
        regexp_extract(col("filename"), "^(\\d{8})_(\\d{4,6})(?:_(\\d+))?\\.csv\\.gz$", 2))
      .withColumn("idx",
        regexp_extract(col("filename"), "^(\\d{8})_(\\d{4,6})(?:_(\\d+))?\\.csv\\.gz$", 3)
          .try_cast("int"))
      .withColumn("date", when(col("date") === "", null).otherwise(col("date")))
      .withColumn("time", when(col("time") === "", null).otherwise(col("time")))
  }

  private def data(inv: DataFrame) = inv.filter(!col("is_schema"))

  /** `list_all_users` (`main.py:175-182`). */
  def listAllUsers(inv: DataFrame): DataFrame =
    data(inv).select("user_id").distinct().orderBy("user_id")

  /** `list_all_measurements` (`main.py:155-173`) — sorted distinct set. */
  def listAllMeasurements(inv: DataFrame): DataFrame =
    data(inv).select("measurement").distinct().orderBy("measurement")

  /** `get_users_for_measurement` (`main.py:212-236`) — semi-join J2. */
  def usersForMeasurement(inv: DataFrame, measurement: String): DataFrame =
    data(inv).filter(col("measurement") === measurement)
      .select("user_id").distinct().orderBy("user_id")

  /** `generate_summary_report` (`main.py:238-257`): per (user, measurement)
    * file count, (date,time)-level counts rolled up, and date range
    * (A10+A11). */
  def summaryReport(inv: DataFrame): DataFrame =
    data(inv)
      .groupBy("user_id", "measurement")
      .agg(
        count(lit(1)).as("file_count"),
        min("date").as("first_date"),
        max("date").as("last_date"),
        count_distinct(col("date")).as("distinct_dates"))
      .orderBy("user_id", "measurement")

  /** Parquet-cached catalog: `update_summary_file`/`check_summary_file`
    * (`main.py:259-277`) — replaces the pickle cache. */
  def writeCache(inv: DataFrame, path: String): Unit =
    inv.write.mode("overwrite").parquet(path)

  def readCache(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** `check_summary_file` (`main.py:268-277`), elevated from the
    * reference's bare exists-check to an actionable freshness report:
    * diff the cached inventory against a live listing by key. One row:
    * cached/live/common sizes, keys the cache is missing (`n_added`),
    * keys the cache still holds that are gone (`n_removed`), and a
    * `fresh` verdict. A single full-outer shuffle on the key — both
    * sides stay DataFrames, so the check runs at catalog scale (millions
    * of keys), never a driver-side dict compare. */
  def stalenessReport(cached: DataFrame, live: DataFrame,
      keyCol: String = "path"): DataFrame = {
    // a listing is a SET of keys: dedupe before the diff so shard rows
    // that share a key can't inflate counts through join multiplicity
    val c = cached.select(col(keyCol).as("key")).distinct()
      .withColumn("in_cache", lit(true))
    val l = live.select(col(keyCol).as("key")).distinct()
      .withColumn("in_live", lit(true))
    l.join(c, Seq("key"), "full_outer")
      .agg(
        count(when(col("in_cache"), 1)).as("n_cached"),
        count(when(col("in_live"), 1)).as("n_live"),
        count(when(col("in_live") && col("in_cache"), 1)).as("n_common"),
        count(when(col("in_live") && col("in_cache").isNull, 1)).as("n_added"),
        count(when(col("in_live").isNull, 1)).as("n_removed"))
      .withColumn("fresh", col("n_added") + col("n_removed") === 0)
  }
}
