package graft

import org.apache.spark.sql.functions._

/** Pins [[Tables.events]]'s physical-type dispatch for `ts`.
  *
  * The driver's testdata lake has shipped `events.ts` both as
  * TIMESTAMP(NANOS) (which Spark surfaces as LongType under the
  * `nanosAsLong` escape hatch) and, after a regeneration, as plain
  * TIMESTAMP(MICROS). The round-6 bench and 40 correctness rows died at
  * ANALYSIS time because the reader assumed the long form (`ts div
  * 1000` on a timestamp column doesn't resolve). This spec writes a
  * tiny events lake in each physical form and asserts both read back to
  * the SAME timestamp_ntz micros through [[Tables.events]].
  */
class TablesSpec extends SparkSpec {

  private val microsUtc = Seq(
    1700000000000001L, // 2023-11-14 22:13:20.000001
    1700000000999999L,
    0L)                // epoch boundary

  private def lake(write: String => Unit): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_lake").toFile
    dir.deleteOnExit()
    write(new java.io.File(dir, "events.parquet").getAbsolutePath)
    dir.getAbsolutePath
  }

  private def readTs(dir: String): Seq[Long] =
    Tables.events(spark, dir)
      .select(unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(_.getLong(0)).toSeq.sorted

  test("events reads ts shipped as int64 nanos (TIMESTAMP(NANOS) surface)") {
    // A genuine TIMESTAMP(NANOS) footer surfaces as LongType under
    // nanosAsLong; a plain int64 column takes the identical LongType
    // branch, so it pins the same dispatch + integral truncation.
    val dir = lake { path =>
      df(microsUtc.map(us => Tuple2(us * 1000L + 999L, "login")), "ts", "event_type")
        .write.mode("overwrite").parquet(path)
    }
    // +999 sub-micro nanos must TRUNCATE (div), never round up
    assert(readTs(dir) == microsUtc.sorted)
  }

  test("events reads ts shipped as a real timestamp column (MICROS)") {
    val dir = lake { path =>
      df(microsUtc.map(us => Tuple2(us, "login")), "us", "event_type")
        .select(timestamp_micros(col("us")).as("ts"), col("event_type"))
        .write.mode("overwrite").parquet(path)
    }
    assert(readTs(dir) == microsUtc.sorted)
  }

  test("both physical forms agree row-for-row") {
    val longDir = lake { path =>
      df(microsUtc.map(us => Tuple2(us * 1000L, "a")), "ts", "event_type")
        .write.mode("overwrite").parquet(path)
    }
    val tsDir = lake { path =>
      df(microsUtc.map(us => Tuple2(us, "a")), "us", "event_type")
        .select(timestamp_micros(col("us")).as("ts"), col("event_type"))
        .write.mode("overwrite").parquet(path)
    }
    assert(readTs(longDir) == readTs(tsDir))
  }

  private val sfDir = "/root/testdata/sf0.001"

  private def eventsLakes(): Seq[String] = Seq(
    lake { path =>
      df(microsUtc.map(us => Tuple2(us * 1000L, "a")), "ts", "event_type")
        .write.mode("overwrite").parquet(path)
    },
    lake { path =>
      df(microsUtc.map(us => Tuple2(us, "a")), "us", "event_type")
        .select(timestamp_micros(col("us")).as("ts"), col("event_type"))
        .write.mode("overwrite").parquet(path)
    })

  test("the footer schema equals Spark's inferred one: every sf0.001 table and both events lakes") {
    Tables.events(spark, sfDir) // sets nanosAsLong as every events read does
    val paths = Tables.names.map(n => s"$sfDir/$n.parquet") ++
      eventsLakes().map(d => s"$d/events.parquet")
    paths.foreach { p =>
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    Tables.names.filterNot(_ == "events").foreach { n =>
      assert(Tables(spark, sfDir, n).schema ==
        spark.read.parquet(s"$sfDir/$n.parquet").schema, n)
    }
  }

  test("building a table's frame runs no Spark job") {
    val lakes = eventsLakes()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftColumnBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      Tables.names.foreach(n => Tables(spark, sfDir, n))
      lakes.foreach(d => Tables.events(spark, d))
      org.apache.spark.sql.GraftColumnBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0)
  }
}
