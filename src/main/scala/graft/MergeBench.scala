package graft

import org.apache.spark.sql.functions._

import graft.ops.MergeData

/** Measures the COW merge scale claim: [[graft.lake.Versioned.mergeInto]]
  * cost is a function of the TOUCHED partitions' data, not the lake's
  * size. Two versioned lakes with identical per-partition volume but
  * 10× different partition counts (so 10× total rows) get the same
  * 2-partition upsert batch; the merge times should be ~flat while a
  * full-lake rewrite would be ~10×.
  *
  * Usage: runMain graft.MergeBench [rowsPerPartition]
  * Prints one line per lake: nParts totalRows batchRows mergeSec.
  */
object MergeBench {
  def main(args: Array[String]): Unit = {
    val perPart = if (args.nonEmpty) args(0).toLong else 50000L
    val spark = GraftSession(16)

    def lake(nParts: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_mb_$nParts").toFile
      dir.deleteOnExit()
      val out = new java.io.File(dir, "lake").getAbsolutePath
      val rows = spark.range(nParts * perPart)
        .select(
          (col("id") % nParts).cast("string").as("p"),
          col("id").as("k"),
          (col("id") % 997).cast("double").as("v"))
      MergeData.writeMerged(spark, rows, out, keys = Seq("p"))
      out
    }

    // fixed-shape batch: upsert half + delete a tenth of partitions 0,1
    def batch(nParts: Int) = spark.range(nParts * perPart)
      .select(
        (col("id") % nParts).cast("string").as("p"),
        col("id").as("k"),
        (col("id") % 997).cast("double").as("v"))
      .filter(col("p").isin("0", "1"))
      .withColumn("v", col("v") * 2)
      .withColumn("__delete", col("k") % 10 === 3)
      .filter(col("k") % 2 === 0)

    Seq(20, 200).foreach { nParts =>
      val dir = lake(nParts)
      // localCheckpoint: the batch's own derivation cost (a full-range
      // scan here) must not be charged to the merge being measured
      val b = batch(nParts).localCheckpoint()
      val bRows = b.count()
      graft.lake.Versioned.init(spark, dir)
      val t0 = System.nanoTime()
      graft.lake.Versioned.mergeInto(spark, dir, b, Seq("p"), Seq("k"))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"MERGEBENCH nParts=$nParts%4d totalRows=${nParts * perPart}%9d " +
        f"batchRows=$bRows%7d mergeSec=$sec%.2f")
    }
    spark.stop()
  }
}
