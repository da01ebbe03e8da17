package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** One-shot dev tool (not part of the driver contract): freeze the
  * xxhash64-based fast-path MinHash signatures into a checked-in golden
  * table, so q55_minhash_fast gets a real DuckDB oracle even though
  * xxhash64 itself has no DuckDB twin.
  *
  * The golden is CONTENT-ADDRESSED — one row per distinct document text
  * across every supplied sf dir, keyed by `fp = md5(text)` — so the same
  * frozen table serves any scale factor whose documents are drawn from
  * the same synthetic corpus: the oracle joins `documents` to the golden
  * on md5(text) and replays the q32 band/pair SQL over the frozen
  * signature columns. A document missing from the golden drops out of
  * the oracle join and the row-count check fails loudly — the signal to
  * regenerate after a testdata change.
  *
  * Usage: runMain graft.GoldenGen <outDir> <sfDir1> [sfDir2 ...]
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val sfDirs = args.drop(1)
    val spark = GraftSession(8)

    val golden = sfDirs.map { dir =>
      val docs = Tables(spark, dir, "documents")
      val sig = Dedup.minhashSignature(
        Dedup.shingles(docs, "doc_id", "text", 3), "doc_id", fast = true)
      docs.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        .join(sig, "doc_id")
        .drop("doc_id")
    }.reduce(_.unionByName(_)).distinct()

    golden.coalesce(1).write.mode("overwrite").parquet(out)
    println(s"golden rows: ${spark.read.parquet(out).count()} -> $out")
    spark.stop()
  }
}
