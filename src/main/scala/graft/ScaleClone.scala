package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-shot dev tool (not part of the driver contract): build an
  * N×-scaled clone of the volume-bearing tables (events, documents,
  * embeddings) so scaling exponents can be MEASURED instead of argued —
  * the sf0.1 bench cannot see a latent quadratic that only wakes up at
  * 10× the data (SCALING.md records the measured trend).
  *
  * Each copy shifts the primary key far past the source range; document
  * text is prefixed with a per-copy token so near-dup structure is
  * preserved WITHOUT creating cross-copy exact-duplicate clusters
  * (which would quadratically inflate pair counts and measure the
  * fixture, not the operator). The remaining small tables are
  * symlinked from the source dir.
  *
  * With `--zipf`, the clone additionally plants an α≈1 Zipf key skew —
  * the distribution uniform TPC-H-ish generators never produce but
  * every real corpus has — so the skew mitigations (salted join q51,
  * AQE skew join, lmScore head/tail split q82, heavy hitters q74) can
  * be MEASURED firing instead of argued (SkewBench drives them;
  * SCALING.md records the numbers):
  *   - lineitem/orders are replicated too (not symlinked), and half of
  *     all lineitem rows are redirected onto the 64 hottest orderkeys
  *     with Zipf(1) rank mass — the hottest key carries ~10% of the
  *     entire table, the classic one-straggler-reducer join;
  *   - events: half of all rows collapse onto Zipf-ranked hot users;
  *   - documents: a 16-token Zipf tail (vocab 20k) is appended per doc,
  *     giving token/bigram frequencies the heavy head natural text has.
  * All skew is hash-derived (no RNG state): clones are reproducible.
  *
  * Usage: runMain graft.ScaleClone <srcSfDir> <outDir> <copies> [--zipf]
  */
object ScaleClone {

  private def replicate(df: DataFrame, copies: Int)
      (tweak: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => tweak(df, i)).reduce(_.unionByName(_))

  /** Zipf(α≈1) rank in [1, bound) — bound itself is never produced
    * (u < 1 so floor(bound^u) ≤ bound − 1): rank = floor(bound^u) has
    * P(rank = r) = log((r+1)/r)/log(bound) ∝ ~1/r — the log-uniform
    * construction. Deterministic: u comes from xxhash64 of the seed
    * columns. */
  private def zipfRank(bound: Int, seed: Column*): Column =
    floor(pow(lit(bound),
      (pmod(xxhash64(seed: _*), lit(1000000L)) / lit(1000000.0)))).cast("long")

  /** True for ~the given percent of rows, keyed by the seed columns. */
  private def hashPct(pct: Int, seed: Column*): Column =
    pmod(xxhash64(seed: _*), lit(100L)) < pct

  def main(args: Array[String]): Unit = {
    val zipf = args.contains("--zipf")
    val pos = args.filterNot(_ == "--zipf")
    val (src, out, copies) = (pos(0), pos(1), pos(2).toInt)
    val spark = GraftSession(16)
    // raw read keeps events.ts as int64 nanos (no TIMESTAMP(NANOS)
    // type to preserve on the rewrite; Tables.events handles both)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val ev = spark.read.parquet(s"$src/events.parquet")
    replicate(ev, copies) { (d, i) =>
      val shifted = d.withColumn("event_id", col("event_id") + lit(i * 1000000000L))
      if (!zipf) shifted
      // Half the events collapse onto Zipf-ranked hot users (1..1000):
      // rank 1 ends up with ~7% of ALL events — the sessionize/groupBy
      // straggler shape.
      else shifted.withColumn("user_id",
        when(hashPct(50, col("event_id"), lit("evsel")),
          zipfRank(1001, col("event_id"), lit("evrank")))
          .otherwise(col("user_id")))
    }.write.mode("overwrite").parquet(s"$out/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    replicate(docs, copies) { (d, i) =>
      val base = if (i == 0) col("text") else concat(lit(s"c$i "), col("text"))
      // Zipf token tail: 16 tokens over a 20k vocab; "ztok1" lands in
      // most docs (the heavy head q74's sketch and q82's broadcast
      // head table exist for), the tail stays rare.
      val t = if (!zipf) base
        else concat(base, lit(" "), concat_ws(" ",
          transform(sequence(lit(0), lit(15)), j =>
            concat(lit("ztok"),
              zipfRank(20000, col("doc_id"), j, lit("doctok")).cast("string")))))
      // n_chars BEFORE text: both expressions reference col("text"),
      // so assigning text first would make length(t) see the already-
      // rewritten column and double-apply the prefix/tail
      d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("n_chars", length(t).cast("long"))
        .withColumn("text", t)
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    replicate(emb, copies) { (d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val cloned = scala.collection.mutable.Set("events", "documents", "embeddings")
    if (zipf) {
      // q51's join tables are cloned too: orders shift keys per copy;
      // half of lineitem redirects onto the 64 smallest source
      // orderkeys (present in copy 0, so referential integrity holds)
      // with Zipf(1) rank mass — hot key 1 carries ~10% of the table.
      val ord = spark.read.parquet(s"$src/orders.parquet")
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val hot = typedlit(ord.select("o_orderkey").orderBy("o_orderkey")
        .limit(64).collect().map(_.getLong(0)).toSeq)
      replicate(ord, copies) { (d, i) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
      }.write.mode("overwrite").parquet(s"$out/orders.parquet")
      replicate(li, copies) { (d, i) =>
        val shifted = col("l_orderkey") + lit(i * 1000000000L)
        d.withColumn("l_orderkey",
          when(hashPct(50, col("l_orderkey"), col("l_linenumber"), lit(i), lit("lisel")),
            element_at(hot, zipfRank(65,
              col("l_orderkey"), col("l_linenumber"), lit(i), lit("lirank")).cast("int")))
            .otherwise(shifted))
      }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      cloned ++= Seq("orders", "lineitem")
    }

    Tables.names.filterNot(cloned.contains)
      .foreach { t =>
        val link = java.nio.file.Paths.get(out, s"$t.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(
            link, java.nio.file.Paths.get(src, s"$t.parquet"))
      }
    println(s"scaled clone ($copies x${if (zipf) ", zipf-skewed" else ""}) at $out")
    spark.stop()
  }
}
