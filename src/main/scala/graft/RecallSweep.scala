package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Dev measurement main (not part of the driver contract): recall@k of
  * the PQ/IVF ANN family (IVF-Flat q47, flat PQ q97, trained PQ q107,
  * IVF-PQ q98, residual IVF-PQ q99, refined-residual q106) against
  * brute-force exact cosine (q35) on the real embeddings table, swept
  * over the knobs that trade recall for cost — `m` (code bytes) for
  * PQ, `nProbe` for the IVF family. RP-LSH (q37) and int8 ANN (q79)
  * are NOT swept here. Output is a markdown table for SCALING.md, so
  * the "memory/recall shape" claims there carry measured numbers.
  *
  * Usage: runMain graft.RecallSweep <sfDir> [k] [nProbes]
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = if (args.length > 1) args(1).toInt else 10
    val nProbesCount = if (args.length > 2) args(2).toInt else 100
    val spark = GraftSession(GraftSession.envCores(32))

    val emb = Tables(spark, sfDir, "embeddings")
    val probes = emb.filter(col("vec_id") < nProbesCount)

    // Ground truth: exact cosine top-k per probe (the q35 path),
    // collected once to a driver-side set — nProbes×k pairs, bounded.
    val truth = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", k)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val denom = truth.size.toDouble // < nProbes*k only if corpus < k+1

    def recall(approx: DataFrame): Double = {
      val hits = approx.select("probe_id", "neighbor_id").collect()
        .count(r => truth((r.getLong(0), r.getLong(1))))
      hits / denom
    }

    val rows = scala.collection.mutable.ArrayBuffer[String]()
    def row(path: String, setting: String, bytesPerVec: String, r: Double): Unit = {
      val line = f"| $path | $setting | $bytesPerVec | ${r}%.3f |"
      println(line); rows += line
    }

    println(s"recall@$k vs brute-force, ${denom.toInt} truth pairs, " +
      s"$nProbesCount probes, sfDir=$sfDir")
    println("| path | setting | bytes/vec | recall@" + k + " |")
    println("|---|---|---|---|")

    // Flat PQ (q97 path): whole corpus ADC-scored; recall loss is pure
    // quantization error, so this isolates the m (bytes/vec) knob.
    for (m <- Seq(4, 8, 16)) {
      val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m, 16)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m, 16)
      val r = recall(Similarity.pqTopK(codes, probes, "vec_id", "embedding",
        cb, m, 16, k))
      row("flat PQ (q97)", s"m=$m ksub=16", s"$m", r)
    }

    // Trained PQ (q107 path): one Lloyd step per subspace over the
    // sampled codebooks — measures what refinement buys at equal bytes,
    // both full-corpus and sample-bounded (the q107/production setting:
    // training touches trainCap vectors, encode touches all).
    for (m <- Seq(4, 8, 16); cap <- Seq(0, 256)) {
      val cb0 = Similarity.pqCodebooks(emb, "vec_id", "embedding", m, 16)
      val cb = Similarity.pqRefineCodebooks(emb, "vec_id", "embedding", cb0, m, 16,
        trainCap = cap)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m, 16)
      val r = recall(Similarity.pqTopK(codes, probes, "vec_id", "embedding",
        cb, m, 16, k))
      val capTag = if (cap == 0) "full train" else s"trainCap=$cap"
      row("trained PQ (q107)", s"m=$m ksub=16 +1 Lloyd $capTag", s"$m", r)
    }

    // The IVF family: one index per codec over the 16 seed cells (one
    // build each), searched at every nProbe.
    val seed = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
    def index(cents: DataFrame, codec: Similarity.IvfCodec) =
      Similarity.ivfBuild(emb, "vec_id", "embedding", cents, codec)
    val pq = Similarity.IvfCodec.Pq(8, 16)
    val pqResidual = Similarity.IvfCodec.Pq(8, 16, residual = true)
    val nProbes = Seq(1, 2, 4, 8)

    // IVF-Flat (q47 path): exact cosine within probed cells; recall
    // loss is pure cell miss, isolating the nProbe knob.
    val flat = index(seed, Similarity.IvfCodec.Raw)
    for (nProbe <- nProbes) {
      val r = recall(Similarity.ivfSearch(flat, probes, k, nProbe))
      row("IVF-Flat (q47)", s"nCells=16 nProbe=$nProbe", "256 (raw)", r)
    }

    // IVF-PQ (q98) and residual IVF-PQ (q99): both losses compose;
    // residual coding should recover part of the quantization loss at
    // equal bytes.
    val ivfPq = index(seed, pq)
    for (nProbe <- nProbes) {
      val r = recall(Similarity.ivfSearch(ivfPq, probes, k, nProbe))
      row("IVF-PQ (q98)", s"nCells=16 nProbe=$nProbe m=8", "8", r)
    }
    val residual = index(seed, pqResidual)
    for (nProbe <- nProbes) {
      val r = recall(Similarity.ivfSearch(residual, probes, k, nProbe))
      row("residual IVF-PQ (q99)", s"nCells=16 nProbe=$nProbe m=8", "8", r)
    }

    // Two-stage re-rank (q111): ADC shortlist from the compressed
    // lists, exact cosine on the shortlist only. The recall ceiling is
    // IVF-Flat at the same nProbe (the probed-cell set is identical);
    // the gap to that ceiling measures shortlist misses from ADC
    // scoring, so it shrinks as the shortlist grows.
    for (nProbe <- nProbes; shortlist <- Seq(30, 60)) {
      val r = recall(Similarity.ivfSearch(ivfPq, probes, k, nProbe,
        rerank = Some(Similarity.IvfRerank(shortlist, emb))))
      row("IVF-PQ + exact re-rank (q111)",
        s"nCells=16 nProbe=$nProbe m=8 shortlist=$shortlist", "8*", r)
    }

    // Residual over Lloyd-refined centroids (q106): cell means shrink
    // the residual norm below 1, restoring residual coding's premise.
    val refined = index(Similarity.ivfRefine(
      Similarity.ivfAssign(emb, "vec_id", "embedding", seed), "embedding"),
      pqResidual)
    for (nProbe <- nProbes) {
      val r = recall(Similarity.ivfSearch(refined, probes, k, nProbe))
      row("refined residual IVF-PQ (q106)", s"nCells=16 nProbe=$nProbe m=8", "8", r)
    }

    println("==== table ====")
    rows.foreach(println)
    spark.stop()
  }
}
