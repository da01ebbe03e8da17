package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

final case class Vec(vec_id: Long, embedding: Seq[Float])

class QuantizeSpec extends SparkSpec {

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
    val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
  }

  test("quantized components are within [-127, 127] and max-abs hits 127") {
    val out = Similarity.quantizeInt8(
        df(Seq(Vec(1, Seq(0.5f, -1.0f, 0.25f)))), "vec_id", "embedding")
      .select("qvec").collect()(0).getSeq[Int](0)
    assert(out == Seq(64, -127, 32))
  }

  test("all-zero vectors quantize to all zeros, not NaN") {
    val out = Similarity.quantizeInt8(
        df(Seq(Vec(1, Seq(0.0f, 0.0f)))), "vec_id", "embedding")
      .select("qvec").collect()(0).getSeq[Int](0)
    assert(out == Seq(0, 0))
  }

  test("quantized cosine approximates float cosine within the int8 error bound") {
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(16)((rnd.nextDouble() * 10 - 5).toFloat)
    val pairs = Seq.fill(20)((vec(), vec()))
      .filter { case (a, b) =>
        a.map(x => x * x.toDouble).sum > 1.0 && b.map(x => x * x.toDouble).sum > 1.0 }
    val d = df(pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(Vec(2L * i, a), Vec(2L * i + 1, b)) })
    // one plan for all pairs: probe 2i against corpus {2i, 2i+1} is not
    // expressible in topK directly, so compute qsim per pair by joining
    // the quantized frames on the pair index
    val q = Similarity.quantizeInt8(d, "vec_id", "embedding")
      .withColumn("pair", (col("vec_id") / 2).cast("long"))
      .withColumn("side", col("vec_id") % 2)
    val sims = q.filter(col("side") === 0).select(col("pair"), col("qvec").as("qa"))
      .join(q.filter(col("side") === 1).select(col("pair"), col("qvec").as("qb")), "pair")
      .select(col("pair"), Similarity.cosine(
        col("qa").cast("array<double>"), col("qb").cast("array<double>")).as("qsim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      // worst-case per-component error 0.5/127 ≈ 0.4%; cosine of
      // 16-dim vectors stays within a conservative 0.05
      assert(math.abs(sims(i.toLong) - cosine(a, b)) < 0.05,
        s"pair $i: qsim=${sims(i.toLong)} cos=${cosine(a, b)}")
    }
  }

  test("already-quantized vectors round-trip exactly (scales cancel)") {
    // components that are exact multiples of maxabs/127
    val a = Seq(127f, -64f, 32f, 0f)
    val b = Seq(64f, 127f, -8f, 16f)
    val d = df(Seq(Vec(1, a), Vec(2, b)))
    val out = Similarity.quantizedTopK(d, d.filter(col("vec_id") === 1),
        "vec_id", "embedding", k = 1)
      .select("qsim").collect()(0).getDouble(0)
    assert(out == math.rint(cosine(a, b) * 10000) / 10000)
  }

  test("PQ on a corpus that IS its codebook: codes are exact, ADC == exact dots") {
    // 4 near-axis vectors, dim 4, m=2, ksub=4: every corpus vector is a
    // sampled codebook entry, so its subvector distances to its own
    // centroids are 0 -> codes are exact and the ADC score of any probe
    // against any corpus vector equals the TRUE dot product.
    val vs = Seq(
      Vec(1, Seq(10f, 0f, 0f, 0f)),
      Vec(2, Seq(0f, 10f, 0f, 0f)),
      Vec(3, Seq(0f, 0f, 10f, 0f)),
      Vec(4, Seq(1f, 1f, 1f, 1f)))
    val corpus = df(vs)
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 2, ksub = 4)
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", cb, m = 2, ksub = 4)
    // every code is a valid index
    codes.select("codes").collect().foreach { r =>
      assert(r.getSeq[Int](0).forall(c => c >= 0 && c < 4))
    }
    val probe = df(Seq(Vec(100, Seq(10f, 1f, 0f, 0f))))
    val top = Similarity.pqTopK(codes, probe, "vec_id", "embedding",
        cb, m = 2, ksub = 4, k = 4)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // true dots: v1 -> 100, v4 -> 11, v2 -> 10, v3 -> 0
    assert(top == Seq((1L, 100.0), (4L, 11.0), (2L, 10.0), (3L, 0.0)))
  }

  test("pqRefineCodebooks: refined centroid is the member mean; empty codes keep their seed") {
    import spark.implicits._
    // dim 2, m=1, ksub=2: all three vectors are nearer code 0 ([0,0])
    // than code 1 ([100,100]), so code 0's refined centroid is their
    // mean and code 1 — memberless — must keep its seed entry so the
    // grid stays complete for pqEncode's consumed guard.
    val corpus = df(Seq(
      Vec(1, Seq(0f, 0f)), Vec(2, Seq(2f, 0f)), Vec(3, Seq(4f, 0f))))
    val cb0 = Seq((0, 0, Seq(0.0, 0.0)), (0, 1, Seq(100.0, 100.0)))
      .toDF("subspace", "code", "centroid")
    val refined = Similarity.pqRefineCodebooks(
        corpus, "vec_id", "embedding", cb0, m = 1, ksub = 2)
      .orderBy("subspace", "code")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    assert(refined.toSeq == Seq(
      (0, 0, Seq(2.0, 0.0)),       // mean of [0,0],[2,0],[4,0]
      (0, 1, Seq(100.0, 100.0)))) // no members -> seed preserved
    // the refined grid still encodes (guard satisfied), all to code 0
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding",
      Seq((0, 0, Seq(2.0, 0.0)), (0, 1, Seq(100.0, 100.0)))
        .toDF("subspace", "code", "centroid"), m = 1, ksub = 2)
    assert(codes.select("codes").collect().forall(_.getSeq[Int](0) == Seq(0)))
  }

  test("residual IVF-PQ recovers exact dots when every residual is a codebook entry") {
    // ksub == corpus size: every residual is sampled into the codebook,
    // so codes are exact and score = probe.centroid + probe.residual
    // == the TRUE dot. nProbe == nCells probes everything.
    val vs = Seq(
      Vec(1, Seq(10f, 0f, 0f, 0f)),
      Vec(2, Seq(0f, 10f, 0f, 0f)),
      Vec(3, Seq(0f, 0f, 10f, 0f)),
      Vec(4, Seq(1f, 1f, 1f, 1f)))
    val corpus = df(vs)
    val probe = df(Seq(Vec(100, Seq(10f, 1f, 0f, 0f))))
    val ix = Similarity.ivfBuild(corpus, "vec_id", "embedding",
      Similarity.ivfCentroids(corpus, "vec_id", "embedding", 2),
      Similarity.IvfCodec.Pq(m = 2, ksub = 4, residual = true))
    val top = Similarity.ivfSearch(ix, probe, k = 4, nProbe = 2)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(top == Seq((1L, 100.0), (4L, 11.0), (2L, 10.0), (3L, 0.0)))
  }
}
