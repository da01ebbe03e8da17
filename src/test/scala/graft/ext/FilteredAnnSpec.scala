package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

final case class LV(vec_id: Long, embedding: Seq[Float], label: Int)

/** Semantics pins for the filtered-ANN and two-stage re-rank operators
  * beyond oracle parity: the filter constraint holds row-by-row, the
  * filtered paths agree with brute force on the matching slices, and
  * an exhaustive shortlist makes the re-rank collapse to exact IVF. */
class FilteredAnnSpec extends SparkSpec {

  private def mk(id: Long): LV =
    LV(id, (0 until 8).map(d => math.sin(id * 31 + d * 7).toFloat),
      (id % 3).toInt)
  private val corpus = (0L until 60L).map(mk)

  private def sorted(d: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    rowsOf(d.orderBy("probe_id", "rank"))

  private def index(c: org.apache.spark.sql.DataFrame, nCells: Int,
      codec: Similarity.IvfCodec, filterCol: Option[String] = None) =
    Similarity.ivfBuild(c, "vec_id", "embedding",
      Similarity.ivfCentroids(c, "vec_id", "embedding", nCells), codec, filterCol)

  test("filteredTopK: neighbors share the probe's label and match per-label brute force") {
    val c = df(corpus)
    val probes = c.filter(col("vec_id") < 6)
    val got = Similarity.filteredTopK(c, probes,
      "vec_id", "embedding", "label", k = 3)
    val lab = c.select(col("vec_id"), col("label"))
    val cross = got
      .join(lab.toDF("probe_id", "pl"), "probe_id")
      .join(lab.toDF("neighbor_id", "nl"), "neighbor_id")
    assert(cross.filter(col("pl") =!= col("nl")).count() === 0L)
    // equals brute-force top-k run independently on each label slice
    val expected = (0 until 3).flatMap { l =>
      rowsOf(Similarity.bruteForceTopK(
        c.filter(col("label") === l), probes.filter(col("label") === l),
        "vec_id", "embedding", k = 3))
    }.sortBy(r => (r.head.asInstanceOf[Long], r(3).asInstanceOf[Int]))
    assert(sorted(got) === expected)
    assert(expected.nonEmpty)
  }

  test("filteredIvfTopK probing every cell == exact filteredTopK") {
    val c = df(corpus)
    val probes = c.filter(col("vec_id") < 6)
    val ivf = Similarity.ivfSearch(
      index(c, nCells = 4, Similarity.IvfCodec.Raw, Some("label")),
      probes, k = 3, nProbe = 4, filterCol = Some("label"))
    val exact = Similarity.filteredTopK(c, probes,
      "vec_id", "embedding", "label", k = 3)
    assert(sorted(ivf) === sorted(exact))
    assert(sorted(ivf).nonEmpty)
  }

  test("ivfPqRerankTopK with an exhaustive shortlist == exact IVF top-k; tiny shortlist rejected") {
    val c = df(corpus)
    val probes = c.filter(col("vec_id") < 6)
    // shortlist >= corpus: the ADC stage keeps every candidate in the
    // probed cells, so exact re-ranking must equal IVF-Flat's exact
    // cosine over the same (nCells, nProbe) candidate set
    val pq = index(c, nCells = 8, Similarity.IvfCodec.Pq(m = 4, ksub = 8))
    val rr = Similarity.ivfSearch(pq, probes, k = 3, nProbe = 2,
      rerank = Some(Similarity.IvfRerank(shortlist = 60, corpus = c)))
    val exact = Similarity.ivfSearch(index(c, nCells = 8, Similarity.IvfCodec.Raw),
      probes, k = 3, nProbe = 2)
    assert(sorted(rr) === sorted(exact))
    assert(sorted(rr).nonEmpty)
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfSearch(pq, probes, k = 3, nProbe = 2,
        rerank = Some(Similarity.IvfRerank(shortlist = 2, corpus = c)))
    }
    assert(ex.getMessage.contains("shortlist"))
  }
}
