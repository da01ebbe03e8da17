package graft.ext

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Similarity.IvfCodec

/** The IVF index round trip, one row per codec: a search over the
  * persisted index equals the same search over the inline build, the
  * cell partitions are clustered one file per cell, and the lists store
  * only their codec's payload (PQ lists hold codes, never raw vectors). */
class IvfIndexSpec extends SparkSpec {

  private def mk(id: Long): V =
    V(id, (0 until 8).map(d => math.sin(id * 31 + d * 7).toFloat))
  private lazy val corpus = df((0L until 60L).map(mk))
  private def seed = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 8)
  private def refined = Similarity.ivfRefine(
    Similarity.ivfAssign(corpus, "vec_id", "embedding", seed), "embedding")

  // (codec name, codec, centroids, list payload column)
  private val codecs: Seq[(String, IvfCodec, () => DataFrame, String)] = Seq(
    ("raw", IvfCodec.Raw, () => seed, "vec"),
    ("pq", IvfCodec.Pq(m = 4, ksub = 8), () => seed, "codes"),
    ("pq-residual", IvfCodec.Pq(m = 4, ksub = 8, residual = true),
      () => refined, "codes"))

  for ((name, codec, centroids, payload) <- codecs)
    test(s"$name: persisted == inline, one file per cell, lists hold $payload only") {
      val dir = Files.createTempDirectory(s"graft-ivf-$name").toString
      val inline = Similarity.ivfBuild(corpus, "vec_id", "embedding",
        centroids(), codec)
      Similarity.ivfWrite(inline, dir)
      val probes = corpus.filter(col("vec_id") < 5)
      def top(ix: Similarity.IvfIndex) = rowsOf(
        Similarity.ivfSearch(ix, probes, k = 3, nProbe = 2)
          .orderBy("probe_id", "rank"))
      val expected = top(inline)
      assert(expected.size === 15)
      assert(top(Similarity.ivfLoad(spark, dir)) === expected)
      // clustered write: exactly one data file per cell directory
      val cellDirs = new java.io.File(s"$dir/cells").listFiles()
        .filter(_.getName.startsWith("cell_id="))
      assert(cellDirs.nonEmpty)
      cellDirs.foreach { d =>
        assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d.getName)
      }
      assert(spark.read.parquet(s"$dir/cells").schema.fieldNames.toSet
        === Set("neighbor_id", payload, "cell_id"))
    }

  test("ivfLoad without a meta file or with an unknown codec fails, naming the dir") {
    val dir = Files.createTempDirectory("graft-ivf-meta").toString
    Similarity.ivfWrite(Similarity.ivfBuild(corpus, "vec_id", "embedding",
      seed, IvfCodec.Raw), dir)
    val meta = Paths.get(dir, Similarity.IvfMetaFile)
    // edited by hand: drop the local file system's checksum sidecar
    Files.deleteIfExists(Paths.get(dir, s".${Similarity.IvfMetaFile}.crc"))
    Files.write(meta, new String(Files.readAllBytes(meta), "UTF-8")
      .replace("codec=raw", "codec=opq").getBytes("UTF-8"))
    val unknown = intercept[IllegalArgumentException](Similarity.ivfLoad(spark, dir))
    assert(unknown.getMessage.contains(dir) && unknown.getMessage.contains("opq"))
    // an incomplete build, or an index in a layout without the meta file
    Files.delete(meta)
    val missing = intercept[IllegalArgumentException](Similarity.ivfLoad(spark, dir))
    assert(missing.getMessage.contains(dir))
  }
}
