package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ext.Similarity
import graft.ext.Similarity.IvfCodec

/** Streaming IVF maintenance must equal its batch twin: vectors arriving
  * over micro-batches land as increment partitions encoded like the
  * base, probes see them immediately, and base results stay
  * undisturbed. */
class StreamingIvfIngestSpec extends SparkSpec {

  private def vec(seed: Int): Seq[Float] =
    (0 until 8).map(d => math.sin(seed * 31 + d * 7).toFloat)

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def writeBatch(dir: String, name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val lines = rows.map { case (id, v) => s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}""" }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)
  }

  private def build(rows: Seq[(Long, Seq[Float])], centroids: DataFrame,
      codec: IvfCodec): Similarity.IvfIndex =
    Similarity.ivfBuild(df(rows, "vec_id", "embedding"), "vec_id", "embedding",
      centroids, codec)

  private def seed(rows: Seq[(Long, Seq[Float])], nCells: Int): DataFrame =
    Similarity.ivfCentroids(df(rows, "vec_id", "embedding"), "vec_id", "embedding", nCells)

  private def stream(in: String, idx: String, ckpt: String): Unit =
    StreamingIvfIngest.start(spark.readStream.schema(schema).json(in), idx, ckpt)
      .awaitTermination()

  test("streamed increments == batch append: probe-reachable, replay-safe layout") {
    val root = Files.createTempDirectory("graft-sivf").toString
    val (idx, in, ckpt) = (s"$root/idx", s"$root/in", s"$root/ckpt")
    val base = (0L until 60L).map(i => (i, vec(i.toInt)))
    Similarity.ivfWrite(build(base, seed(base, 8), IvfCodec.Raw), idx)

    // batch 1: an exact copy of vector 2 under a new id + a novel vector
    writeBatch(in, "b1.json", Seq((102L, base(2)._2), (110L, vec(987))))
    stream(in, idx, ckpt)

    val probes = df(base.filter(_._1 < 5), "vec_id", "embedding")
    def top1(probe: Long) = Similarity.ivfSearch(Similarity.ivfLoad(spark, idx),
        probes, k = 3, nProbe = 8)
      .filter(col("probe_id") === probe && col("rank") === 1).collect()(0)
    val v2top = top1(2)
    assert(v2top.getAs[Long]("neighbor_id") == 102L)
    assert(v2top.getAs[Double]("sim") == 1.0)

    // batch 2 arrives later: a copy of vector 3 — incremental pickup
    writeBatch(in, "b2.json", Seq((103L, base(3)._2)))
    stream(in, idx, ckpt)
    val v3top = top1(3)
    assert(v3top.getAs[Long]("neighbor_id") == 103L)
    assert(v3top.getAs[Double]("sim") == 1.0)

    // the increment tree is batch_id-partitioned (the replay-overwrite
    // unit) and the base tree is untouched
    val incBatches = spark.read.parquet(s"$idx/cells_inc")
      .select("batch_id").distinct().count()
    assert(incBatches == 2L)
    assert(spark.read.parquet(s"$idx/cells").count() == 60L)

    // streamed index content == an index built over base ∪ new with the
    // base's centroids (same rows, same cells)
    val streamed = Similarity.ivfLoad(spark, idx)
    val twin = build(base ++ Seq((102L, base(2)._2), (110L, vec(987)),
      (103L, base(3)._2)), streamed.centroids, IvfCodec.Raw)
    def rows(ix: Similarity.IvfIndex) = ix.cells.select("neighbor_id", "cell_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(streamed) == rows(twin))
  }

  test("pq-residual stream: increments PQ-encoded, probe-reachable") {
    val root = Files.createTempDirectory("graft-sivf-pq").toString
    val (idx, in, ckpt) = (s"$root/idx", s"$root/in", s"$root/ckpt")
    val base = (0L until 60L).map(i => (i, vec(i.toInt)))
    val codec = IvfCodec.Pq(m = 4, ksub = 8, residual = true)
    val refined = Similarity.ivfRefine(Similarity.ivfAssign(
      df(base, "vec_id", "embedding"), "vec_id", "embedding", seed(base, 8)),
      "embedding")
    Similarity.ivfWrite(build(base, refined, codec), idx)

    // increment ids hash past the base's codebook sample (the ksub ids
    // with the smallest hash), so a build over base ∪ increments samples
    // the SAME codebooks — the twin below is then comparable row by row
    val h = (id: Long) => Similarity.hash52Const(id.toString)
    val cutoff = base.map(b => h(b._1)).sorted.apply(codec.ksub - 1)
    val Seq(copyId, n1, n2) = (1000L until 2000L).filter(h(_) > cutoff).take(3)
    val inc = Seq((copyId, base(2)._2), (n1, vec(987)), (n2, vec(988)))
    writeBatch(in, "b1.json", inc)
    stream(in, idx, ckpt)

    // probe-reachable: an exhaustive search sees every increment, and
    // the copy of vector 2 scores exactly like vector 2 (same cell, same
    // residual codes) from every other probe
    val loaded = Similarity.ivfLoad(spark, idx)
    val scores = Similarity.ivfSearch(loaded,
        df(base.filter(_._1 < 5), "vec_id", "embedding"), k = 100, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (p <- Seq(0L, 1L, 3L, 4L)) {
      inc.foreach { case (id, _) => assert(scores.contains((p, id)), s"probe $p misses $id") }
      assert(scores((p, copyId)) == scores((p, 2L)))
    }

    // cells ∪ cells_inc == an index built over base ∪ increments with
    // the same centroids and codebooks
    val twin = build(base ++ inc, loaded.centroids, codec)
    def codebook(ix: Similarity.IvfIndex) = ix.codebooks.get.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(codebook(twin) == codebook(loaded))
    def lists(ix: Similarity.IvfIndex) = ix.cells.select("neighbor_id", "cell_id", "codes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    assert(lists(loaded).size == 63)
    assert(lists(loaded) == lists(twin))
  }

  test("crash after increment write, before commit: replay never double-inserts") {
    val root = Files.createTempDirectory("graft-sivf-kill").toString
    val (idx, in, ckpt) = (s"$root/idx", s"$root/in", s"$root/ckpt")
    val base = (0L until 40L).map(i => (i, vec(i.toInt)))
    Similarity.ivfWrite(build(base, seed(base, 4), IvfCodec.Raw), idx)
    writeBatch(in, "b1.json", Seq((200L, vec(55)), (201L, vec(56))))

    // attempt 1 dies INSIDE the commit window, increment already on disk
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val s1 = spark.readStream.schema(schema).json(in)
    val q1 = StreamingIvfIngest.start(s1, idx, ckpt,
      afterBatch = _ =>
        if (armed.getAndSet(false))
          throw new RuntimeException("injected crash after write, before commit"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(spark.read.parquet(s"$idx/cells_inc").count() == 2L,
      "crash landed before the write - wrong window")

    // restart: batch 0 replays with the same id, overwrites its partitions
    stream(in, idx, ckpt)
    val inc = Similarity.ivfLoad(spark, idx).cells
      .filter(col("neighbor_id") >= 200L)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(inc == Seq(200L, 201L), s"double-inserted or lost: $inc")
  }
}
