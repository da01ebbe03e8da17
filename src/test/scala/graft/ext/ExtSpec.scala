package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Invariants of the scale-path extension operators: the banded/LSH
  * plans must relate provably to their exact all-pairs twins. */
class ExtSpec extends SparkSpec {

  private def docs = {
    // 30 docs in 10 near-dup triples: a base sentence, one word swapped,
    // one word appended — high-overlap pairs the sketches must find.
    val rows = (0 until 10).flatMap { g =>
      val base = s"the quick brown fox $g jumps over the lazy dog near river $g bank today"
      Seq(
        (g * 3L, base),
        (g * 3L + 1, base.replace("lazy", "sleepy")),
        (g * 3L + 2, base + " again"))
    }
    df(rows, "doc_id", "text")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dedupParagraphs: first occurrence survives, docs reassemble in order") {
    val d = df(Seq(
      (0L, "a b c d e f g h"),        // both paras novel
      (1L, "a b c d x y z w"),        // para 0 repeats doc 0's → dropped
      (2L, "a b c d e f g h"),        // full duplicate → nothing kept
      (3L, "x y z")), "doc_id", "text") // short doc: one sub-window para
    val out = rowsOf(Dedup.dedupParagraphs(d, "doc_id", "text", paraTokens = 4)
      .orderBy("doc_id"))
    assert(out === Seq(
      Seq(0L, 2L, 2L, md5hex("a b c d e f g h")),
      Seq(1L, 2L, 1L, md5hex("x y z w")),
      Seq(2L, 2L, 0L, md5hex("")),
      Seq(3L, 1L, 1L, md5hex("x y z"))))
  }

  test("dedupSpans: duplicated k-token spans cut, gaps merge into spans") {
    // k=3. "a b c d" appears in docs 0 and 1 → windows (a b c), (b c d)
    // duplicated → positions 0..3 covered in both. Doc 0 additionally
    // repeats "x y z" INSIDE itself (positions 4..6 and 8..10, two
    // windows with the same fp) → covered; position 7 ("q") survives
    // alone. Doc 2 shares nothing. Doc 3 is shorter than k.
    val d = df(Seq(
      (0L, "a b c d x y z q x y z"),
      (1L, "a b c d p r s"),
      (2L, "u v w t u u v"),
      (3L, "a b")), "doc_id", "text")
    val out = rowsOf(Dedup.dedupSpans(d, "doc_id", "text", k = 3).orderBy("doc_id"))
    assert(out === Seq(
      // doc 0: covered 0..6, 8..10 → 10 dup tokens, 2 spans, "q" kept
      Seq(0L, 11L, 10L, 2L, md5hex("q")),
      // doc 1: covered 0..3 → "p r s" kept
      Seq(1L, 7L, 4L, 1L, md5hex("p r s")),
      Seq(2L, 7L, 0L, 0L, md5hex("u v w t u u v")),
      Seq(3L, 2L, 0L, 0L, md5hex("a b"))))
  }

  test("dedupIncrement: history fps drop copies, increment dedups itself") {
    val history = df(Seq((1L, "seen before"), (2L, "also seen")), "doc_id", "text")
    val inc = df(Seq(
      (10L, "brand new"),
      (11L, "seen before"),   // exact copy of history doc 1 → drops
      (12L, "twice in batch"),
      (13L, "twice in batch") // in-increment dup → 12 wins
    ), "doc_id", "text")
    val out = rowsOf(Dedup.dedupIncrement(inc,
        Dedup.exactGroups(history, "doc_id", "text").select("fp"),
        "doc_id", "text")
      .orderBy("doc_id"))
    assert(out.map(_.head) === Seq(10L, 12L))
    assert(out.forall(_(1).asInstanceOf[String].length == 32)) // md5 hex fps
  }

  test("simhashPairs: banded plan == all-pairs plan (pigeonhole recall)") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
    val banded = rowsOf(Dedup.simhashPairs(sh, "doc_id", maxHamming = 6)
      .orderBy("doc_id_a", "doc_id_b"))
    val allPairs = rowsOf(Dedup.simhashPairs(sh, "doc_id", maxHamming = 6, smallData = true)
      .orderBy("doc_id_a", "doc_id_b"))
    assert(banded === allPairs)
    assert(banded.nonEmpty) // the fixture must actually produce near-dups
  }

  test("jaccardOnCandidates agrees with exact all-pairs jaccard on candidates") {
    val sh = Dedup.shingles(docs.withColumn("source", lit("s")), "doc_id", "text", 3,
      carry = Seq("source"))
    val shPlain = sh.select("doc_id", "shingle")
    val sig = Dedup.minhashSignature(shPlain, "doc_id")
    val cands = Dedup.candidatePairs(sig, "doc_id")
    val fromCands = rowsOf(Dedup.jaccardOnCandidates(shPlain, cands, "doc_id")
      .orderBy("doc_id_a", "doc_id_b"))
    val exact = Dedup.jaccardPairs(sh, "doc_id", "source")
    val candSet = rowsOf(cands).map(r => (r(0), r(1))).toSet
    val exactOnCands = rowsOf(exact.orderBy("doc_id_a", "doc_id_b"))
      .filter(r => candSet.contains((r(0), r(1))))
    assert(fromCands === exactOnCands)
    assert(fromCands.nonEmpty)
  }

  test("connectedComponents: min-label clusters across chains, stars, pairs") {
    // components: chain 1-2-3, star 10-{11,12,13}, pair 20-21; the
    // chain needs >1 propagation round (label 1 must cross two hops)
    val edges = df(Seq(
      (2L, 1L), (2L, 3L),
      (10L, 11L), (10L, 12L), (13L, 10L),
      (21L, 20L)), "a", "b")
    val out = rowsOf(Dedup.connectedComponents(edges, "a", "b")
      .orderBy("node"))
    assert(out === Seq(
      Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L),
      Seq(10L, 10L), Seq(11L, 10L), Seq(12L, 10L), Seq(13L, 10L),
      Seq(20L, 20L), Seq(21L, 20L)))
  }

  test("fast (xxhash64) minhash path: same exact-dup recall as the md5 path") {
    // identical shingle SETS give identical signatures under EITHER
    // hash, so every exact-duplicate pair must surface as a candidate
    // with est_jaccard 1.0 on both paths — the property that pins the
    // scale path to the oracle-checked one (no DuckDB twin for xxhash64)
    val base = docs
    val dups = base.withColumn("doc_id", col("doc_id") + 100L)
    val corpus = base.unionByName(dups)
    val sh = Dedup.shingles(corpus, "doc_id", "text", 3)
    val dupPairs = (0 until 30).map(i => (i.toLong, i + 100L)).toSet
    Seq(false, true).foreach { fast =>
      val sig = Dedup.minhashSignature(sh, "doc_id", fast = fast)
      val found = rowsOf(Dedup.minhashCandidates(sig, "doc_id"))
        .map(r => (r(0), r(1)) -> r(2)).toMap
      dupPairs.foreach { p =>
        assert(found.get(p).contains(1.0),
          s"fast=$fast must find exact-dup pair $p with est_jaccard 1.0")
      }
    }
  }

  private def vecs = {
    // 20 vectors in 5 clusters: base direction + small deterministic
    // perturbation -> within-cluster cosine ~0.99, across ~random.
    val rows = (0 until 20).map { i =>
      val g = i % 5
      val v = Array.tabulate(16) { d =>
        val base = math.sin(g * 16 + d + 1).toFloat
        base + 0.01f * math.cos(i * 16 + d).toFloat
      }
      (i.toLong, v)
    }
    df(rows, "vec_id", "embedding")
  }

  test("nearDupPairsLsh is a subset of all-pairs with identical sims, and finds the clusters") {
    val lsh = rowsOf(Similarity.nearDupPairsLsh(vecs, "vec_id", "embedding",
      minSim = 0.9, bands = 4, rowsPerBand = 8, dim = 16).orderBy("id_a", "id_b"))
    val all = rowsOf(Similarity.nearDupPairs(vecs, "vec_id", "embedding", minSim = 0.9)
      .orderBy("id_a", "id_b"))
    val allMap = all.map(r => (r(0), r(1)) -> r(2)).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { r => assert(allMap.get((r(0), r(1))).contains(r(2))) }
    // high-sim twins (~0.99) should essentially all collide in some band
    assert(lsh.size * 10 >= all.size * 9, s"recall ${lsh.size}/${all.size} below 90%")
  }

  test("annTopK candidates rank identically to brute force where buckets collide") {
    val ann = rowsOf(Similarity.annTopK(vecs, "vec_id", "embedding", k = 1,
      nBits = 4, dim = 16, probeFilter = col("vec_id") < 5, nTables = 4))
    val brute = rowsOf(Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 1))
    // with 4 tables x 4 bits on clustered data, top-1 should match brute force
    assert(ann.toSet === brute.toSet)
  }

  test("rpBucket is frozen (plan literal derivation must not drift)") {
    val one = df(Seq((1L, Array.fill(4)(1.0f))), "vec_id", "embedding")
    val b = rowsOf(one.select(Similarity.rpBucket(col("embedding"), 8, 4).as("b"))).head.head
    // hand-derived from hash52Const("rp-<bit>-<d>") % 2001 - 1000 sign sums
    val expected = (0 until 8).map { bit =>
      val s = (0 until 4).map(d => (Similarity.hash52Const(s"rp-$bit-$d") % 2001L) - 1000L).sum
      if (s >= 0) 1L << (7 - bit) else 0L
    }.sum
    assert(b === expected)
  }

  /** Raw-codec IVF search over `vecs`, probes vec_id < 5. */
  private def ivfTopK(k: Int, nCells: Int, nProbe: Int) = rowsOf(
    Similarity.ivfSearch(Similarity.ivfBuild(vecs, "vec_id", "embedding",
        Similarity.ivfCentroids(vecs, "vec_id", "embedding", nCells),
        Similarity.IvfCodec.Raw),
      vecs.filter(col("vec_id") < 5), k, nProbe))

  test("ivfTopK with one cell and one probe degrades to brute force") {
    // nCells=1 puts the whole corpus in a single inverted list, so the
    // candidate set is exhaustive and IVF must equal the exact baseline
    val ivf = ivfTopK(k = 2, nCells = 1, nProbe = 1)
    val brute = rowsOf(Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 2))
    assert(ivf.toSet === brute.toSet)
    assert(ivf.nonEmpty)
  }

  test("ivfAssign maps every vector to a same-cluster cell when one exists") {
    // fixture clusters are ~0.99995 cosine internally (ties at the
    // 4-decimal round, broken toward the smallest cell id) and ~random
    // across — so whenever a centroid from the vector's own cluster
    // exists, the assigned cell must be from that cluster
    val cents = Similarity.ivfCentroids(vecs, "vec_id", "embedding", 4)
    val centClusters = rowsOf(cents.select("cell_id"))
      .map(_.head.asInstanceOf[Long] % 5).toSet
    val assigned = rowsOf(
      Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
        .select("vec_id", "cell_id"))
    assert(assigned.size === 20)
    assigned.foreach { r =>
      val (vid, cid) = (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])
      if (centClusters.contains(vid % 5))
        assert(cid % 5 === vid % 5, s"vec $vid left its cluster for cell $cid")
    }
  }

  test("ivfRefine is the element-wise mean of each cell's members") {
    val members = df(Seq(
      (1L, Array(1.0f, 2.0f), 10L), (2L, Array(3.0f, 4.0f), 10L),
      (3L, Array(5.0f, 6.0f), 20L)), "vec_id", "embedding", "cell_id")
    val refined = rowsOf(Similarity.ivfRefine(members, "embedding").orderBy("cell_id"))
    assert(refined === Seq(Seq(10L, Seq(2.0, 3.0)), Seq(20L, Seq(5.0, 6.0))))
  }

  test("ivfTopK recovers brute-force top-1 on clustered data") {
    // 5 natural clusters; probe every cell's 2 nearest lists — the
    // same-cluster neighbor must be found even when cells split oddly
    val ivf = ivfTopK(k = 1, nCells = 5, nProbe = 3)
    val brute = rowsOf(Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 1))
    val bruteMap = brute.map(r => r(0) -> r(1)).toMap
    ivf.foreach { r =>
      assert(bruteMap(r(0)) === r(1), s"probe ${r(0)} missed its true neighbor")
    }
    assert(ivf.size === brute.size)
  }

  test("winnow gram hash is frozen (hand-derived polynomial value)") {
    // one doc of exactly k=8 normalized chars -> one gram -> its hash
    // must equal sum(ascii * B^(k-1-j)) mod P with B=257
    val d = df(Seq((1L, "abcdefgh")), "doc_id", "text")
    val fps = rowsOf(TextAnalysis.winnowFingerprints(d, "doc_id", "text"))
    val expected = "abcdefgh".zipWithIndex.map { case (c, j) =>
      c.toLong * TextAnalysis.winnowPowers(8)(j) % DetHash.P
    }.sum % DetHash.P
    assert(fps === Seq(Seq(1L, expected)))
  }

  test("winnowFingerprints: identical docs share all fps; short docs yield none") {
    val d = df(Seq(
      (1L, "The quick brown fox jumps over the lazy dog today"),
      (2L, "The quick brown fox jumps over the lazy dog today"),
      (3L, "tiny")), "doc_id", "text") // 4 normalized chars < k=8
    val fps = rowsOf(TextAnalysis.winnowFingerprints(d, "doc_id", "text"))
      .groupBy(_.head).map { case (id, rs) => id -> rs.map(_(1)).toSet }
    assert(fps(1L) === fps(2L))
    assert(fps(1L).nonEmpty)
    assert(!fps.contains(3L))
  }

  test("winnowCandidates surfaces the near-dup triples via shared fingerprints") {
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text")
    val pairs = rowsOf(TextAnalysis.winnowCandidates(fps, "doc_id",
      maxDf = 30, minShared = 3).orderBy("id_a", "id_b"))
    assert(pairs.nonEmpty)
    // every within-triple pair (sentences differ by one word) must appear
    val found = pairs.map(r => (r(0), r(1))).toSet
    (0 until 10).foreach { g =>
      assert(found.contains((g * 3L, g * 3L + 1)), s"triple $g pair (0,1) missed")
    }
  }

  test("binaryFile source round-trip: bytes, lengths, magic sniffing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-binfiles")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    val gz = Array(0x1f, 0x8b, 0x08, 0x00, 0x01).map(_.toByte)
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a).map(_.toByte)
    val jpg = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte)
    val txt = "plain text".getBytes("UTF-8")
    put("a.gz", gz); put("b.png", png); put("c.jpg", jpg); put("d.txt", txt)

    val read = Multimodal.readBinaryFiles(spark, dir.toString)
      .withColumn("magic", Multimodal.sniffMagic(col("payload")))
      .withColumn("name", regexp_extract(col("path"), "([^/]+)$", 1))
      .select("name", "byte_len", "magic", "payload")
    val rows = rowsOf(read.orderBy("name"))
    assert(rows.map(r => (r(0), r(1), r(2))) === Seq(
      ("a.gz", gz.length.toLong, "gzip"),
      ("b.png", png.length.toLong, "png"),
      ("c.jpg", jpg.length.toLong, "jpeg"),
      ("d.txt", txt.length.toLong, "unknown")))
    // payload bytes arrive verbatim (no charset mangling)
    assert(rows.head(3).asInstanceOf[Array[Byte]].toSeq === gz.toSeq)
  }

  test("classifyQuality: frozen linear scorer ranks prose above junk, keep == logit>0") {
    val d = df(Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then it was done"),
      (2L, "$$$ ### 12345 67890 !!! ??? 00000 %%% @@@ 999")), "doc_id", "text")
    val out = TextAnalysis.classifyQuality(d, "text")
      .select("doc_id", "logit", "keep")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out(1L)._1 > out(2L)._1, s"prose must outscore junk: $out")
    out.values.foreach { case (logit, keep) => assert(keep == (logit > 0)) }
    assert(out(1L)._2 && !out(2L)._2)
  }

  test("real header decode: PNG IHDR + JPEG SOF on genuine codec output") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def bytesOf(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, baos), s"JDK has no $fmt writer")
      baos.toByteArray
    }
    // real files from the JDK's own encoders — not handcrafted headers
    val png = bytesOf("png", 37, 21)
    val jpg = bytesOf("jpg", 64, 48)
    assert(Multimodal.pngDims(png) === Some((37, 21)))
    assert(Multimodal.jpegDims(jpg) === Some((64, 48)))
    assert(Multimodal.pngDims(jpg) === None)
    assert(Multimodal.jpegDims(png) === None)
    assert(Multimodal.pngDims(Array.empty[Byte]) === None)
    assert(Multimodal.jpegDims(png.take(3)) === None)

    // expression tier reads the same real PNG bytes
    val media = df(Seq(Tuple1(1L)), "doc_id")
      .select(col("doc_id"), lit("image/png").as("media_type"),
        lit(png).as("payload"))
    assert(rowsOf(Multimodal.withPngHeaderMeta(media)
      .select("width", "height")) === Seq(Seq(37, 21)))

    // mapPartitions tier parses and routes both formats
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "image/png", png),
      Multimodal.MediaRow(2L, "image/jpeg", jpg),
      Multimodal.MediaRow(3L, "video/mp4", Array[Byte](0, 1, 2)))
    val decoded = rowsOf(
      Multimodal.decodeHeaders(spark, spark.createDataset(rows).toDF())
        .toDF().select("doc_id", "container", "width", "height")
        .orderBy("doc_id"))
    assert(decoded === Seq(
      Seq(1L, "png", 37, 21),
      Seq(2L, "jpeg", 64, 48),
      Seq(3L, "unknown", null, null)))
  }

  test("real pixel decode: ImageIO raster round-trip (png exact, jpeg dims)") {
    import spark.implicits._
    val png = Multimodal.generatePng(5, 4, seed = 3L)
    // PNG is lossless: the decoded channel sum is the generator formula
    val expected = (for (y <- 0 until 4; x <- 0 until 5)
      yield 3L * ((3L + 7 * x + 13 * y) % 256)).sum
    val jpg = {
      val img = new java.awt.image.BufferedImage(
        6, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", baos))
      baos.toByteArray
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "image/png", png),
      Multimodal.MediaRow(2L, "image/jpeg", jpg),
      Multimodal.MediaRow(3L, "video/mp4", Array[Byte](0, 1, 2)))
    val out = Multimodal.decodePixels(spark, spark.createDataset(rows).toDF())
      .collect().map(m => m.doc_id -> m).toMap
    val p = out(1L)
    assert(p.container === "png")
    assert((p.width, p.height) === ((Some(5), Some(4))))       // header parse
    assert((p.px_width, p.px_height) === ((Some(5), Some(4)))) // decoded raster
    assert(p.rgb_sum === Some(expected))
    val j = out(2L)
    assert(j.container === "jpeg")
    assert((j.px_width, j.px_height) === ((j.width, j.height))) // raster == SOF walk
    assert(j.rgb_sum.isDefined) // lossy: decodable, not analytically predictable
    val v = out(3L)
    assert(v.container === "unknown" && v.px_width.isEmpty && v.rgb_sum.isEmpty)
  }

  test("WAV header decode on genuine JDK audio-encoder output") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wavOf(rate: Float, bits: Int, ch: Int): Array[Byte] = {
      val fmt = new AudioFormat(rate, bits, ch, true, false)
      val pcm = new Array[Byte](fmt.getFrameSize * 4) // 4 silent frames
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 4L)
      val baos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val wav = wavOf(16000f, 16, 2)
    val media = df(Seq(Tuple1(1L)), "doc_id")
      .select(col("doc_id"), lit("audio/wav").as("media_type"),
        lit(wav).as("payload"))
    val parsed = rowsOf(Multimodal.withWavHeaderMeta(media)
      .select("channels", "sample_rate", "bits_per_sample"))
    assert(parsed === Seq(Seq(2, 16000, 16)))
    // constructed headers parse back identically (the q100 round trip)
    val built = df(Seq((7L, 1, 44100, 24)), "doc_id", "ch", "sr", "bps")
      .select(col("doc_id"), lit("audio/wav").as("media_type"),
        Multimodal.wavHeaderPayload(col("ch"), col("sr"), col("bps")).as("payload"))
    assert(rowsOf(Multimodal.withWavHeaderMeta(built)
      .select("channels", "sample_rate", "bits_per_sample")) ===
      Seq(Seq(1, 44100, 24)))
    // non-WAV payloads yield nulls, not garbage
    val png = df(Seq(Tuple1(2L)), "doc_id")
      .select(col("doc_id"), lit("x").as("media_type"),
        unhex(lit("89504E470D0A1A0A")).as("payload"))
    assert(rowsOf(Multimodal.withWavHeaderMeta(png)
      .select("channels", "sample_rate", "bits_per_sample")) ===
      Seq(Seq(null, null, null)))
  }

  test("pngHeaderPayload round-trips through both real parsers") {
    val media = df(Seq((5L, 1234, 7), (6L, 16, 65535)), "doc_id", "w", "h")
      .select(col("doc_id"), lit("image/png").as("media_type"),
        Multimodal.pngHeaderPayload(col("w"), col("h")).as("payload"))
    assert(rowsOf(Multimodal.withPngHeaderMeta(media)
      .select("width", "height").orderBy("width")) ===
      Seq(Seq(16, 65535), Seq(1234, 7)))
    val walked = rowsOf(Multimodal.decodeHeaders(spark, media).toDF()
      .select("container", "width", "height").orderBy("width"))
    assert(walked === Seq(Seq("png", 16, 65535), Seq("png", 1234, 7)))
  }

  test("sampleFrames keeps every stride-th frame index up to maxFrames") {
    val d = df(Seq((1L, 7), (2L, 2)), "doc_id", "n_frames")
    val f = Multimodal.sampleFrames(d, stride = 2, maxFrames = 3)
    assert(rowsOf(f.orderBy("doc_id", "frame_idx")) === Seq(
      Seq(1L, 0), Seq(1L, 2), Seq(1L, 4), Seq(2L, 0)))
  }

  test("withResizeDims: aspect-preserving fit, floors, never upscales") {
    val d = df(Seq(
      (1L, 100, 50),  // width binds: 100x50 -> 64x32
      (2L, 50, 100),  // height binds: 50x100 -> 32x64
      (3L, 20, 30),   // already fits: unchanged
      (4L, 1000, 3),  // extreme aspect: height floors to >= 1
      (5L, 90, 60)),  // width binds, floor: 90x60 -> 64x42 (60*64/90 = 42.67)
      "doc_id", "width", "height")
    val r = Multimodal.withResizeDims(d, maxW = 64, maxH = 64)
    assert(rowsOf(r.select("doc_id", "out_width", "out_height").orderBy("doc_id")) ===
      Seq(Seq(1L, 64, 32), Seq(2L, 32, 64), Seq(3L, 20, 30),
        Seq(4L, 64, 1), Seq(5L, 64, 42)))
  }

  test("video header decode: MP4 box walk and AVI chunk walk round-trip") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "video/mp4",
        Multimodal.generateMp4(width = 640, height = 360, durationMs = 2500L)),
      Multimodal.MediaRow(2L, "video/x-msvideo",
        Multimodal.generateAvi(width = 320, height = 240, nFrames = 100,
          usecPerFrame = 40000)),
      Multimodal.MediaRow(3L, "video/mp4", Array[Byte](1, 2, 3)))
    val out = rowsOf(Multimodal.decodeVideoHeaders(spark,
        spark.createDataset(rows).toDF()).toDF()
      .select("doc_id", "container", "width", "height", "duration_ms", "n_frames")
      .orderBy("doc_id"))
    assert(out === Seq(
      Seq(1L, "mp4", 640, 360, 2500L, null),
      Seq(2L, "avi", 320, 240, 4000L, 100), // 100 frames * 40ms
      Seq(3L, null, null, null, null, null)))
  }

  test("real NN resize: resampled sums match the explicit index math") {
    import spark.implicits._
    val png = Multimodal.generatePng(9, 7, seed = 5L)
    // NN grid: src(x,y) = (x*9 div 3, y*7 div 2)
    val expected = (for (y <- 0 until 2; x <- 0 until 3)
      yield 3L * ((5L + 7 * (x * 9 / 3) + 13 * (y * 7 / 2)) % 256)).sum
    val rows = Seq(
      Multimodal.MediaRow(1L, "image/png", png),
      Multimodal.MediaRow(2L, "video/mp4", Array[Byte](9, 9)))
    val out = Multimodal.resizePixels(spark,
        spark.createDataset(rows).toDF(), dstW = 3, dstH = 2)
      .collect().map(m => m.doc_id -> m).toMap
    assert(out(1L).rgb_sum === Some(expected))
    assert((out(1L).src_w, out(1L).src_h) === ((Some(9), Some(7))))
    assert((out(1L).dst_w, out(1L).dst_h) === ((3, 2)))
    assert(out(2L).rgb_sum.isEmpty && out(2L).src_w.isEmpty) // undecodable
    // upscale is legal for NN: 1x1 source to 2x2 repeats the pixel
    val one = Multimodal.generatePng(1, 1, seed = 9L)
    val up = Multimodal.resizePixels(spark,
        spark.createDataset(Seq(Multimodal.MediaRow(3L, "image/png", one))).toDF(),
        dstW = 2, dstH = 2).collect().head
    assert(up.rgb_sum === Some(4 * 3L * (9L % 256)))
  }

  test("real PCM frame sampling: stride walk over the actual data chunk") {
    import spark.implicits._
    val wav = Multimodal.generateWavPcm(10, seed = 4L)
    assert(wav.length === 54)
    // header fields parse back through the expression tier (canonical)
    val hdr = Multimodal.withWavHeaderMeta(
      spark.createDataset(Seq(Multimodal.MediaRow(1L, "audio/wav", wav))).toDF())
      .select("channels", "sample_rate", "bits_per_sample")
    assert(rowsOf(hdr) === Seq(Seq(1, 8000, 8)))
    val rows = Seq(
      Multimodal.MediaRow(1L, "audio/wav", wav),
      Multimodal.MediaRow(2L, "audio/wav", "nope".getBytes))
    def sums(stride: Int) = Multimodal.samplePcmFrames(spark,
        spark.createDataset(rows).toDF(), stride)
      .collect().map(m => m.doc_id -> m).toMap
    val s3 = sums(3)
    // samples (4 + 11*i) % 256 at i = 0,3,6,9
    assert(s3(1L).sample_sum ===
      Some(Seq(0, 3, 6, 9).map(i => (4L + 11 * i) % 256).sum))
    assert(s3(1L).n_samples === Some(10) && s3(1L).n_sampled === Some(4))
    assert(s3(2L).n_samples.isEmpty) // not a canonical WAV → nulls
    // stride 1 = every sample
    assert(sums(1)(1L).sample_sum ===
      Some((0 until 10).map(i => (4L + 11 * i) % 256).sum))
  }
}
