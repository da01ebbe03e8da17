package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline (probe-set × corpus,
  * pruned by a row_number window). The scale path is random-hyperplane
  * LSH: sign-bit buckets over deterministic pseudo-random planes, so
  * candidate generation is an equi-join on (table, bucket) — never a
  * cross join — with exact cosine only on candidates. Multi-table
  * probing ([[rpTables]]) trades candidate count for recall:
  * P(candidate | cos θ) = 1 - (1 - (1 - θ/π)^nBits)^nTables.
  *
  * All plane projections are built from ONE array-of-arrays literal +
  * `aggregate(zip_with(...))` — a compact plan (the naive unrolled
  * nBits×dim expression tree produced MiB-scale task binaries).
  *
  * All arithmetic is done in DOUBLE after an explicit cast — float
  * accumulation order would otherwise differ between engines and break
  * the oracle hash.
  */
object Similarity {

  /** Cosine similarity between two embedding columns, computed in
    * double by the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression — one fused allocation-free loop per row, no shuffle,
    * no UDF, and the surrounding WholeStageCodegen span stays intact
    * (the composed `aggregate(zip_with(...))` form is CodegenFallback).
    * Exact result parity with the composed form: same double widening,
    * same left-to-right accumulation order. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** Brute-force cosine top-k: for each probe row, the k nearest corpus
    * rows (excluding itself). Ranking uses the ROUNDED similarity with
    * the neighbor id as tie-break, so results are reproducible across
    * engines and runs. Broadcast the probe side: the corpus never
    * shuffles. */
  def bruteForceTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("probe_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "sim", "rank")
  }

  /** Attribute-filtered exact top-k — metadata-constrained vector
    * search (the "nearest neighbors with the same language / source /
    * label" query every curation pipeline runs). The constraint is a
    * PRE-filter pushed into candidate generation itself: candidates
    * come from an equi-join ON the filter column (probes broadcast),
    * so a probe only ever scores matching rows. Post-filtering a
    * plain top-k would both waste the non-matching scores and
    * silently return fewer than k survivors. */
  def filteredTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, filterCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), col(filterCol).as("__f"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("vec"), col(filterCol).as("__f"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(p), "__f")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("probe_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "sim", "rank")
  }

  /** Scalar int8 quantization of the embedding column: per-vector
    * scale = max|x| / 127, components rounded to [-127, 127]. The
    * 4× storage cut (and the integer dot products it enables) is the
    * standard first rung of the ANN memory ladder (IVF-PQ being the
    * next). Cosine needs NO dequantization: the per-vector scales
    * cancel, so similarity on the int arrays equals similarity on the
    * dequantized vectors — and because int8 dots are EXACT in doubles
    * (≤ 127²·dim ≪ 2⁵³), the quantized cosine is bit-deterministic
    * under any accumulation order, which float embeddings are not.
    * All-zero vectors quantize to all zeros (scale 0 guard). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
        (array_max(transform(col(vecCol), x => abs(x.cast("double")))) / 127.0)
          .as("q_scale"),
        col(vecCol))
      .withColumn("qvec",
        when(col("q_scale") === 0.0,
          transform(col(vecCol), _ => lit(0)))
          .otherwise(transform(col(vecCol),
            x => round(x.cast("double") / col("q_scale")).cast("int"))))
      .drop(vecCol)

  /** Brute-force top-k over int8-quantized vectors — [[bruteForceTopK]]
    * with the similarity computed on the quantized arrays (cast to
    * double for the fused cosine expression; values stay exact). */
  def quantizedTopK(corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qvec").cast("array<double>").as("vec"))
    val p = quantizeInt8(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("qvec").cast("array<double>").as("probe_vec"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("qsim").desc, col("neighbor_id"))
    c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("qsim", round(cosine(col("probe_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "qsim", "rank")
  }

  /** All near-duplicate pairs by cosine threshold, ALL-PAIRS form:
    * O(n²) BroadcastNestedLoopJoin — small data / oracle twin ONLY.
    * The registered scale path is [[nearDupPairsLsh]]. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, minSim: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("vec_a"), col("vec_b")), 4))
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b", "sim")
  }

  /** Near-duplicate pairs at scale: banded random-hyperplane LSH
    * candidates (equi-join on (band, bucket)) + exact-cosine verify.
    * Shuffles on the bucket key — the all-pairs product never
    * materializes. Recall vs [[nearDupPairs]] follows the banding
    * formula in the class doc (bands = nTables, rowsPerBand = nBits);
    * pairs missed by every band are absent, so callers pick band shape
    * by target similarity. */
  def nearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      minSim: Double, bands: Int, rowsPerBand: Int, dim: Int): DataFrame = {
    val t = rpTables(df, idCol, vecCol, rowsPerBand, bands, dim)
    val a = t.toDF("id_a", "vec_a", "band", "bucket")
    val b = t.toDF("id_b", "vec_b", "band", "bucket")
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "vec_a", "id_b", "vec_b").distinct()
      .withColumn("sim", round(cosine(col("vec_a"), col("vec_b")), 4))
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b", "sim")
  }

  // ------------------------------------------------------------------
  // Product quantization (the rung above int8 on the ANN memory ladder:
  // dim doubles → m one-byte codes, 32× at dim=64/m=8, with
  // asymmetric-distance search that never decodes the corpus).
  // ------------------------------------------------------------------

  /** PQ codebooks: split the dim-`dim` space into `m` contiguous
    * subspaces of dim/m; subspace j's codebook is the j-th subvector of
    * the same deterministic hash-ordered sample that seeds
    * [[ivfCentroids]] (ksub rows, code = sample rank). Sampled
    * codebooks are the standard PQ bootstrap (k-means refinement bolts
    * on exactly like [[ivfRefine]]); determinism is what makes the
    * oracle possible. Output: (subspace, code, centroid<array<double>>),
    * EAGERLY materialized (m×ksub rows collected at call time) so the
    * several downstream consumers — encode, each LUT build, every
    * packCodebooks — never re-run the corpus-wide sample sort. */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): DataFrame = {
    require(m > 0 && ksub > 0 && ksub <= 256,
      s"need m > 0 and 0 < ksub <= 256 (one-byte codes), got m=$m ksub=$ksub")
    val sample = df
      .select(col(idCol), transform(col(vecCol), _.cast("double")).as("__v"))
      .orderBy(DetHash.hash52(col(idCol).cast("string")), col(idCol))
      .limit(ksub)
      .withColumn("code",
        row_number().over(Window.orderBy(
          DetHash.hash52(col(idCol).cast("string")), col(idCol))) - 1)
    val dsub = (size(col("__v")) / lit(m)).cast("int")
    // m x ksub rows with corpus-wide lineage (the sample sort): every
    // consumer (encode, each LUT build, packCodebooks) re-runs it
    // unless localized here
    localize(sample.select(col("code"),
        explode(transform(sequence(lit(0), lit(m - 1)), j =>
          struct(j.as("subspace"),
            slice(col("__v"), j * dsub + 1, dsub).as("centroid"))))
          .as("sc"))
      .select(col("sc.subspace").as("subspace"), col("code"),
        col("sc.centroid").as("centroid")))
  }

  /** One Lloyd refinement step over PQ codebooks — the [[ivfRefine]]
    * move applied per subspace: every vector's subvector j is assigned
    * to its current argmin code (the [[pqEncode]] rule), and each
    * (subspace, code) centroid becomes the element-wise mean of its
    * members, components rounded to 6 decimals. Codes that lost all
    * members keep their original centroid so the codebook stays the
    * full m×ksub grid [[pqEncode]]'s consumed guard requires. One
    * map-side corpus pass (broadcast codebooks, explode to dim rows
    * per vector) + one groupBy shuffle — the q48 shape.
    *
    * Motivation is measured, not argued: hash-sampled codebooks bound
    * flat-PQ recall@10 at 0.113 (m=8) on the sf0.1 embeddings; one
    * refinement step lifts it (RecallSweep table in SCALING.md, q107
    * pins the refined path end-to-end).
    *
    * `trainCap` > 0 bounds the TRAINING SET to the first `trainCap`
    * vectors in deterministic hash order (the same ordering that seeds
    * [[pqCodebooks]]) — the FAISS discipline: at corpus scale nobody
    * Lloyd-steps 100 TB; you train on a fixed-size sample and encode
    * everything. 0 = train on the full frame (small-corpus exact
    * mode). The refinement pass then touches `trainCap` rows instead
    * of the corpus, while encode remains a full map-side pass. */
  def pqRefineCodebooks(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, ksub: Int, trainCap: Int = 0): DataFrame = {
    require(m > 0 && ksub > 0, s"need m > 0 and ksub > 0, got m=$m ksub=$ksub")
    val train =
      if (trainCap > 0)
        df.orderBy(DetHash.hash52(col(idCol).cast("string")), col(idCol))
          .limit(trainCap)
      else df
    val v = transform(col(vecCol), _.cast("double"))
    val dsub = (size(col("__v")) / lit(m)).cast("int")
    val members = train.crossJoin(broadcast(packCodebooks(codebooks)))
      // materialize codes/doubles once per row: referencing the argmin
      // expression inside the per-subspace transform would re-run the
      // whole m×ksub distance scan m times
      .withColumn("__v", v)
      .withColumn("__codes", pqCodesExpr(col("__v"), m, ksub))
      .select(explode(transform(sequence(lit(0), lit(m - 1)), j =>
        struct(j.as("subspace"),
          element_at(col("__codes"), (j + 1).cast("int")).as("code"),
          slice(col("__v"), j * dsub + 1, dsub).as("sv")))).as("e"))
      .select(col("e.subspace").as("subspace"), col("e.code").as("code"),
        posexplode(col("e.sv")).as(Seq("i", "x")))
    val refined = members
      .groupBy("subspace", "code", "i")
      .agg(round(avg(col("x")), 6).as("x"))
      .groupBy("subspace", "code")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("x")))),
        e => e.getField("x")).as("centroid"))
    localize(codebooks
      .select(col("subspace"), col("code"), col("centroid").as("__c0"))
      .join(refined, Seq("subspace", "code"), "left")
      .select(col("subspace"), col("code"),
        coalesce(col("centroid"), col("__c0")).as("centroid")))
  }

  /** Codebooks packed into one broadcastable row, ordered by
    * (subspace, code) so `element_at(cents, subspace*ksub + code + 1)`
    * is the lookup. A local frame (every [[pqCodebooks]] /
    * [[pqRefineCodebooks]] result) is packed on the driver, as
    * [[packCentroids]] does; (subspace, code) is unique there, so its
    * order is the aggregate's `array_sort` order. */
  private def packCodebooks(codebooks: DataFrame): DataFrame = {
    val c = codebooks.select(col("subspace"), col("code"), col("centroid"))
    if (c.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      c.sparkSession.createDataFrame(
        java.util.Collections.singletonList(Row(c.collect().toSeq
          .sortBy(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
          .map(_.get(2)))),
        StructType(Seq(StructField("__cb",
          ArrayType(c.schema("centroid").dataType, containsNull = false)))))
    else c.agg(transform(
      array_sort(collect_list(struct(
        col("subspace"), col("code"), col("centroid")))),
      e => e.getField("centroid")).as("__cb"))
  }

  /** PQ encoding: each vector → `m` one-byte codes, code j = argmin
    * rounded L2 distance between subvector j and subspace j's
    * codebook (ties → smaller code, via lexicographic struct-min).
    * Map-side only: one tiny broadcast, no shuffle, stays in codegen. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, ksub: Int): DataFrame = {
    require(m > 0 && ksub > 0, s"need m > 0 and ksub > 0, got m=$m ksub=$ksub")
    df.crossJoin(broadcast(packCodebooks(codebooks)))
      .select(col(idCol),
        pqCodesExpr(transform(col(vecCol), _.cast("double")), m, ksub)
          .as("codes"))
  }

  /** The guarded code-assignment expression of [[pqEncode]], for plans
    * that fuse encoding with other per-row derivations (the IVF-PQ
    * list builders compute cell_id and codes in ONE corpus pass instead
    * of two passes joined on id). Requires the packed `__cb` column in
    * scope. The guard lives INSIDE the consumed expression (cannot be
    * pruned): a dim not divisible by m would silently drop the last
    * dim % m components from every code, and a sampled codebook shorter
    * than m×ksub (corpus < ksub) would make out-of-range element_at
    * NULLs win every argmin — both are data-shape bugs to fail loudly
    * on. */
  private def pqCodesExpr(vecDoubles: Column, m: Int, ksub: Int): Column = {
    val v = vecDoubles
    // NATIVE encode (graft.functions.PqEncodeExpr): the composed
    // transform/zip_with/aggregate argmin was CodegenFallback — every
    // corpus row paid m×ksub×dsub interpreted lambda dispatches plus a
    // struct allocation per candidate code. One JVM loop now; values
    // bit-identical (rounding, NaN/null ordering, tie-to-smaller-code
    // — QuantizeSpec + the PQ oracle rows pin it). The shape guard
    // stays INSIDE the consumed expression, exactly as before.
    val codes = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqEncodeExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(v),
        org.apache.spark.sql.GraftColumnBridge.expression(col("__cb")),
        m, ksub))
    when(size(v) % m === 0 && size(col("__cb")) === m * ksub, codes)
      .otherwise(raise_error(format_string(
        s"pqEncode: need dim %% $m == 0 and a full codebook of ${m * ksub} " +
          s"entries; got dim=%s, codebook=%s (is ksub > corpus size?)",
        size(v), size(col("__cb")))))
  }

  /** Collect a BOUNDED frame into a local relation so its (possibly
    * corpus-wide) lineage executes exactly once — every consumer of a
    * lazy bounded frame would otherwise re-run the derivation (a
    * centroid sample feeds both assignment and probe fan-out). Only
    * call on frames bounded by construction: centroid tables (nCells rows), PQ
    * codebooks (m x ksub rows), per-source counts. The collect is
    * EAGER: the caller's API becomes snapshot-at-composition (document
    * it there). */
  private[ext] def localize(d: DataFrame): DataFrame =
    d.sparkSession.createDataFrame(
      java.util.Arrays.asList(d.collect(): _*), d.schema)

  /** Plain (unrounded) dot product of two double-array columns, fixed
    * left-to-right accumulation. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, d) => acc + d)

  /** The probe's m×ksub ADC lookup table over the packed codebooks
    * column `__cb`: entry (j·ksub + c) = rounded dot of probe
    * subvector j with codebook entry (j, c). */
  private def pqLut(pv: Column, m: Int, ksub: Int): Column =
    // native twin of the composed rounded-dot table (see pqCodesExpr)
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqLutExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(pv),
        org.apache.spark.sql.GraftColumnBridge.expression(col("__cb")),
        m, ksub))

  /** Sum of the `__lut` entries selected by the row's `codes` —
    * native (one JVM loop per candidate row; the aggregate fold was
    * interpreted per row on every probed candidate). */
  private def pqAdc(m: Int, ksub: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqAdcExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__lut")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("codes")),
        m, ksub))

  /** Asymmetric-distance (ADC) top-k: the probe builds an m×ksub
    * lookup table of rounded partial dots against every codebook
    * centroid; each corpus row's score is then m table lookups summed —
    * the corpus is never decoded, never recomputed, and the scan stays
    * map-side (probes broadcast, row_number top-k per probe exactly
    * like [[bruteForceTopK]]). Scores approximate the probe·corpus dot
    * (inner-product PQ); rank fidelity vs exact cosine is what
    * QuantizeSpec pins on planted duplicates. */
  def pqTopK(codes: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame, m: Int, ksub: Int,
      k: Int): DataFrame = {
    val pv = transform(col(vecCol), _.cast("double"))
    val p = probes
      .crossJoin(broadcast(packCodebooks(codebooks)))
      .select(col(idCol).as("probe_id"), pqLut(pv, m, ksub).as("__lut"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    codes.select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("score", round(pqAdc(m, ksub), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "score", "rank")
  }

  /** SemDeDup-style semantic dedup: IVF-assign every vector to its
    * nearest centroid (map-side broadcast, corpus never shuffles for
    * the assignment), compute exact cosine on WITHIN-CELL pairs only —
    * the SemDeDup observation that semantic duplicates land in the
    * same cluster, so the cell bounds the pair fan-out — and drop
    * every vector with a more-senior near-duplicate (same-cell
    * neighbor, `sim >= minSim`, smaller id). Pairwise keeper rule, not
    * transitive closure: a chain a~b~c with a<b<c drops b AND c even
    * when sim(a,c) < minSim — deliberately aggressive on chains;
    * compose [[graft.ext.Dedup]]'s connected components over the pair
    * set when exact cluster semantics matter. Cross-cell near-dups are
    * missed by construction — the recall/cost trade `nCells` tunes.
    * Returns survivors as (id, cell_id). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, minSim: Double): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol,
      localize(ivfCentroids(df, idCol, vecCol, nCells)))
    val a = assigned.select(col("cell_id"),
      col(idCol).as("__id_a"), col(vecCol).as("__v_a"))
    val b = assigned.select(col("cell_id"),
      col(idCol).as("__id_b"), col(vecCol).as("__v_b"))
    val dropped = a.join(b, Seq("cell_id"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(round(cosine(col("__v_a"), col("__v_b")), 4) >= minSim)
      .select(col("__id_b").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell_id"))
  }

  /** Plane weight matrix W(bit)(d), derived from [[hash52Const]] of
    * "rp-<bit>-<d>" mapped to [-1000, 1000] — reproducible in SQL, no
    * RNG state. */
  private def planeWeights(nBits: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nBits).map(bit => (0 until dim).map(d =>
      ((hash52Const(s"rp-$bit-$d") % 2001L) - 1000L).toDouble))

  /** Driver-side constant twin of [[DetHash.hash52]] (same md5-prefix
    * semantics) for baking plane weights into the plan as literals. */
  def hash52Const(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 13), 16)
  }

  /** Sign-bit array (0/1 longs) for `nBits` hyperplanes. One W literal;
    * per-bit projection = `aggregate(zip_with(vec, W[b], *), +)`. */
  def rpBits(vec: Column, nBits: Int, dim: Int): Column = {
    val w = typedlit(planeWeights(nBits, dim))
    transform(sequence(lit(0), lit(nBits - 1)), b => {
      val proj = aggregate(
        zip_with(vec, element_at(w, b + 1), (x, wt) => x.cast("double") * wt),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, 1L).otherwise(0L)
    })
  }

  /** Bucket key from a bit array: big-endian fold, bucket = Σ bitᵢ ≪
    * (n-1-i). SQL twin: `sum(bit << (n-1-i))`. */
  private def bucketKey(bits: Column): Column =
    aggregate(bits, lit(0L), (acc, bit) => acc * 2 + bit)

  /** Single-table bucket over nBits sign bits. */
  def rpBucket(vec: Column, nBits: Int, dim: Int): Column =
    bucketKey(rpBits(vec, nBits, dim))

  /** Multi-table LSH in long format: `nTables` tables × `nBits` bits
    * each; table t owns global bits [t·nBits, (t+1)·nBits). Output one
    * row per (id, table) with the table-local bucket key, so candidate
    * generation is a plain equi-join on (table, bucket). The bit array
    * is computed once per input row (explode happens after). */
  def rpTables(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int, nTables: Int, dim: Int): DataFrame = {
    val withBits = df.select(col(idCol), col(vecCol),
      rpBits(col(vecCol), nBits * nTables, dim).as("bits"))
    val tb = (0 until nTables).map { t =>
      struct(lit(t).as("table_id"),
        bucketKey(slice(col("bits"), t * nBits + 1, nBits)).as("bucket"))
    }
    withBits.select(col(idCol), col(vecCol), explode(array(tb: _*)).as("tb"))
      .select(col(idCol), col(vecCol),
        col("tb.table_id").as("table_id"), col("tb.bucket").as("bucket"))
  }

  /** ANN via multi-table random-hyperplane LSH: candidates share any
    * table's bucket; exact cosine + top-k on candidates only. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nBits: Int, dim: Int, probeFilter: Column, nTables: Int = 2): DataFrame = {
    val t = rpTables(df, idCol, vecCol, nBits, nTables, dim)
    val a = t.filter(probeFilter).toDF("probe_id", "probe_vec", "table_id", "bucket")
    val b = t.toDF("neighbor_id", "vec", "table_id", "bucket")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    a.join(b, Seq("table_id", "bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "probe_vec", "neighbor_id", "vec").distinct()
      .withColumn("sim", round(cosine(col("probe_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "sim", "rank")
  }

  // ---------------------------------------------------------------
  // IVF-Flat: coarse quantizer + inverted cell lists.
  //
  // The centroid set is tiny by construction (nCells rows), so it is
  // packed into ONE row and broadcast: assignment and probe fan-out are
  // map-side array scans inside codegen — zero shuffle over the corpus.
  // Candidate generation is then a plain equi-join on cell_id (each
  // corpus row lives in exactly one cell, so candidates are already
  // distinct). The only corpus-sized shuffle in the whole pipeline is
  // that one join — the shape that survives 100 TB.
  // ---------------------------------------------------------------

  /** Deterministic coarse quantizer "training": the `nCells` vectors
    * with the smallest md5-derived key (ties by id) form the centroid
    * set — a reproducible uniform sample with no RNG state, so the
    * DuckDB oracle selects the identical rows. Cell id = the centroid's
    * own vector id. Refine with [[ivfRefine]] if wanted. */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame =
    df.select(col(idCol).as("cell_id"),
        transform(col(vecCol), _.cast("double")).as("centroid"))
      .orderBy(DetHash.hash52(col("cell_id").cast("string")), col("cell_id"))
      .limit(nCells)

  /** Rounded cosine of `vec` against every packed centroid, as
    * array<struct<sim, neg_id>>. neg_id = -cell_id so that struct-max /
    * descending sort break sim ties toward the SMALLEST cell id —
    * matching `ORDER BY sim DESC, cell_id` on the oracle side. */
  private def cellScores(vec: Column): Column =
    transform(col("cents"), c =>
      struct(round(cosine(vec, c.getField("centroid")), 4).as("sim"),
        (-c.getField("cell_id")).as("neg_id")))

  /** Centroids packed into a single broadcastable row `cents`. A local
    * (already collected) frame is packed from its rows in hand —
    * collecting it runs no job, and the broadcast then ships them,
    * where an aggregation would cost a shuffle stage and a job; a lazy
    * frame is packed by aggregation inside the broadcast, so its
    * derivation runs there once. */
  private def packCentroids(centroids: DataFrame): DataFrame = {
    val c = centroids.select(col("cell_id"), col("centroid"))
    if (c.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      c.sparkSession.createDataFrame(
        java.util.Collections.singletonList(Row(c.collect().toSeq)),
        StructType(Seq(StructField("cents", ArrayType(c.schema, containsNull = false)))))
    else c.agg(collect_list(struct(col("cell_id"), col("centroid"))).as("cents"))
  }

  /** IVF assignment: each row → its nearest cell (argmax rounded
    * cosine). Map-side only: one tiny broadcast, the per-row cell loop
    * runs inside codegen, the corpus never shuffles. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignPacked(df, idCol, vecCol, packCentroids(centroids))

  private def assignPacked(df: DataFrame, idCol: String, vecCol: String,
      packed: DataFrame, extra: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: col(vecCol) +: extra.map(col): _*)
      .crossJoin(broadcast(packed))
      .withColumn("best", array_max(cellScores(col(vecCol))))
      .select((col(idCol) +: col(vecCol) +: extra.map(col)) :+
        (-col("best.neg_id")).as("cell_id"): _*)

  /** Probe fan-out: each probe row → its `nProbe` nearest cells (one
    * output row per (probe, cell)). Same map-side shape as assignment. */
  private def probePacked(probes: DataFrame, idCol: String, vecCol: String,
      packed: DataFrame, nProbe: Int, extra: Seq[String] = Nil): DataFrame =
    probes.select(col(idCol) +: col(vecCol) +: extra.map(col): _*)
      .crossJoin(broadcast(packed))
      .withColumn("cell",
        explode(slice(reverse(array_sort(cellScores(col(vecCol)))), 1, nProbe)))
      .select((col(idCol) +: col(vecCol) +: extra.map(col)) :+
        (-col("cell.neg_id")).as("cell_id"): _*)

  /** One Lloyd refinement step: new centroid = element-wise mean of the
    * vectors assigned to the cell, components rounded to 6 decimals so
    * double accumulation-order noise can't leak into downstream rounded
    * cosines. Cells that lost all members disappear (standard k-means).
    * posexplode → avg per (cell, component) → reassemble in order. */
  def ivfRefine(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("cell_id", "i")
      .agg(round(avg(col("x").cast("double")), 6).as("x"))
      .groupBy("cell_id")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("x")))),
        e => e.getField("x")).as("centroid"))

  // ---------------------------------------------------------------
  // The IVF index: cell-partitioned inverted lists whose codec decides
  // what a list row stores —
  //   raw              the vector; candidates score by exact cosine
  //   pq(m, ksub)      m one-byte PQ codes of v; ADC against the
  //                    probe's m×ksub LUT, the corpus never decoded
  //   pq-residual      m codes of v − centroid(cell(v)), codebooks
  //                    sampled from the residuals; score = exact
  //                    probe·centroid + residual ADC (the FAISS encoding)
  // An index is built inline ([[ivfBuild]], one corpus pass), persisted
  // ([[ivfWrite]]), reopened ([[ivfLoad]]) and grown ([[ivfAppend]]);
  // [[ivfSearch]] runs the SAME plan over an inline or a loaded index,
  // so persisted == inline holds by construction (q72 == q47,
  // q104 == q98, q108 == q106).
  // ---------------------------------------------------------------

  /** What an inverted-list row stores: the raw vector, or `m` PQ codes
    * (ksub ≤ 256 entries per subspace) of the vector or — `residual` —
    * of its offset from the cell centroid. */
  sealed trait IvfCodec
  object IvfCodec {
    case object Raw extends IvfCodec
    final case class Pq(m: Int, ksub: Int, residual: Boolean = false) extends IvfCodec
  }

  /** An IVF index. `centroids` (cell_id, centroid) and, for the PQ
    * codecs, `codebooks` (subspace, code, centroid) are bounded frames
    * (nCells and m×ksub rows); `cells` holds the inverted lists
    * (neighbor_id, cell_id, vec | codes [, filter column]). Probes and
    * appended rows carry the vector ids in `idCol` and the vectors in
    * `vecCol`. */
  final case class IvfIndex(idCol: String, vecCol: String, codec: IvfCodec,
      centroids: DataFrame, codebooks: Option[DataFrame], cells: DataFrame)

  /** Exact re-rank stage of [[ivfSearch]]: keep `shortlist` first-stage
    * candidates per probe, re-score them by exact cosine against the raw
    * vectors of `corpus` (joined by id). */
  final case class IvfRerank(shortlist: Int, corpus: DataFrame)

  /** Layout file of a persisted index, written last by [[ivfWrite]]: its
    * presence marks a complete build. */
  private[graft] val IvfMetaFile = "meta.properties"

  /** Build an index over `df` against `centroids` — the [[ivfCentroids]]
    * seed sample, or [[ivfRefine]] output for trained cells. Centroids
    * and PQ codebooks are localized here (snapshot at build time, their
    * corpus-wide derivations run once); the lists stay lazy until
    * searched or written. PQ codebooks are sampled from the corpus
    * ([[pqCodebooks]]) or, for `pq-residual`, from the residuals. Pass
    * refined centroids there: sampled corpus-point centroids invert
    * residual coding's premise on unit-norm embeddings (mean residual
    * norm sqrt(2 − 2·cos(v, c)) ≈ 1.24 > 1; recall@10 0.024 vs 0.138
    * refined, SCALING.md). `filterCol` rides along in every list row so
    * [[ivfSearch]] can join on it. */
  def ivfBuild(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, codec: IvfCodec,
      filterCol: Option[String] = None): IvfIndex = {
    val cents = localize(centroids)
    val assigned = assignForCodec(df, idCol, vecCol, codec, cents, filterCol.toSeq)
    val codebooks = codec match {
      case IvfCodec.Raw => None
      case IvfCodec.Pq(m, ksub, residual) => Some(
        if (residual) pqCodebooks(assigned, idCol, "__enc", m, ksub)
        else pqCodebooks(df, idCol, vecCol, m, ksub))
    }
    IvfIndex(idCol, vecCol, codec, cents, codebooks,
      encodeLists(assigned, idCol, vecCol, codec, codebooks, filterCol.toSeq))
  }

  /** `rows` assigned to cells in ONE map-side pass, with the doubles the
    * PQ codecs encode: (id, vec, carry…, cell_id, __enc), __enc = v or,
    * for `pq-residual`, v − centroid(cell(v)). */
  private def assignForCodec(rows: DataFrame, idCol: String, vecCol: String,
      codec: IvfCodec, cents: DataFrame, carry: Seq[String]): DataFrame = {
    val assigned = assignPacked(rows, idCol, vecCol, packCentroids(cents), carry)
    val v = transform(col(vecCol), _.cast("double"))
    codec match {
      case IvfCodec.Pq(_, _, true) =>
        assigned.join(broadcast(cents), "cell_id")
          .withColumn("__enc", zip_with(v, col("centroid"), (x, y) => x - y))
      case _ => assigned.withColumn("__enc", v)
    }
  }

  /** Inverted-list rows (neighbor_id, cell_id, vec | codes, carry…) of
    * assigned rows. The codebook pack is a single-row broadcast, so codes
    * are a sibling map-side expression of the assignment: build and
    * append encode in the same pass that assigns. */
  private def encodeLists(assigned: DataFrame, idCol: String, vecCol: String,
      codec: IvfCodec, codebooks: Option[DataFrame],
      carry: Seq[String]): DataFrame = {
    def lists(d: DataFrame, payload: Column) =
      d.select(Seq(col(idCol).as("neighbor_id"), col("cell_id"), payload) ++
        carry.map(col): _*)
    codec match {
      case IvfCodec.Raw => lists(assigned, col(vecCol).as("vec"))
      case IvfCodec.Pq(m, ksub, _) =>
        lists(assigned.crossJoin(broadcast(packCodebooks(codebooks.get))),
          pqCodesExpr(col("__enc"), m, ksub).as("codes"))
    }
  }

  /** Top-k per probe row against an index, inline or loaded. Probes fan
    * out to their `nProbe` nearest cells (map-side, packed-centroid
    * broadcast); candidates are the probed cells' list rows via ONE
    * equi-join on cell_id — plus `filterCol`, when given: the metadata
    * constraint is a join key, never a post-filter, so non-matching rows
    * are never scored and k never under-fills (the index must carry the
    * column, see [[ivfBuild]]). Scores, by codec: raw → exact rounded
    * cosine `sim`; pq → rounded ADC `score`; pq-residual → rounded exact
    * probe·centroid + residual ADC `score`. With `rerank`, the first
    * stage keeps `shortlist` candidates per probe and only those are
    * re-scored by exact cosine (`sim`) against the raw corpus: the
    * shortlist broadcasts, the corpus never shuffles, and exact work
    * scales with |probes|×shortlist, not with cell size. Ranking uses
    * the rounded score with the neighbor id as tie-break. Returns
    * (probe_id, neighbor_id, sim | score, rank). */
  def ivfSearch(ix: IvfIndex, probes: DataFrame, k: Int, nProbe: Int,
      filterCol: Option[String] = None,
      rerank: Option[IvfRerank] = None): DataFrame = {
    rerank.foreach(r => require(r.shortlist >= k,
      s"shortlist must be >= k, got shortlist=${r.shortlist} k=$k"))
    val carry = filterCol.toSeq
    carry.foreach(f => require(ix.cells.columns.contains(f),
      s"the index lists carry no column $f; build with filterCol = Some(\"$f\")"))
    val fan = probePacked(probes, ix.idCol, ix.vecCol,
      packCentroids(ix.centroids), nProbe, carry)
    val pv = transform(col(ix.vecCol), _.cast("double"))
    val key = col(ix.idCol).as("probe_id") +: col("cell_id") +: carry.map(col)
    val (probed, scoreCol, score) = ix.codec match {
      case IvfCodec.Raw =>
        (fan.select(key :+ col(ix.vecCol).as("probe_vec"): _*), "sim",
          cosine(col("probe_vec"), col("vec")))
      case IvfCodec.Pq(m, ksub, residual) =>
        // residual: the exact probe·centroid term per probed cell
        val (withCents, cdot) =
          if (residual) (fan.join(broadcast(ix.centroids), "cell_id"),
            Seq(round(dot(pv, col("centroid")), 4).as("__cdot")))
          else (fan, Nil)
        val lut = withCents
          .crossJoin(broadcast(packCodebooks(ix.codebooks.get)))
          .select(key ++ cdot :+ pqLut(pv, m, ksub).as("__lut"): _*)
        val adc = pqAdc(m, ksub)
        (lut, "score", if (residual) col("__cdot") + adc else adc)
    }
    val first = rankTopK(probed.join(ix.cells, "cell_id" +: carry)
        .filter(col("probe_id") =!= col("neighbor_id"))
        .withColumn(scoreCol, round(score, 4)),
      scoreCol, rerank.fold(k)(_.shortlist))
    rerank.fold(first) { r =>
      val p = probes.select(col(ix.idCol).as("probe_id"),
        col(ix.vecCol).as("probe_vec"))
      val short = first.select("probe_id", "neighbor_id")
        .join(broadcast(p), Seq("probe_id"))
      rankTopK(r.corpus
          .select(col(ix.idCol).as("neighbor_id"), col(ix.vecCol).as("vec"))
          .join(broadcast(short), Seq("neighbor_id"))
          .withColumn("sim", round(cosine(col("probe_vec"), col("vec")), 4)),
        "sim", k)
    }
  }

  /** Per-probe top-k by `score` descending, neighbor id as tie-break. */
  private def rankTopK(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col(score).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", score, "rank")
  }

  /** Persist an index under `dir` — build once, probe many:
    *   centroids/       (cell_id, centroid)
    *   codebooks/       (subspace, code, centroid), PQ codecs only
    *   cells/           the lists, hive-partitioned by cell_id, ONE file
    *                    per cell (an unclustered partitionBy writes every
    *                    shuffle partition into every cell directory)
    *   cells_inc/       batch_id=N increments, see [[ivfAppend]]
    *   meta.properties  codec, (m, ksub), column names and each part's
    *                    schema — removed first, written LAST, so its
    *                    presence marks a complete build
    * A probe batch then scans only its nProbe cell partitions instead of
    * re-assigning the corpus. Rewriting a directory drops its
    * increments. */
  def ivfWrite(ix: IvfIndex, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(
      ix.cells.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir, IvfMetaFile), false)
    fs.delete(new Path(dir, "cells_inc"), true)
    val meta = new java.util.Properties
    def part(name: String, d: DataFrame, partitionBy: String*): Unit = {
      d.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(s"$dir/$name")
      meta.setProperty(s"schema.$name", d.schema.json)
    }
    part("centroids", ix.centroids)
    ix.codebooks.foreach(part("codebooks", _))
    part("cells", ix.cells.repartition(col("cell_id")), "cell_id")
    ix.codec match {
      case IvfCodec.Raw => meta.setProperty("codec", "raw")
      case IvfCodec.Pq(m, ksub, residual) =>
        meta.setProperty("codec", if (residual) "pq-residual" else "pq")
        meta.setProperty("m", m.toString)
        meta.setProperty("ksub", ksub.toString)
    }
    meta.setProperty("id_col", ix.idCol)
    meta.setProperty("vec_col", ix.vecCol)
    val out = fs.create(new Path(dir, IvfMetaFile), true)
    try meta.store(out, "IVF index") finally out.close()
  }

  /** Reopen a persisted index: the [[ivfWrite]] layout plus any
    * [[ivfAppend]] increments. Reads the meta file through the Hadoop
    * FS API (no Spark job) and every part with its
    * recorded schema (no schema-inference job; cell_id keeps its type).
    * A directory without the meta file (an incomplete build, or a
    * layout this reader does not know) or with an unknown codec fails
    * loudly, naming the directory. */
  def ivfLoad(spark: SparkSession, dir: String): IvfIndex = {
    val metaPath = new Path(dir, IvfMetaFile)
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaPath),
      s"no complete IVF index at $dir: $IvfMetaFile is missing")
    val meta = new java.util.Properties
    val in = fs.open(metaPath)
    try meta.load(in) finally in.close()
    def schema(name: String) =
      DataType.fromJson(meta.getProperty(s"schema.$name")).asInstanceOf[StructType]
    def part(name: String) = spark.read.schema(schema(name)).parquet(s"$dir/$name")
    def pq(residual: Boolean) = IvfCodec.Pq(meta.getProperty("m").toInt,
      meta.getProperty("ksub").toInt, residual)
    val codec = meta.getProperty("codec") match {
      case "raw" => IvfCodec.Raw
      case "pq" => pq(residual = false)
      case "pq-residual" => pq(residual = true)
      case other => throw new IllegalArgumentException(
        s"IVF index at $dir has unknown codec '$other'")
    }
    val cells = part("cells")
    val inc = new Path(dir, "cells_inc")
    IvfIndex(meta.getProperty("id_col"), meta.getProperty("vec_col"), codec,
      part("centroids"),
      if (codec == IvfCodec.Raw) None else Some(part("codebooks")),
      if (!fs.exists(inc)) cells
      else cells.unionByName(spark.read.schema(schema("cells"))
        .parquet(inc.toString).drop("batch_id")))
  }

  /** Add `rows` (carrying the index's id and vector columns) to the
    * persisted index at `dir` without rebuilding: assigned against the
    * FROZEN centroids and encoded with the index's codec and frozen
    * codebooks, they land under `cells_inc/batch_id=N/cell_id=C` with
    * dynamic partition overwrite — re-running a batch id (a streaming
    * micro-batch replayed after a crash, or a retried one-shot batch)
    * rewrites its own increment instead of inserting twice. Probes see
    * base + increments on the next [[ivfLoad]]. The standard IVF
    * maintenance trade: appending never changes what existing vectors a
    * probe reaches, but cell balance and recall degrade as the data
    * drifts from the centroids' training set — rebuild (or
    * [[ivfRefine]]) when drift accumulates. */
  def ivfAppend(dir: String, rows: DataFrame, batchId: Long): Unit = {
    val spark = rows.sparkSession
    val ix = ivfLoad(spark, dir)
    val carry = ix.cells.columns.toSeq
      .filterNot(Set("neighbor_id", "cell_id", "vec", "codes"))
    val lists = encodeLists(
      assignForCodec(rows, ix.idCol, ix.vecCol, ix.codec, ix.centroids, carry),
      ix.idCol, ix.vecCol, ix.codec, ix.codebooks, carry)
    // own the overwrite mode: under the default STATIC mode this write
    // would truncate every earlier batch's increment partitions instead
    // of replacing only batch_id=N (same set-and-restore discipline as
    // MergeData.writeMerged)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try lists.withColumn("batch_id", lit(batchId))
      .repartition(col("cell_id"))
      .write.mode("overwrite")
      .partitionBy("batch_id", "cell_id")
      .parquet(s"$dir/cells_inc")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
