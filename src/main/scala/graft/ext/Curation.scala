package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: benchmark decontamination, PII redaction,
  * deterministic stratified sampling, sequence packing, and repetition
  * scoring. Everything is a DataFrame plan over deterministic primitives
  * ([[DetHash]], shared regexes), so each operator carries an exact
  * DuckDB oracle (q58–q62).
  *
  * Scale notes (100 TB): decontamination shuffles on the shingle only
  * (benchmark side is small → AQE broadcasts it); redaction and sampling
  * are pure map-side; packing shards its inherently-sequential scan into
  * independent hash buckets (one shuffle, parallel windows); repetition
  * scoring is one aggregation over the exploded grams.
  */
object Curation {

  // ------------------------------------------------------------------
  // Benchmark decontamination.
  // ------------------------------------------------------------------

  /** Flag corpus documents sharing any word n-gram with a held-out
    * benchmark set (train/test contamination — the reason eval numbers
    * inflate when the test set leaks into pretraining data). Returns
    * (id, n_contaminated_grams) for contaminated docs only; the caller
    * anti-joins to drop them. Equi-join on the shingle — the benchmark
    * side is distinct-deduped and typically tiny next to the corpus, so
    * AQE broadcasts it and the corpus never shuffles. */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    decontaminateShingles(
      Dedup.shingles(docs, idCol, textCol, n),
      Dedup.shingles(bench, idCol, textCol, n), idCol)

  /** [[decontaminate]] over PRE-COMPUTED shingle frames (both in
    * [[Dedup.shingles]]' distinct-per-doc shape) — lets a pipeline that
    * already paid the corpus shingle scan (e.g. for MinHash signatures)
    * reuse it instead of exploding and distinct-shuffling twice. */
  def decontaminateShingles(docSh: DataFrame, benchSh: DataFrame,
      idCol: String): DataFrame =
    docSh.join(benchSh.select("shingle").distinct(), "shingle")
      // shingles() emits DISTINCT grams per doc, so this counts distinct
      // contaminated grams without a second dedup
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_contaminated_grams"))

  // ------------------------------------------------------------------
  // PII redaction.
  // ------------------------------------------------------------------

  /** Redaction patterns, restricted to the regex subset Java and RE2
    * (DuckDB) interpret identically — no lookaround, no backrefs — so
    * the oracle replaces byte-for-byte the same spans. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Map-side PII scrub: emails, NANP-style phone numbers, IPv4s →
    * typed placeholders. Email first (its local part may contain digit
    * runs the other patterns could clip). */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipRe, "<IP>")

  /** Total PII matches in a string (pre-redaction count). */
  def piiCount(c: Column): Column =
    regexp_count(c, lit(emailRe)) + regexp_count(c, lit(phoneRe)) +
      regexp_count(c, lit(ipRe))

  // ------------------------------------------------------------------
  // Deterministic stratified sampling.
  // ------------------------------------------------------------------

  /** Per-stratum Bernoulli sampling keyed on a DETERMINISTIC hash of the
    * id — keep a row iff hash52(id) mod 1e6 < frac(stratum) * 1e6.
    * Unlike `df.sample`/rand(), the selection is exactly reproducible
    * across runs, retries, and engines (the DuckDB twin picks the same
    * rows), which is what a training-data mixture needs: re-running the
    * pipeline yields the same corpus. Strata absent from `fractions`
    * drop (fraction 0). Pure map-side — no shuffle. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      fractions: Map[String, Double]): DataFrame = {
    val threshold = fractions.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit((v * 1000000L).toLong)).otherwise(acc)
    }
    df.filter(DetHash.hash52(col(idCol).cast("string")) % 1000000L < threshold)
  }

  /** Weighted sampling without replacement, k per stratum
    * (Efraimidis–Spirakis): each row draws a deterministic uniform
    * u ∈ (0, 1] from hash52(id) and ranks by ln(u)/weight — the log of
    * the ES key u^(1/w), same order without the pow — and the top k
    * keys per stratum are the sample. Inclusion probability scales
    * with weight, selection is exactly reproducible across runs,
    * retries, and engines (the DuckDB twin draws the same u), and the
    * plan is one window shuffle on the stratum — the weighted
    * complement of [[stratifiedSample]]'s Bernoulli. Null or
    * non-positive weights drop (they have no defensible key). */
  def weightedSample(df: DataFrame, idCol: String, stratumCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val u = (DetHash.hash52(col(idCol).cast("string")) + 1).cast("double") /
      4503599627370496.0 // 2^52 — u in (0, 1], so ln(u) is finite
    val w = Window.partitionBy(stratumCol)
      .orderBy(col("__es_key").desc, col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol).cast("double") > 0)
      .withColumn("__es_key", log(u) / col(weightCol).cast("double"))
      .withColumn("__es_rank", row_number().over(w))
      .filter(col("__es_rank") <= k)
      .drop("__es_key", "__es_rank")
  }

  // ------------------------------------------------------------------
  // Sequence packing.
  // ------------------------------------------------------------------

  /** Concat-and-chunk sequence packing, sharded into deterministic hash
    * buckets: within a bucket, docs stream in (hash52(id), id) order and
    * a doc joins the pack its cumulative token offset starts in —
    * `pack_no = (cumsum - tokens) div maxTokens` — i.e. packs are
    * contiguous ~maxTokens windows of the concatenated stream (the
    * standard pretraining packing; a straddling doc overflows its pack
    * rather than splitting). Packing is inherently sequential, so the
    * bucket is the parallel unit: ONE shuffle on the bucket, then
    * independent in-partition windows — no global sort at 100 TB.
    *
    * Output adds (or replaces) `bucket` and `pack_no`; working columns
    * are `__`-prefixed so caller columns can't collide. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      maxTokens: Long, nBuckets: Int): DataFrame = {
    val h = DetHash.hash52(col(idCol).cast("string"))
    val w = Window.partitionBy("bucket").orderBy("__ord", idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("bucket", pmod(h, lit(nBuckets.toLong)))
      .withColumn("__ord", h)
      .withColumn("__cum", sum(col(tokensCol)).over(w))
      // integer division (the oracle's `//`): long/long `/` in Spark is
      // double division, which drifts past 2^53 cumulative tokens
      .withColumn("pack_no",
        expr(s"(__cum - `$tokensCol`) div ${maxTokens}L"))
      .drop("__ord", "__cum")
  }

  // ------------------------------------------------------------------
  // Document chunking.
  // ------------------------------------------------------------------

  /** Split documents into overlapping token windows (the unit an
    * embedding or context-window pipeline consumes): chunk i covers
    * tokens [i*stride, i*stride + chunkTokens) with
    * stride = chunkTokens - overlap; the last chunk may be short, and a
    * doc shorter than one chunk yields exactly one. Pure map-side
    * explode — no shuffle, no UDF (slice + array_join). */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val toks = col("__toks")
    // n_chunks = 1 + ceil(max(0, n - chunkTokens) / stride)
    val nChunks = lit(1) + ceil(
      greatest(size(toks) - chunkTokens, lit(0)).cast("double") / stride).cast("int")
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), toks,
        explode(sequence(lit(0), nChunks - 1)).as("chunk_no"))
      .select(
        col(idCol), col("chunk_no").cast("long").as("chunk_no"),
        array_join(slice(toks, col("chunk_no") * stride + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(size(toks) - col("chunk_no") * stride, lit(chunkTokens))
          .cast("long").as("chunk_tokens"))
  }

  // ------------------------------------------------------------------
  // Per-source token budgets.
  // ------------------------------------------------------------------

  /** Cap each source at a token budget: docs stream in deterministic
    * (hash52(id), id) order within their source and keep their place
    * while the running total stays within `budget` — the doc that
    * crosses the line is kept (its START offset is inside budget), the
    * rest drop. The mixture-control twin of [[stratifiedSample]]: a
    * fraction caps relatively, a budget caps absolutely. One shuffle on
    * the source (window partition). */
  def capSourceTokens(df: DataFrame, idCol: String, tokensCol: String,
      sourceCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(sourceCol)
      .orderBy(DetHash.hash52(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokensCol)).over(w))
      .filter(col("__cum") - col(tokensCol) < budget)
      .drop("__cum")
  }

  // ------------------------------------------------------------------
  // End-to-end curation funnel.
  // ------------------------------------------------------------------

  /** The full curation pipeline as ONE composed plan — the funnel
    * report every training-data run produces: each document gets a
    * verdict (first failing gate wins, fixed precedence), and the
    * output is per-source drop accounting plus kept-token totals.
    *
    * Gates, in precedence order:
    *  1. `benchmark` — the held-out eval slice (`id % benchMod == 0`):
    *     excluded from training AND the contamination reference;
    *  2. `near_dup`  — a MinHash-LSH candidate pair links the doc to a
    *     SMALLER corpus id (greedy keep-first dedup on [[Dedup]]'s
    *     banded candidates — no all-pairs stage);
    *  3. `contaminated` — ≥ `minContamGrams` distinct word n-grams
    *     shared with the benchmark slice ([[decontaminate]]);
    *  4. `low_quality` — under `minTokens` tokens or under `minQuality`
    *     composite score ([[TextAnalysis.qualityMetrics]]);
    *  5. `kept`.
    *
    * Scale: quality is map-side; dedup shuffles on (band, bucket) and
    * contamination on the shingle (benchmark side broadcast by AQE);
    * the flag joins are id-equi left joins against two SMALL id sets
    * (dropped ids only); the report is one final groupBy(source). */
  def curationFunnel(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, benchMod: Long = 97, shingleN: Int = 3,
      minContamGrams: Long = 3, minTokens: Long = 20,
      minQuality: Double = 0.38): DataFrame = {
    val isBench = col(idCol) % benchMod === 0
    val corpus = docs.filter(!isBench)
    // ONE corpus shingle scan feeds both the MinHash signature and the
    // contamination join (persisted: the explode + distinct shuffle is
    // the pipeline's most expensive stage — paying it twice would
    // double the dominant cost at scale)
    val corpusSh = Dedup.shingles(corpus, idCol, textCol, shingleN).persist()
    val sig = Dedup.minhashSignature(corpusSh, idCol)
    val dupIds = Dedup.candidatePairs(sig, idCol)
      .select(col(s"${idCol}_b").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    val contamIds = decontaminateShingles(corpusSh,
        Dedup.shingles(docs.filter(isBench), idCol, textCol, shingleN), idCol)
      .filter(col("n_contaminated_grams") >= minContamGrams)
      .select(col(idCol)).withColumn("__contam", lit(true))
    val verdicts = TextAnalysis.qualityMetrics(docs, textCol)
      .join(dupIds, Seq(idCol), "left")
      .join(contamIds, Seq(idCol), "left")
      .withColumn("verdict",
        when(isBench, "benchmark")
          .when(col("__dup"), "near_dup")
          .when(col("__contam"), "contaminated")
          .when(col("n_tokens") < minTokens ||
            col("quality_score") < minQuality, "low_quality")
          .otherwise("kept"))
    def nOf(v: String) = count(when(col("verdict") === v, lit(1)))
    verdicts.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        nOf("benchmark").as("n_bench"),
        nOf("near_dup").as("n_dup"),
        nOf("contaminated").as("n_contam"),
        nOf("low_quality").as("n_lowq"),
        nOf("kept").as("n_kept"),
        coalesce(sum(when(col("verdict") === "kept", col("n_tokens"))), lit(0L))
          .as("tokens_kept"),
        round(coalesce(
          avg(when(col("verdict") === "kept", col("quality_score"))), lit(0.0)), 4)
          .as("avg_quality_kept"))
  }

  // ------------------------------------------------------------------
  // Repetition scoring.
  // ------------------------------------------------------------------

  /** Gopher-style repetition signal: the fraction of word n-gram
    * OCCURRENCES that repeat an earlier occurrence,
    * `1 - distinct/total`. High values mark boilerplate / degenerate
    * text that dedup misses (the doc is unique, its content loops).
    * One explode + one aggregation; the token array materializes in its
    * own projection (same O(len²) guard as [[Dedup.shingles]]). */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    val toks = col("__toks")
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= n)
      .select(col(idCol),
        explode(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(k => get(toks, i + lit(k))): _*)
        )).as("gram"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_grams"),
        count_distinct(col("gram")).as("n_distinct"))
      .withColumn("repetition",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 4))
  }

  // ------------------------------------------------------------------
  // Content-defined chunking.
  // ------------------------------------------------------------------

  /** Content-defined chunking: cut the text BEFORE every position whose
    * k-gram rolling hash is ≡ 0 mod `divisor` — so boundaries are a
    * function of local CONTENT, not offsets, and an insertion near the
    * head only re-chunks its neighborhood while every later chunk stays
    * byte-identical (the property fixed-window [[chunkDocs]] lacks, and
    * the reason CDC feeds chunk-level dedup). Expected chunk length ≈
    * `divisor`; texts shorter than k (or with no qualifying position)
    * come back as one chunk. The hash is the winnow pipeline's O(len)
    * rolling gram hash ([[graft.functions.GramHashes]], codegen'd, same
    * ASCII input contract as winnowing), so the oracle recomputes every
    * cut bit-exactly. The hash walks UTF-8 BYTES while `substr` cuts
    * CHARACTERS — coincident for ASCII; for non-ASCII corpora chunk on
    * a normalized shadow column (reassembly still holds either way:
    * the cut positions always partition the text). Pure map-side;
    * production variants add min/max chunk bounds (a sequential fold
    * per doc) — same cut rule, clamped.
    * Output: (id, chunk_no, chunk); chunks concatenate back to the
    * original text (spec-pinned). */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, divisor: Int = 64): DataFrame = {
    require(divisor > 0, s"need divisor > 0, got $divisor")
    val t = col("__t")
    val h = col("__h")
    val withH = df.select(col(idCol), col(textCol).as("__t"),
      graft.functions.WinnowFunctions.gramHashes(col(textCol), k).as("__h"))
    val bpos = when(size(h) >= 2,
      filter(sequence(lit(1), size(h) - 1),
        p => element_at(h, (p + 1).cast("int")) % divisor === 0))
      .otherwise(array().cast("array<int>"))
    val withB = withH.select(col(idCol), t,
      concat(array(lit(0)), bpos).as("__starts"),
      concat(bpos, array(length(t))).as("__ends"))
    withB
      .select(col(idCol), t,
        posexplode(arrays_zip(col("__starts"), col("__ends")))
          .as(Seq("chunk_no", "__se")))
      .select(col(idCol), col("chunk_no"),
        t.substr(col("__se.__starts") + 1,
          col("__se.__ends") - col("__se.__starts")).as("chunk"))
  }

  // ------------------------------------------------------------------
  // Deterministic corpus shuffle (training-batch order).
  // ------------------------------------------------------------------

  /** Seeded deterministic shuffle: every row gets a pseudo-random but
    * REPRODUCIBLE `shuffle_key` (hash of seed + id) and a `batch`
    * assignment (`key mod nBatches`); writing ordered by
    * (batch, shuffle_key) yields the epoch's training order. Purely
    * map-side expressions — re-runs, retries, and other engines
    * reproduce the same order bit-for-bit (vs. `rand()`, which is
    * task-retry-unstable, or a global `row_number`, which is a
    * single-partition window). Per-batch source proportions converge
    * on corpus proportions by uniform hashing — the scalable stand-in
    * for exact round-robin interleave, whose per-source sequence
    * numbers would serialize each source into one window task. */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String,
      nBatches: Int): DataFrame = {
    require(nBatches > 0, s"need nBatches > 0, got $nBatches")
    val key = DetHash.hash52(
      concat_ws(":", lit(seed), col(idCol).cast("string")))
    df.withColumn("shuffle_key", key)
      .withColumn("batch", pmod(key, lit(nBatches.toLong)).cast("int"))
  }

  // ------------------------------------------------------------------
  // Temperature-weighted source mixing.
  // ------------------------------------------------------------------

  /** α-temperature mixing weights (the multilingual/multi-source LM
    * recipe): sampling probability per source ∝ n_s^α — α=1 keeps
    * corpus proportions, α=0 flattens to uniform, α∈(0,1) upsamples
    * the tail. Returns per-source (n, p, frac) where `frac` is the
    * per-row keep fraction hitting `targetN` expected rows overall
    * (capped at 1: a source can't yield more rows than it has — the
    * cap means the realized total can undershoot targetN when a tiny
    * source saturates; redistribute by re-running on the remainder if
    * exactness matters). The count aggregation is the only shuffle —
    * and it is EAGER: counts are collected when this is CALLED
    * (bounded, one row per source), not when the returned frame
    * executes. Lazy counts re-ran the corpus aggregation in every
    * downstream consumer (normalizing sum, fractions, the sampling
    * threshold join — q92's plan held TEN corpus scans); the trade is
    * that rows appended to `df` after composition don't move the
    * weights — recompose, or maintain counts as streaming increments
    * and use [[mixingWeightsFromCounts]]. */
  def mixingWeights(df: DataFrame, sourceCol: String, alpha: Double,
      targetN: Long): DataFrame =
    mixingWeightsFromCounts(
      Similarity.localize(df.groupBy(sourceCol).agg(count(lit(1)).as("n"))),
      sourceCol, alpha, targetN)

  /** [[mixingWeights]] over a PRE-AGGREGATED per-source count table —
    * counts are additive partials, so a streaming pipeline maintains
    * them as [[graft.streaming.IncrementalPartials]] increments and
    * recomputes the weights from the merged counts per batch instead
    * of rescanning the corpus (spec-pinned: streamed counts give the
    * same weights as a batch pass). */
  def mixingWeightsFromCounts(counts: DataFrame, sourceCol: String,
      alpha: Double, targetN: Long): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"need 0 <= alpha <= 1, got $alpha")
    require(targetN > 0, s"need targetN > 0, got $targetN")
    val powed = counts
      .withColumn("__pw", pow(col("n").cast("double"), lit(alpha)))
    powed
      .crossJoin(broadcast(powed.agg(sum("__pw").as("__tot"))))
      .withColumn("p", col("__pw") / col("__tot"))
      .withColumn("frac",
        least(lit(1.0), lit(targetN.toDouble) * col("p") / col("n")))
      .select(col(sourceCol), col("n"), col("p"), col("frac"))
  }

  /** Deterministic temperature sampling: keep a row iff its id-hash
    * micro-fraction clears the source's [[mixingWeights]] threshold —
    * [[stratifiedSample]]'s Bernoulli trick with the fractions COMPUTED
    * from the corpus instead of supplied. The weights table broadcasts
    * (one row per source); the corpus never shuffles. */
  def temperatureSample(df: DataFrame, idCol: String, sourceCol: String,
      alpha: Double, targetN: Long): DataFrame =
    temperatureSampleWithWeights(df, idCol, sourceCol,
      mixingWeights(df, sourceCol, alpha, targetN))

  /** [[temperatureSample]] against a PRE-COMPUTED [[mixingWeights]]
    * frame (needs `sourceCol` + `frac`) — compositions that also
    * REPORT the weights (q92) reuse one eager count aggregation
    * instead of scanning the corpus twice, mirroring the
    * [[mixingWeightsFromCounts]] split. */
  def temperatureSampleWithWeights(df: DataFrame, idCol: String,
      sourceCol: String, weights: DataFrame): DataFrame = {
    val thr = weights
      .select(col(sourceCol),
        floor(col("frac") * 1000000L).cast("long").as("__thr"))
    df.join(broadcast(thr), Seq(sourceCol))
      .filter(DetHash.hash52(col(idCol).cast("string")) % 1000000L < col("__thr"))
      .drop("__thr")
  }
}
