package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter semi-join pruning — the classic 100 TB scan-reduction
  * pattern: aggregate the (small) dim side's join keys into ONE bloom
  * filter, then drop fact rows map-side with `might_contain` BEFORE the
  * real join's shuffle. Fact rows that can't match never leave the scan
  * stage; the filter's false-positive stragglers (fpp of the
  * non-matching rows) are removed by the semi-join that follows, so the
  * result is EXACT — identical to the plain semi-join.
  *
  * This is the same mechanism Spark's own runtime row-level filtering
  * (`InjectRuntimeFilter`) applies when its cost heuristics fire; here
  * it is an explicit operator the caller controls — useful exactly when
  * the optimizer's creation-side thresholds (on by default only for
  * shuffle-heavy candidates) decline a filter the user knows pays off.
  *
  * Uses Spark's native `BloomFilterAggregate` / `BloomFilterMightContain`
  * expressions over `xxhash64(key)` (the same hashing
  * `InjectRuntimeFilter` uses), so both build and probe stay inside
  * codegen. The built filter is one bounded binary blob
  * (~`1.44 * n * log2(1/fpp)` bits ≈ 1.2 MB for 1M keys at 1%) that
  * rides to executors with the task closure — the identical bytes
  * Spark's own runtime filter moves as a broadcast subquery result.
  * The one-row `head()` that fetches it is the documented, bounded
  * driver hop (same tier as the centroid rows `Similarity.ivfBuild`
  * collects).
  */
object BloomPrune {

  /** Optimal bloom bit count for `n` items at false-positive rate
    * `fpp`: `-n * ln(fpp) / ln(2)^2`. */
  def optimalNumBits(n: Long, fpp: Double): Long = {
    require(n > 0 && fpp > 0 && fpp < 1, s"need n > 0, 0 < fpp < 1; got n=$n fpp=$fpp")
    math.ceil(-n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong
  }

  /** Aggregate `dim`'s key column into bloom-filter bytes (one
    * aggregation, one row to the driver). Returns None for an empty
    * dim (the aggregate yields NULL — no keys, nothing can match). */
  def buildBloom(dim: DataFrame, dimKey: String,
      expectedItems: Long, fpp: Double): Option[Array[Byte]] = {
    val agg = new BloomFilterAggregate(
      GraftColumnBridge.expression(xxhash64(col(dimKey))),
      Literal(expectedItems),
      Literal(optimalNumBits(expectedItems, fpp))).toAggregateExpression()
    Option(dim.select(GraftColumnBridge.column(agg).as("bf"))
      .head.getAs[Array[Byte]]("bf"))
  }

  /** Probe column: true iff `key` MIGHT be in the filter (never a false
    * negative; false positives at ~fpp). */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      GraftColumnBridge.expression(xxhash64(key))))

  /** Exact semi-join with bloom pre-pruning of the fact side.
    * Result == `fact JOIN dim ON factKey = dimKey LEFT SEMI`; the bloom
    * only shrinks what reaches the join's shuffle. `expectedItems`
    * should bound the dim-side distinct-key count — an undersized
    * filter stays CORRECT (the fpp degrades toward letting more
    * non-matches through to the semi-join). */
  def prunedSemiJoin(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): DataFrame =
    buildBloom(dim, dimKey, expectedItems, fpp) match {
      case None => fact.limit(0) // empty dim: semi-join is empty
      case Some(bf) =>
        // alias the build side: an unqualified col(dimKey) would be
        // AMBIGUOUS_REFERENCE whenever both sides share the key name
        // (the common semi-join shape); no distinct() — a semi-join is
        // insensitive to build-side duplicates, so deduping would only
        // add an exchange to an operator meant to remove shuffle volume
        fact.filter(mightContain(bf, col(factKey)))
          .join(dim.select(col(dimKey).as("__bloom_dim_key")),
            col(factKey) === col("__bloom_dim_key"), "left_semi")
    }
}
