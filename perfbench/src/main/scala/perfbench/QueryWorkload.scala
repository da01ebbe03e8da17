package perfbench

import scala.util.Random

import graft.queries.{Q, Registry}

/** A workload that issues registered queries, each as a `noop` write
  * (every output column is materialized and discarded, as `graft.Bench`
  * does). One pass runs every query once, in an order the seed permutes.
  *
  * Correctness: before the warm-up pass, one pass collects each
  * query's result and compares its [[Digest]] with the one recorded in
  * the digest file; a query whose digest differs or is not recorded (as
  * every query is when the file is missing) fails every timed run. */
final class QueryWorkload(val name: String, val queries: Seq[Q],
    digestFile: String) extends Workload {
  import QueryWorkload._

  /** query -> the problem its warm-up found, if any */
  private var broken = Map.empty[String, String]
  /** digests observed during warm-up (written out with the results) */
  var observed = Map.empty[String, String]

  def warmUp(ctx: Ctx): Seq[String] = {
    val expected =
      if (new java.io.File(digestFile).exists) Json.readStringMap(digestFile)
      else Map.empty[String, String]
    val problems = Seq.newBuilder[String]
    queries.foreach { q =>
      val got =
        try Right(Digest.of(q.run(ctx.spark, ctx.dataDir).collect().toSeq).toString)
        catch { case e: Throwable => Left(errText(e)) }
        finally ctx.spark.catalog.clearCache()
      got match {
        case Left(err) =>
          broken += q.name -> s"warm-up failed: $err"
        case Right(d) =>
          observed += q.name -> d
          if (!expected.get(q.name).contains(d))
            broken += q.name ->
              s"digest $d != expected ${expected.getOrElse(q.name, "(none)")}"
      }
    }
    // then one warm-up pass proper, of the timed op itself: the collect
    // above leaves the noop write path cold
    pass(ctx, -1).foreach(_.run())
    broken.toSeq.sortBy(_._1).foreach { case (q, why) =>
      problems += s"$q: $why" }
    problems.result()
  }

  def pass(ctx: Ctx, pass: Int): Seq[Op] =
    new Random(ctx.seed * 1000003L + pass).shuffle(queries).map { q =>
      Op(q.name, "read", tierOf(q.name), () => {
        try q.run(ctx.spark, ctx.dataDir).write.format("noop")
          .mode("overwrite").save()
        finally ctx.spark.catalog.clearCache()
        broken.get(q.name)
      })
    }
}

object QueryWorkload {
  private lazy val byName: Map[String, Q] = Registry.all.map(q => q.name -> q).toMap

  /** The csv.gz fixture-lake reads, reported as a tier of their own. */
  val LakeFixture: Set[String] = Set("q44_lake_overview",
    "q46_lake_substring_scan", "q56_merged_readback", "q66_sidecar_read")

  def tierOf(name: String): String =
    if (LakeFixture(name)) "lake_fixture"
    else Registry.tierOf.getOrElse(name, "other")

  /** `etl_queries`: the reference pipeline's read path, a subset of the
    * 56 queries of the reference, summary, catalog and fixture-lake tiers
    * chosen by `select_queries.py` from recorded per-query times: each
    * tier gets its share of the full pass's time, spent on queries at
    * evenly spaced cost ranks of the tier. */
  val EtlQueries: Seq[String] = Seq(
    "q04_bucket_year", "q53_bucketed_join", "q02_bucket_month", "q24_asof",
    "q105_avro_roundtrip", "q11_users_for_measurement", "q09_catalog_users",
    "q27_histogram_counts", "q45_catalog_keys", "q56_merged_readback")

  def etlQueries: Seq[Q] = EtlQueries.map(byName)

  def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.take(1).mkString.take(300)
}
