package graft.queries

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.Tables
import graft.lake.Versioned
import graft.ops.MergeData
import graft.plans.MaterializedViews
import graft.plans.MaterializedViews.MvDef

/** Materialized-view rewrite tier: [[graft.plans.MvRewrite]] oracled
  * end-to-end. Both queries aggregate the BASE table through the
  * registered summary — the query functions REQUIRE (loudly) that the
  * physical plan scans the summary and never the base, so a rewrite
  * that silently stops firing fails the correctness row rather than
  * degrading into a base scan. Values ride the integer tick grid
  * (vt = round(value·10⁴)) so every partial-sum re-aggregation is
  * exact and engine-order-independent.
  *
  * Scale shape: the summary has |users|×|event_types| rows — at 100 TB
  * the rewrite turns a full-lake scan into a scan of a table ~6 orders
  * of magnitude smaller, and q148's maintenance advances it from the
  * merge change feed alone (no base rescan), so the summary stays
  * fresh at delta cost.
  */
object MvQueries {

  private def target(name: String): String =
    new File(new File(sys.props("user.dir"), "target"), name).getAbsolutePath

  private def rm(dir: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(walk)
      f.delete()
    }
    val f = new File(dir)
    if (f.exists()) walk(f)
  }

  /** Ticked projection of events, written once per (sf dir, events
    * mtime): the q147 base table. Returns (basePath, mvPath). */
  private def mvFixture(s: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new File(dir, "events.parquet").lastModified()
    val basePath = target(s"graft_mvbase_${tag}_$stamp")
    val mvPath = target(s"graft_mvsum_${tag}_$stamp")
    val d = MvDef("events_by_user_type", basePath, mvPath,
      groupCols = Seq("user_id", "event_type"),
      sums = Seq("vt"), counts = Seq("vt"), countStar = true,
      mins = Seq("vt"), maxs = Seq("vt"))
    MvQueries.synchronized {
      if (!new File(s"$basePath/_SUCCESS").exists() ||
          !new File(s"$mvPath/_SUCCESS").exists()) {
        Tables(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            round(col("value") * 10000).cast("long").as("vt"))
          .write.mode("overwrite").parquet(basePath)
        MaterializedViews.materialize(s, d)
      }
    }
    graft.GraftExtensions.register(s)
    MaterializedViews.register(d)
    (basePath, mvPath)
  }

  /** Fail loudly unless the physical plan reads ONLY the summary.
    * Checks the root paths of the plan's file scans, never the plan
    * text: Spark cuts a scan's printed `Location` at
    * `spark.sql.maxMetadataStringLength`, so a long path would vanish
    * from the text whether or not it is scanned. */
  private[graft] def requireMvScan(d: DataFrame, mvPath: String,
      basePath: String): DataFrame = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case sc: FileSourceScanExec => Seq(sc)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    }.flatten
    val plan = d.queryExecution.executedPlan
    val roots = scans(plan).flatMap(_.relation.location.rootPaths)
      .map(p => Path.getPathWithoutSchemeAndAuthority(p).toString)
    def under(p: String)(r: String) = r == p || r.startsWith(p + "/")
    val mv = MaterializedViews.norm(mvPath)
    val base = MaterializedViews.norm(basePath)
    require(roots.exists(under(mv)),
      s"MV rewrite did not fire — plan does not scan $mvPath:\n$plan")
    require(!roots.exists(under(base)),
      s"MV rewrite left a base scan of $basePath in the plan:\n$plan")
    d
  }

  private def mvRewrite(s: SparkSession, dir: String): DataFrame = {
    val (basePath, mvPath) = mvFixture(s, dir)
    val q = s.read.parquet(basePath)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .groupBy("user_id")
      .agg(
        sum("vt").as("sum_t"),
        count(lit(1)).as("n"),
        // avg derives from the stored sum/count partials; integer
        // rounding is the portable tie-safe quantization
        round(avg(col("vt"))).cast("long").as("avg_t"),
        min("vt").as("min_t"),
        max("vt").as("max_t"))
      .orderBy("user_id")
    requireMvScan(q, mvPath, basePath)
  }

  /** q148: merge a batch into a partitioned versioned lake with the
    * change feed enabled (updates + deletes + inserts), advance the
    * summary from the merge's CHANGE INCREMENT ONLY
    * ([[MergeData.feedDeltas]] → [[MaterializedViews.appliedDeltas]]),
    * and serve the post-merge aggregate through the rewrite. The lake
    * is rebuilt and the merge replayed every run, so feed emission,
    * delta algebra, maintenance, and rewrite are all exercised per run;
    * the oracle recomputes the post-merge state directly from events.
    */
  private def mvIncremental(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val lakeDir = target(s"graft_mvlake_$tag")
    val mv0Dir = target(s"graft_mvinc0_$tag")
    val mv1Dir = target(s"graft_mvinc1_$tag")
    // a previous invocation in this JVM (bench warm-up/repeat runs)
    // left its registration behind — drop it before wiping its summary
    MaterializedViews.deregister(lakeDir)
    Seq(lakeDir, mv0Dir, mv1Dir).foreach(rm)

    // two event types keep the per-run rebuild+merge cost proportional
    // to what the oracle actually checks (the mechanics are identical)
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("event_type"), col("user_id"),
        round(col("value") * 10000).cast("long").as("vt"))

    // v0 lake: event_id % 4 != 0, partitioned by event_type
    ev.filter(col("event_id") % 4 =!= 0)
      .write.mode("overwrite").partitionBy("event_type").parquet(lakeDir)

    val d0 = MvDef("lake_by_user", lakeDir, mv0Dir,
      groupCols = Seq("user_id"), sums = Seq("vt"), counts = Nil,
      countStar = true)
    MaterializedViews.materialize(s, d0)

    // one batch: double vt where id%20==1 (updates), delete id%20==2,
    // insert the id%4==0 rows (disjoint classes by construction)
    val batch =
      ev.filter(col("event_id") % 20 === 1)
        .withColumn("vt", col("vt") * 2).withColumn("__delete", lit(false))
        .unionByName(
          ev.filter(col("event_id") % 20 === 2)
            .withColumn("__delete", lit(true)))
        .unionByName(
          ev.filter(col("event_id") % 4 === 0)
            .withColumn("__delete", lit(false)))
    Versioned.init(s, lakeDir)
    val v0 = Versioned.enableChangeFeed(s, lakeDir, Seq("event_id"))
    val v1 = Versioned.mergeInto(s, lakeDir, batch, Seq("event_type"),
      Seq("event_id"))

    // summary advanced from the merge's increment alone — no base rescan
    val deltas = MergeData.feedDeltas(
      Versioned.changesBetween(s, lakeDir, v0, v1), Seq("user_id"), "vt")
    MaterializedViews
      .appliedDeltas(s.read.parquet(mv0Dir), deltas, d0, sumOf = "vt")
      .write.mode("overwrite").parquet(mv1Dir)
    // the summary is registered against the lake DIRECTORY: reap the
    // files the merge superseded so a plain read of it is the table
    Versioned.vacuum(s, lakeDir, keepVersions = 1)

    graft.GraftExtensions.register(s)
    MaterializedViews.register(d0.copy(mvPath = mv1Dir))
    val q = s.read.parquet(lakeDir)
      .groupBy("user_id")
      .agg(sum("vt").as("sum_t"), count(lit(1)).as("n"))
      .orderBy("user_id")
    requireMvScan(q, mv1Dir, lakeDir)
  }

  val all: Seq[Q] = Seq(
    Q("q147_mv_rewrite",
      mvRewrite,
      Some("""
        WITH b AS (
          SELECT user_id, event_type,
                 round(value * 10000)::BIGINT AS vt
          FROM events)
        SELECT user_id,
               sum(vt)::BIGINT AS sum_t,
               count(*) AS n,
               round(sum(vt)::DOUBLE / count(*))::BIGINT AS avg_t,
               min(vt) AS min_t,
               max(vt) AS max_t
        FROM b
        WHERE event_type IN ('click', 'view', 'purchase')
        GROUP BY 1 ORDER BY 1"""),
      "transparent MV rewrite: sum/count/avg/min/max + group-col filter served from the summary (plan-pinned), oracled against the raw table"),

    Q("q148_mv_incremental",
      mvIncremental,
      Some("""
        WITH b AS (
          SELECT event_id, user_id,
                 round(value * 10000)::BIGINT AS vt
          FROM events
          WHERE event_type IN ('click', 'view'))
        SELECT user_id,
               sum(CASE WHEN event_id % 20 = 1 THEN vt * 2 ELSE vt END)::BIGINT
                 AS sum_t,
               count(*) AS n
        FROM b
        WHERE event_id % 20 <> 2
        GROUP BY 1 ORDER BY 1"""),
      "merge → change feed → delta-maintained summary → MV rewrite (plan-pinned): post-merge aggregate served without any base rescan"))
}
