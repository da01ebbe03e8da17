package graft

import org.apache.spark.sql.functions._

import graft.plans.MaterializedViews
import graft.plans.MaterializedViews.MvDef

/** Measures what the MV rewrite is FOR: the same aggregate with the
  * summary registered (plan = summary scan) vs not (plan = base scan),
  * min-of-N wall seconds each. The base/summary ratio is the point —
  * it grows linearly with base size while the rewritten side stays
  * flat at summary size, which is the 100 TB argument in miniature.
  *
  * Usage: runMain graft.MvBench <sfDir> <runs> [mult]
  * `mult` row-replicates the base (same groups, so the summary keeps
  * its size) to show the divergence: base cost grows with mult, the
  * rewritten cost does not.
  */
object MvBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val mult = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession(GraftSession.envCores(32))

    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = new java.io.File("target", s"graft_mvbench_base_$tag").getAbsolutePath
    val mv = new java.io.File("target", s"graft_mvbench_mv_$tag").getAbsolutePath
    Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("vt"))
      .withColumn("__r", explode(sequence(lit(1), lit(mult))))
      .drop("__r")
      .write.mode("overwrite").parquet(base)
    val d = MvDef("bench", base, mv, Seq("user_id", "event_type"),
      sums = Seq("vt"), counts = Seq("vt"))
    MaterializedViews.materialize(spark, d)

    def q() = spark.read.parquet(base)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .groupBy("user_id")
      .agg(sum("vt").as("s"), count(lit(1)).as("n"), avg("vt").as("a"))

    def time(): Double = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      q().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

    q().write.format("noop").mode("overwrite").save() // warm
    val baseSec = time()
    MaterializedViews.register(d)
    val plan = q().queryExecution.executedPlan.toString
    require(plan.contains(mv), s"rewrite did not fire:\n$plan")
    val mvSec = time()
    MaterializedViews.deregister(base)
    val baseRows = spark.read.parquet(base).count()
    val mvRows = spark.read.parquet(mv).count()
    println(f"""{"metric":"mv_rewrite","base_rows":$baseRows,"mv_rows":$mvRows,"base_sec":$baseSec%.3f,"mv_sec":$mvSec%.3f,"speedup":${baseSec / mvSec}%.2f}""")
    spark.stop()
  }
}
