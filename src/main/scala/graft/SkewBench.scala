package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev measurement main (not part of the driver contract): prove the
  * skew mitigations FIRE on a Zipf-skewed clone (ScaleClone --zipf)
  * instead of arguing them from plan shape. Times the q51 join shape
  * three ways on the same data —
  *   naive:  plain shuffle join with AQE skew-join handling DISABLED
  *           (the one-straggler-reducer baseline a hot key produces),
  *   aqe:    plain join, AQE skew join on (Spark's runtime mitigation),
  *   salted: graft.ops.Skew.saltedJoin nSalts=8 (the plan-level one) —
  * plus the registered q74 (count-min heavy hitters) and q82 (bigram
  * LM head/tail split) on the same dir. Warm min-of-runs, like
  * Bench.
  *
  * Usage: runMain graft.SkewBench <dir> [nRuns]
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession(GraftSession.envCores(32))

    def time(label: String)(mk: => DataFrame): Unit = {
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // between-runs cache drop stays OUTSIDE the timed window (the
        // Bench.scala discipline), so persisting queries aren't charged
        // their unpersist cost
        spark.catalog.clearCache()
        dt
      }
      println(f"SKEWBENCH $label%-24s min ${times.min}%6.2f  " +
        f"runs ${times.map(t => f"$t%6.2f").mkString(" ")}")
    }

    val agg = (j: DataFrame) => j.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))

    def li = Tables(spark, dir, "lineitem")
    def ord = Tables(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
    // the mitigations only matter when the join actually shuffles:
    // a broadcast of orders would hide the hot reducer entirely
    def noBcast[T](f: => T): T = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try f finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }

    noBcast {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      time("join_naive_noAqeSkew") {
        agg(li.join(ord, col("l_orderkey") === col("o_orderkey")))
      }
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      time("join_aqe_skew") {
        agg(li.join(ord, col("l_orderkey") === col("o_orderkey")))
      }
      time("join_salted_8") {
        agg(graft.ops.Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey", 8))
      }
    }

    Seq("q74_heavy_hitters", "q82_lm_score").foreach { name =>
      time(name) { SparkEntry.queries(name)(spark, dir) }
    }
    spark.stop()
  }
}
