package graft

import org.apache.spark.sql.SparkSession

/** The one session profile: every main and the test suite build their
  * session here, so tests, `Verify` and `Bench` plan through the same
  * optimizer fixed point. The core count is the only parameter (it is a
  * deployment setting); anything only one caller needs (an app name, a
  * legacy read flag) goes on at that call site.
  */
object GraftSession {

  /** `local[cores]` with as many shuffle partitions, UTC, and the graft
    * extensions injected at build time. */
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // let AQE right-size shuffles that feed a persist(): iterative
    // operators (connectedComponents) otherwise pay full-width
    // scheduling per round on tiny cached frames
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // the graft rules (SQL row-level writes, vectorized-read upgrade)
    // ride the BUILDER hook so they run inside the optimizer's own
    // fixed point - filters push below the MOR anti-join etc.
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")

  def apply(cores: Int): SparkSession = builder(cores).getOrCreate()

  /** `SPARK_GRAFT_CPUS` if set, else the caller's default. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
