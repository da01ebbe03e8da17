package perfbench

import org.apache.spark.sql.SparkSession

/** One operation a workload's single client issues. `run` performs it
  * and returns None when its output checks out, or the reason it does
  * not. `kind` is "read" or "write"; `group` names the per-kind (or
  * per-tier) bucket it is reported under. */
final case class Op(name: String, kind: String, group: String,
    run: () => Option[String])

/** What one executed op left behind. */
final case class OpRecord(id: Long, pass: Int, name: String, kind: String,
    group: String, startMs: Long, endMs: Long, durNs: Long,
    error: Option[String]) {
  def ms: Double = durNs / 1e6
}

/** Shared state of one benchmark run. `work` is the run's private
  * scratch directory; nothing is written outside it. */
final case class Ctx(spark: SparkSession, dataDir: String, work: String,
    seed: Long)

/** A closed-loop workload with one client: the runner issues each op
  * only after the previous one returned. */
trait Workload {
  def name: String

  /** Untimed, once per set-up on a fresh session and scratch directory:
    * build what the workload's ops read (fixtures, the base table). */
  def prepare(ctx: Ctx): Unit = ()

  /** Untimed, once per run: passes of the timed ops, so JIT and codegen
    * are paid before timing. Returns the correctness problems found. */
  def warmUp(ctx: Ctx): Seq[String]

  /** The ops of pass `pass` (0-based), in the order the seed gives them.
    * Every pass of a workload issues the same multiset of op kinds, so a
    * run's mix does not depend on how many passes fit into it. */
  def pass(ctx: Ctx, pass: Int): Seq[Op]

  /** Untimed checks after the timed phase; returns problems found. */
  def finish(ctx: Ctx): Seq[String] = Nil

  /** Workload counters (name -> running total); the traced run charges
    * each op the change it made. */
  def counters: Map[String, Long] = Map.empty

  /** Extra end-of-run numbers this workload reports (name -> value). */
  def extraMetrics(ctx: Ctx): Map[String, Double] = Map.empty
}

