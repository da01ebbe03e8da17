package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run. Timings come from the
  * untraced half (`u`), counts from the traced half (`t`, with its
  * per-op `costs`); "per op" divides by the traced half's op count.
  * A metric a workload has no ops for reads 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "lake.append_ms" -> "ms", "lake.merge_ms" -> "ms", "lake.delete_ms" -> "ms",
    "lake.update_ms" -> "ms", "lake.optimize_ms" -> "ms",
    "lake.write_p50_ms" -> "ms", "lake.read_p50_ms" -> "ms",
    "lake.commits" -> "count", "lake.live_files_end" -> "count",
    "lake.jobs_per_commit" -> "jobs", "lake.fs_ops_per_commit" -> "calls",
    "lake.write_bytes_per_row" -> "B/row", "lake.storage_bytes_per_row" -> "B/row",
    "sources.point_read_ms" -> "ms", "sources.scan_read_ms" -> "ms",
    "sources.time_travel_ms" -> "ms", "sources.changes_read_ms" -> "ms",
    "sources.files_read_per_point_read" -> "files",
    "sources.files_skipped_frac" -> "fraction",
    "driver.self_ms" -> "ms",
    "fs.open" -> "calls", "fs.create" -> "calls", "fs.rename" -> "calls",
    "fs.delete" -> "calls", "fs.mkdirs" -> "calls", "fs.list_status" -> "calls",
    "fs.get_file_status" -> "calls", "fs.bytes_read" -> "B", "fs.bytes_written" -> "B",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimizer_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.executions_per_op" -> "count",
    "catalyst.aqe_updates_per_op" -> "count",
    "scheduler.jobs_per_op" -> "count", "scheduler.stages_per_op" -> "count",
    "scheduler.tasks_per_op" -> "count", "scheduler.task_run_ms" -> "ms",
    "scheduler.task_cpu_ms" -> "ms", "scheduler.gc_ms" -> "ms",
    "scheduler.job_busy_frac" -> "fraction",
    "scan.input_bytes" -> "B", "scan.input_records" -> "rows",
    "scan.files_read" -> "files", "listing.files_discovered" -> "files",
    "listing.cache_hits" -> "count",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B",
    "shuffle.fetch_wait_ms" -> "ms", "shuffle.spill_bytes" -> "B",
    "codegen.compiles" -> "count", "codegen.compile_ms_mean" -> "ms",
    "queries.tier.reference_s" -> "s", "queries.tier.summary_s" -> "s",
    "queries.tier.catalog_s" -> "s", "queries.tier.lake_fixture_s" -> "s",
    "jvm.peak_rss_mb" -> "MB", "jvm.live_heap_mb" -> "MB", "host.ref_ms" -> "ms",
    "trace.overhead_frac" -> "fraction")

  private val FsCalls = Seq("fs.open", "fs.create", "fs.rename", "fs.delete",
    "fs.mkdirs", "fs.list_status", "fs.get_file_status")

  def compute(u: Seq[OpRecord], t: Seq[OpRecord], costs: Map[Long, OpCost],
      end: Map[String, Double], compileMsMean: Double): mutable.Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val n = t.size.toDouble
    def cost(r: OpRecord) = costs.getOrElse(r.id, new OpCost)
    val cs = t.map(cost)
    def perOp(f: OpCost => Double): Double = cs.map(f).sum / n
    def p50(name: String): Option[Double] = {
      val xs = u.filter(_.name == name).map(_.ms)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }

    // lake (commit/write) and sources (graft data source reads)
    Seq("append", "merge", "delete", "update", "optimize").foreach { k =>
      p50(k).foreach(v => m(s"lake.${k}_ms") = v) }
    val uw = u.filter(_.kind == "write").map(_.ms)
    if (uw.nonEmpty) {
      m("lake.write_p50_ms") = Stats.median(uw)
      m("lake.read_p50_ms") = Stats.median(u.filter(_.kind == "read").map(_.ms))
    }
    Seq("point_read", "scan_read", "time_travel", "changes_read").foreach { k =>
      p50(k).foreach(v => m(s"sources.${k}_ms") = v) }
    // commits and rows touched by the traced writes, as their ops report
    val commits = cs.map(_.counts("lake.commits")).sum.toDouble
    m("lake.commits") = commits
    end.get("lake.live_files_end").foreach(v => m("lake.live_files_end") = v)
    end.get("storage_bytes_per_row").foreach(v => m("lake.storage_bytes_per_row") = v)
    val writes = t.filter(_.kind == "write").map(cost)
    if (commits > 0) {
      m("lake.jobs_per_commit") = writes.map(_.jobs).sum / commits
      m("lake.fs_ops_per_commit") =
        writes.map(c => FsCalls.map(c.counts(_)).sum).sum / commits
    }
    val touched = cs.map(_.counts("lake.rows_touched")).sum.toDouble
    if (touched > 0)
      m("lake.write_bytes_per_row") = cs.map(_.counts("fs.bytes_written")).sum / touched
    def filesOf(name: String): Option[Double] = {
      val xs = t.filter(_.name == name).map(cost(_).filesRead.toDouble)
      if (xs.isEmpty) None else Some(xs.sum / xs.size)
    }
    filesOf("point_read").foreach { pf =>
      m("sources.files_read_per_point_read") = pf
      filesOf("scan_read").filter(_ > 0).foreach(sf =>
        m("sources.files_skipped_frac") = 1.0 - pf / sf)
    }

    // driver protocol: op time not covered by planning phases or jobs
    m("driver.self_ms") = t.map { r =>
      val c = cost(r)
      val lo = r.startMs.toDouble
      val hi = math.max(r.endMs.toDouble, lo + r.ms)
      math.max(0.0, r.ms - Tracer.covered((c.phaseIntervals ++ c.jobIntervals).toSeq, lo, hi))
    }.sum / n
    val busy = t.map(r => Tracer.covered(cost(r).jobIntervals.toSeq, r.startMs.toDouble,
      math.max(r.endMs.toDouble, r.startMs + r.ms))).sum
    m("scheduler.job_busy_frac") = busy / t.map(_.ms).sum

    (FsCalls ++ Seq("fs.bytes_read", "fs.bytes_written", "listing.files_discovered",
      "listing.cache_hits", "codegen.compiles")).foreach { k =>
      m(k) = perOp(_.counts(k).toDouble) }
    m("codegen.compile_ms_mean") = compileMsMean
    m("catalyst.analysis_ms") = perOp(_.analysisMs)
    m("catalyst.optimizer_ms") = perOp(_.optimizerMs)
    m("catalyst.planning_ms") = perOp(_.planningMs)
    m("catalyst.executions_per_op") = perOp(_.executions.toDouble)
    m("catalyst.aqe_updates_per_op") = perOp(_.aqeUpdates.toDouble)
    m("scheduler.jobs_per_op") = perOp(_.jobs.toDouble)
    m("scheduler.stages_per_op") = perOp(_.stages.toDouble)
    m("scheduler.tasks_per_op") = perOp(_.tasks.toDouble)
    m("scheduler.task_run_ms") = perOp(_.taskRunMs)
    m("scheduler.task_cpu_ms") = perOp(_.taskCpuMs)
    m("scheduler.gc_ms") = perOp(_.gcMs)
    m("scan.input_bytes") = perOp(_.inputBytes.toDouble)
    m("scan.input_records") = perOp(_.inputRecords.toDouble)
    m("scan.files_read") = perOp(_.filesRead.toDouble)
    m("shuffle.write_bytes") = perOp(_.shuffleWrite.toDouble)
    m("shuffle.read_bytes") = perOp(_.shuffleRead.toDouble)
    m("shuffle.fetch_wait_ms") = perOp(_.fetchWaitMs.toDouble)
    m("shuffle.spill_bytes") = perOp(_.spillBytes.toDouble)

    // queries: per tier, the sum of per-query medians
    u.filter(r => r.group != r.name).groupBy(_.group).foreach { case (tier, rs) =>
      m(s"queries.tier.${tier}_s") =
        rs.groupBy(_.name).values.map(q => Stats.median(q.map(_.ms))).sum / 1000.0
    }
    m
  }
}
