package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark driver: one JVM, one workload, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --digests DIR
  * }}}
  *
  * Set-up runs [[Main.Setups]] times, each a fresh session and scratch
  * directory with the workload's fixtures or base table built on it; the
  * last one is kept. The untimed warm-up follows. `setup_s` is the
  * median set-up plus the warm-up. The timed phase then issues whole
  * passes until `--seconds` have passed and the workload has its minimum
  * sample. With `--trace 1` the run instead issues twice the minimum
  * number of passes, alternating untraced and traced ones, and reports
  * the per-layer metrics: timings from the untraced passes, counts from
  * the traced ones, and the throughput ratio of the two as the tracing
  * overhead. Results go to `--out` as JSON, and a traced run's spans
  * next to it (`<out minus .json>-spans.jsonl`). Query workloads check
  * their results against `<digests>/<workload>.json`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String,
      digests: String)

  /** `local[Cores]` and as many shuffle partitions, as `graft.Bench`. */
  val Cores = 4
  /** Set-ups per run; `setup_s` takes their median. */
  val Setups = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      need("digests"))
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(a: Args): Workload = a.workload match {
    case "etl_queries" => new QueryWorkload("etl_queries", QueryWorkload.etlQueries,
      new File(a.digests, "etl_queries.json").getPath)
    case "lake_dml" => new LakeWorkload()
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (etl_queries, lake_dml)")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = run(a)
    Json.write(a.out, result)
  }

  /** Op ids are unique within the JVM, so job groups never collide. */
  private var nextOpId = 0L

  /** One pass: its ops and wall time. */
  final case class PassRun(pass: Int, traced: Boolean, ops: Seq[OpRecord],
      wallS: Double)

  final case class Phase(passes: Seq[PassRun]) {
    def ops: Seq[OpRecord] = passes.flatMap(_.ops)
    def opsPerS: Double = ops.size / passes.map(_.wallS).sum
    def select(traced: Boolean): Phase = Phase(passes.filter(_.traced == traced))
  }

  /** Issue whole passes, one op at a time, until `minPasses` are done and
    * `seconds` have passed. Passes for which `traced` holds run with the
    * tracer attached (and drained before the pass ends). */
  def runPhase(ctx: Ctx, w: Workload, minPasses: Int, seconds: Double,
      tracer: Option[Tracer], traced: Int => Boolean): Phase = {
    val sc = ctx.spark.sparkContext
    val runs = mutable.ArrayBuffer.empty[PassRun]
    val t0 = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tr = tracer.filter(_ => traced(p))
      val ps = System.nanoTime()
      tr.foreach(_.attach())
      val recs = w.pass(ctx, p).map { op =>
        nextOpId += 1
        val id = nextOpId
        sc.setJobGroup(Tracer.group(id), op.name, interruptOnCancel = false)
        tr.foreach(_.beginOp())
        val startMs = System.currentTimeMillis()
        val s = System.nanoTime()
        val err =
          try op.run()
          catch { case e: Throwable => Some(QueryWorkload.errText(e)) }
        val dur = System.nanoTime() - s
        val rec = OpRecord(id, p, op.name, op.kind, op.group,
          startMs, System.currentTimeMillis(), dur, err)
        sc.clearJobGroup()
        tr.foreach(_.endOp(rec))
        rec
      }
      tr.foreach(_.detach())
      runs += PassRun(p, tr.isDefined, recs, (System.nanoTime() - ps) / 1e9)
      p += 1
    }
    Phase(runs.toSeq)
  }

  /** Every run times at least this many ops. The median then has at
    * least ten samples beyond it and is the highest percentile a run
    * supports: a p75 would need 40 ops, which with both workloads' set-up
    * does not fit the benchmark's time budget. */
  val MinOps = 20

  /** Passes needed to reach [[MinOps]]. */
  def passesFor(w: Workload, ctx: Ctx): Int =
    math.ceil(MinOps.toDouble / w.pass(ctx, Int.MaxValue).size).toInt

  def run(a: Args): String = {
    new File(a.work).mkdirs()
    val w = workload(a)
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    val problems = mutable.ArrayBuffer.empty[String]
    (1 to Setups).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val wa = a.copy(work = new File(a.work, s"setup$i").getAbsolutePath)
      new File(wa.work).mkdirs()
      spark = session(wa)
      ctx = Ctx(spark, a.data, wa.work, a.seed)
      w.prepare(ctx)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    problems ++= w.warmUp(ctx).map(p => s"warm-up: $p")
    val warmUpS = (System.nanoTime() - tw) / 1e9
    // the first run of the reference loop JITs it; the next one measures
    val refBefore = (1 to 2).map(_ => Reference.ms(Cores)).last
    val minPasses = passesFor(w, ctx)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, String]
    // A traced run alternates untraced and traced passes, twice the
    // minimum, so both halves see the same mix and the same JIT state.
    // The overhead compares the two halves of this JVM. The counting file
    // system serves the whole traced JVM, so its call counting is on both
    // sides and not part of the overhead.
    val tracer = if (a.trace) Some(new Tracer(spark, () => w.counters)) else None
    val cpu0 = processCpuMs()
    val phase =
      if (a.trace) runPhase(ctx, w, 2 * minPasses, 0, tracer, _ % 2 == 1)
      else runPhase(ctx, w, minPasses, a.seconds, None, _ => false)
    val cpuMs = processCpuMs() - cpu0
    val hostRefMs = (refBefore + Reference.ms(Cores)) / 2
    val timed = phase.select(traced = false)
    problems ++= phase.ops.flatMap(r => r.error.map(e => s"${r.name}: $e"))
    problems ++= w.finish(ctx).map(p => s"final check: $p")
    val extra = w.extraMetrics(ctx)

    val all = timed.ops.map(_.ms)
    val reads = timed.ops.filter(_.kind == "read").map(_.ms)
    val writes = timed.ops.filter(_.kind == "write").map(_.ms)
    val attempted = phase.ops.size
    val failed = phase.ops.count(_.error.isDefined)
    val setupS = Stats.median(setupTimes.toSeq) + warmUpS
    System.gc()
    val rt = Runtime.getRuntime
    val liveHeapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("ops_per_s") = (timed.opsPerS, "ops/s")
      metrics("op_p50_gmean_ms") = (Stats.geoMean(timed.ops.groupBy(_.name).values
        .map(rs => Stats.median(rs.map(_.ms))).toSeq), "ms")
      metrics("cpu_ms_per_op") = (cpuMs / phase.ops.size, "ms")
    } else {
      val t = phase.select(traced = true)
      val costs = tracer.get.costsByOp
      val layer = Layers.compute(timed.ops, t.ops, costs, extra, Tracer.compileMsMean())
      layer("trace.overhead_frac") = 1.0 - t.opsPerS / timed.opsPerS
      layer("host.ref_ms") = hostRefMs
      layer("jvm.peak_rss_mb") = peakRssMb()
      layer("jvm.live_heap_mb") = liveHeapMb
      Layers.All.foreach { case (name, unit) =>
        metrics(name) = (layer.getOrElse(name, 0.0), unit) }
      val spans = Main.spans(w, t, tracer.get)
      Json.write(a.out.stripSuffix(".json") + "-spans.jsonl",
        spans.map(_.json).mkString("\n"))
      detail("spans") = Json.num(spans.size)
      detail("per_op_cost") = perOpCost(t.ops, costs)
    }
    detail("host_ref_ms") = Json.num(hostRefMs)
    detail("pass_wall_ops_per_s") = Json.arr(phase.passes.map(p => Json.num(p.ops.size / p.wallS)))
    detail("peak_rss_mb") = Json.num(peakRssMb())
    detail("live_heap_mb") = Json.num(liveHeapMb)
    detail("setup_runs_s") = Json.arr(setupTimes.toSeq.map(Json.num))
    detail("warm_up_s") = Json.num(warmUpS)
    detail("passes") = Json.num(phase.passes.size)
    detail("op_samples") = Json.num(all.size)
    detail("op_p50_ms") = Json.num(Stats.median(all))
    detail("samples_beyond_p50") = Json.num(Stats.samplesBeyond(all.size, 50))
    detail("error_rate") = Json.num(failed.toDouble / math.max(1, attempted))
    detail("read_p50_ms") = Json.num(Stats.median(reads))
    if (writes.nonEmpty) detail("write_p50_ms") = Json.num(Stats.median(writes))
    extra.foreach { case (k, v) => detail(k) = Json.num(v) }
    detail("per_op_median_ms") = Json.obj(timed.ops.groupBy(_.name).toSeq
      .sortBy(_._1).map { case (n, rs) => n -> Json.num(Stats.median(rs.map(_.ms))) })
    w match {
      case q: QueryWorkload =>
        detail("digests") = Json.obj(q.observed.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.str(v) })
      case _ =>
    }
    val out = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed.toDouble),
      "trace" -> Json.num(if (a.trace) 1 else 0),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "problems" -> Json.arr(problems.toSeq.distinct.map(Json.str)),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "detail" -> Json.obj(detail.toSeq)))
    spark.stop()
    out
  }

  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => 0.0
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** workload -> pass -> op -> catalyst phase / Spark job */
  def spans(w: Workload, t: Phase, tracer: Tracer): Seq[Span] = {
    var id = 0L
    val next = () => { id += 1; id }
    val ops = t.ops
    val root = Span(next(), 0, 0, s"workload.${w.name}", ops.head.startMs.toDouble,
      (ops.last.endMs - ops.head.startMs).toDouble)
    val passSpans = t.passes.map { p =>
      p.pass -> Span(next(), root.id, 0, s"pass.${p.pass}", p.ops.head.startMs.toDouble,
        (p.ops.last.endMs - p.ops.head.startMs).toDouble)
    }.toMap
    root +: t.passes.map(p => passSpans(p.pass)) ++:
      tracer.spans(ops, r => passSpans(r.pass).id, next)
  }

  /** Per op name: what one op of that name cost, on average. */
  def perOpCost(ops: Seq[OpRecord], costs: Map[Long, OpCost]): String =
    Json.obj(ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
      val cs = rs.flatMap(r => costs.get(r.id))
      def avg(f: OpCost => Double) = Json.num(cs.map(f).sum / rs.size)
      n -> Json.obj(Seq("ops" -> Json.num(rs.size),
        "jobs" -> avg(_.jobs.toDouble), "stages" -> avg(_.stages.toDouble),
        "tasks" -> avg(_.tasks.toDouble), "executions" -> avg(_.executions.toDouble),
        "files_read" -> avg(_.filesRead.toDouble),
        "fs_bytes_written" -> avg(_.counts("fs.bytes_written").toDouble)))
    })
}
