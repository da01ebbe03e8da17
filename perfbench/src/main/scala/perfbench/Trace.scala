package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A named, timed interval. Spans of one op share `op`; `parent` is the
  * span that caused this one (workload -> pass -> op -> catalyst phase /
  * Spark job). Times are epoch milliseconds (op spans carry their
  * nanosecond duration in `durMs`). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, durMs: Double) {
  def endMs: Double = startMs + durMs
  def json: String = Json.obj(Seq("id" -> Json.num(id.toDouble),
    "parent" -> Json.num(parent.toDouble), "op" -> Json.num(op.toDouble),
    "name" -> Json.str(name), "start_ms" -> Json.num(startMs),
    "dur_ms" -> Json.num(durMs)))
}

/** Everything the listeners and counters saw for one op. */
final class OpCost {
  var executions, aqeUpdates, jobs, stages, tasks = 0L
  var analysisMs, optimizerMs, planningMs = 0.0
  var taskRunMs, taskCpuMs, gcMs = 0.0
  var inputBytes, inputRecords, filesRead = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** catalyst phase and job intervals, for self time and busy share */
  val phaseIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Tracing from outside the engine: a SparkListener (jobs, stages,
  * tasks, AQE updates, and per SQL execution its QueryExecution's
  * planning phases and scanned files), Hadoop storage statistics and
  * [[CountingFileSystem]] (FS calls and bytes) and Spark's static
  * codegen/listing metrics.
  * Every op runs under its own job group `perfbench-op-<id>`, which is
  * how jobs and SQL executions are attributed to the op that caused
  * them. Everything stays in memory until the run writes it out. */
final class Tracer(spark: SparkSession, workloadCounters: () => Map[String, Long]) {
  import Tracer._

  private val sc = spark.sparkContext
  private val costs = mutable.Map.empty[Long, OpCost]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val execOp = mutable.Map.empty[Long, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Double)]
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Int, Double, Double)]()
  private val phaseSpans = new ConcurrentLinkedQueue[(Long, String, Double, Double)]()

  private def cost(op: Long): OpCost = costs.getOrElseUpdate(op, new OpCost)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      opOf(e.properties).foreach { op =>
        val c = cost(op)
        c.jobs += 1
        e.stageIds.foreach(s => stageOp(s) = op)
        jobStart(e.jobId) = (op, e.time.toDouble)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (op, t0) =>
        cost(op).jobIntervals += ((t0, e.time.toDouble))
        jobSpans.add((op, e.jobId, t0, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageOp.get(e.stageInfo.stageId).foreach(op => cost(op).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val c = cost(op)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuMs += m.executorCpuTime / 1e6
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.flatMap(g => opOfGroup(g)).foreach(op => execOp(s.executionId) = op)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          execOp.get(u.executionId).foreach(op => cost(op).aqeUpdates += 1)
        case end: SparkListenerSQLExecutionEnd =>
          for (op <- execOp.remove(end.executionId);
               qe <- PerfbenchAccess.queryExecution(end)) execution(op, qe)
        case _ =>
      }
    }
  }

  /** Planning phases (`qe.tracker.phases`) and scanned files of one
    * finished SQL execution, charged to the op that issued it. */
  private def execution(op: Long, qe: QueryExecution): Unit = {
    val c = cost(op)
    c.executions += 1
    c.filesRead += (try ScanFiles.count(qe.executedPlan) catch { case _: Throwable => 0L })
    qe.tracker.phases.foreach { case (name, p) =>
      val d = p.durationMs.toDouble
      name match {
        case "analysis" => c.analysisMs += d
        case "optimization" => c.optimizerMs += d
        case "planning" => c.planningMs += d
        case _ =>
      }
      c.phaseIntervals += ((p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      phaseSpans.add((op, s"catalyst.$name", p.startTimeMs.toDouble, d))
    }
  }

  /** Attach for a traced stretch of ops. */
  def attach(): Unit = sc.addSparkListener(listener)

  /** Wait for every queued event of the stretch, then detach. */
  def detach(): Unit = {
    PerfbenchAccess.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Call around each traced op: the static counters' deltas are
    * charged to it. */
  private var opBefore = Map.empty[String, Long]
  def beginOp(): Unit = opBefore = counters() ++ workloadCounters()
  def endOp(rec: OpRecord): Unit = {
    val after = counters() ++ workloadCounters()
    listener.synchronized {
      val c = cost(rec.id)
      after.foreach { case (k, v) => c.counts(k) += v - opBefore.getOrElse(k, 0L) }
    }
  }

  /** Per-op costs of everything traced so far. */
  def costsByOp: Map[Long, OpCost] = listener.synchronized(costs.toMap)

  /** Spans for the given ops: op spans with their catalyst phases and
    * jobs as children. `parentOf` maps an op to its pass span id. */
  def spans(ops: Seq[OpRecord], parentOf: OpRecord => Long,
      nextId: () => Long): Seq[Span] = {
    val phases = phaseSpans.asScala.toSeq.groupBy(_._1)
    val jobs = jobSpans.asScala.toSeq.groupBy(_._1)
    ops.flatMap { r =>
      val opSpan = Span(nextId(), parentOf(r), r.id, s"op.${r.name}",
        r.startMs.toDouble, r.ms)
      opSpan +: (phases.getOrElse(r.id, Nil).map { case (_, n, s, d) =>
        Span(nextId(), opSpan.id, r.id, n, s, d)
      } ++ jobs.getOrElse(r.id, Nil).map { case (_, j, s, e) =>
        Span(nextId(), opSpan.id, r.id, s"job.$j", s, e - s)
      })
    }
  }
}

object Tracer {
  val GroupPrefix = "perfbench-op-"
  /** the local property SparkContext.setJobGroup sets */
  val JobGroupKey = "spark.jobGroup.id"

  def group(op: Long): String = GroupPrefix + op

  def opOfGroup(g: String): Option[Long] =
    if (g != null && g.startsWith(GroupPrefix))
      g.stripPrefix(GroupPrefix).toLongOption
    else None

  def opOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(pp => Option(pp.getProperty(JobGroupKey)))
      .flatMap(g => opOfGroup(g))

  /** Static counters read before and after each op. */
  def counters(): Map[String, Long] = {
    val fs = Option(FileSystem.getGlobalStorageStatistics.get("file"))
    def fsLong(k: String): Long =
      fs.flatMap(s => Option(s.getLong(k))).map(_.longValue).getOrElse(0L)
    CountingFileSystem.snapshot() ++ Map(
      "fs.bytes_read" -> fsLong("bytesRead"),
      "fs.bytes_written" -> fsLong("bytesWritten"),
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "listing.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      "listing.cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)
  }

  /** Mean compile time Spark's codegen histogram reports, in ms. */
  def compileMsMean(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Counts the files read by every file scan in an executed plan,
  * including scans inside adaptive query stages and subqueries. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def count(plan: org.apache.spark.sql.execution.SparkPlan): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
