package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark listeners of the traced run.
  *
  * Operations (a micro-batch, a current-state read, a query execution)
  * alternate between traced and untraced: listeners stay attached but
  * record only while a traced operation is open, and spans are recorded
  * only inside traced operations. Comparing the two halves gives the
  * tracing overhead. After every operation the listener bus is drained
  * (outside the timed window) so late events land on the operation that
  * caused them. Spans are kept in memory and written out at the end. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = epochOffsetMs + System.nanoTime() / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  /** The open traced operation; listener threads read it. */
  @volatile private var open: Option[OpStats] = None
  @volatile private var engineOn = true
  private var inIsolated = false
  private var codegenAtOpen = 0L

  /** Per traced operation: Spark counters, job intervals, layer times. */
  val ops = mutable.LinkedHashMap.empty[String, OpStats]
  /** Streaming query id → short name ("raw"/"typed"). */
  val queryNames = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def current: Option[OpStats] = if (engineOn) open else None

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = current.foreach { s =>
      s.synchronized {
        val q = Option(e.properties).flatMap(p =>
          Option(p.getProperty("sql.streaming.queryId"))).map(queryNames.getOrDefault(_, "stream"))
          .getOrElse("harness")
        s.jobs += 1
        s.jobsBy(q) = s.jobsBy.getOrElse(q, 0) + 1
        s.jobStart(e.jobId) = e.time.toDouble
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = current.foreach { s =>
      s.synchronized {
        s.jobStart.remove(e.jobId).foreach(t => s.jobSpans += ((t, e.time.toDouble)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = current.foreach { s =>
      val i = e.stageInfo
      s.synchronized {
        s.stages += 1
        s.tasks += i.numTasks
        val m = i.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuMs += m.executorCpuTime / 1e6
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = current.foreach { s =>
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val bcasts = scala.util.Try(qe.executedPlan.collectWithSubqueries {
        case p if p.nodeName.startsWith("BroadcastExchange") => 1
      }.size).getOrElse(0)
      s.synchronized {
        s.sqlExecs += 1
        s.analysisMs += phase("analysis")
        s.optimizationMs += phase("optimization")
        s.planningMs += phase("planning")
        s.broadcasts += bcasts
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Open an operation. Untraced operations record nothing. */
  def begin(op: String, traced: Boolean): Unit = {
    if (traced) {
      val s = new OpStats(op)
      ops(op) = s
      codegenAtOpen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      open = Some(s)
    }
  }

  /** Close the open operation after its events have been delivered. */
  def end(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    current.foreach { s =>
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      s.codegenClasses = h.getCount - codegenAtOpen
      // the histogram keeps a sample, not a sum: estimate as count × mean
      s.codegenMs = s.codegenClasses * h.getSnapshot.getMean
    }
    open = None
  }

  /** Run a layer probe inside the open operation: its spans count, its
    * Spark work stays out of the operation's engine counters, and its
    * span time is attributed to the probed layer (see [[selfTimes]]). */
  def isolated[T](body: => T): T = {
    PerfbenchBus.drain(spark.sparkContext)
    engineOn = false
    inIsolated = true
    try body
    finally {
      PerfbenchBus.drain(spark.sparkContext)
      inIsolated = false
      engineOn = true
    }
  }

  /** Time `body` as a span of `layer` inside the open traced operation. */
  def span[T](name: String, layer: String)(body: => T): T = open.map(_.op) match {
    case None => body
    case Some(op) =>
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val t0 = nowMs
      spans += Span(id, name, layer, parent, op, t0, t0, inIsolated)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
  }

  /** Self time per layer for each traced operation: a span's own time
    * minus its children's, with the part covered by Spark jobs moved to
    * the `spark` layer. Probe spans ([[isolated]]) re-measure work that
    * ran inside the operation's Spark jobs (decode and last-writer-wins
    * inside the store merge), so their time is moved from `spark` to the
    * probed layer; the layers then sum to the operation's own time, probes
    * excluded. */
  def selfTimes(): Map[String, Map[String, Double]] = {
    val byOp = spans.groupBy(_.op)
    ops.keys.map { op =>
      val jobs = ops(op).synchronized(ops(op).jobSpans.toList)
      val ss = byOp.getOrElse(op, Nil).toSeq
      val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      ss.foreach { s =>
        val kids = ss.filter(_.parent == s.id)
        val own = s.dur - kids.map(_.dur).sum
        val sparkOwn = covered(jobs, s.startMs, s.endMs) -
          kids.map(k => covered(jobs, k.startMs, k.endMs)).sum
        if (s.isolated) {
          acc(s.layer) += own
          acc("probed") += own
        } else if (s.layer == "spark") acc("spark") += own
        else {
          acc("spark") += sparkOwn
          acc(s.layer) += own - sparkOwn
        }
      }
      val moved = acc("probed").min(acc("spark"))
      acc("spark") -= moved
      acc("probed") -= moved
      op -> acc.toMap
    }.toMap
  }

  def writeSpans(path: Path): Unit = {
    val lines = spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "probe" -> s.isolated))
    Files.write(path, lines.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, layer: String, parent: Int,
                        op: String, startMs: Double, endMs: Double,
                        isolated: Boolean = false) {
    def dur: Double = endMs - startMs
  }

  final class OpStats(val op: String) {
    var jobs = 0
    val jobsBy = mutable.Map.empty[String, Int]
    val jobStart = mutable.Map.empty[Int, Double]
    val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
    var stages, tasks, sqlExecs, broadcasts = 0
    var runMs, cpuMs, gcMs = 0.0
    var shuffleRead, shuffleWrite, spill = 0L
    var analysisMs, optimizationMs, planningMs = 0.0
    var codegenClasses = 0L
    var codegenMs = 0.0
  }

  /** Length of [lo, hi] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, reach = 0.0
    var first = true
    clipped.foreach { case (a, b) =>
      if (first || a > reach) { total += b - a; reach = b; first = false }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  /** Engine counters averaged over the traced operations, under the
    * per-layer metric names shared by every workload. */
  def engineFigures(t: Tracer, r: Main.Result): Unit = {
    val ops = t.ops.values.toSeq
    val n = ops.size.max(1).toDouble
    def avg(f: OpStats => Double) = ops.map(f).sum / n
    r.layer("sched.jobs") = avg(_.jobs)
    r.layer("sched.stages") = avg(_.stages)
    r.layer("sched.tasks") = avg(_.tasks)
    r.layer("exec.run_ms") = avg(_.runMs)
    r.layer("exec.cpu_ms") = avg(_.cpuMs)
    r.layer("exec.gc_ms") = avg(_.gcMs)
    r.layer("shuffle.read_bytes") = avg(_.shuffleRead.toDouble)
    r.layer("shuffle.write_bytes") = avg(_.shuffleWrite.toDouble)
    r.layer("shuffle.spill_bytes") = avg(_.spill.toDouble)
    r.layer("plan.broadcast_builds") = avg(_.broadcasts)
    r.layer("plan.sql_executions") = avg(_.sqlExecs)
    r.layer("plan.analysis_ms") = avg(_.analysisMs)
    r.layer("plan.optimization_ms") = avg(_.optimizationMs)
    r.layer("plan.planning_ms") = avg(_.planningMs)
    r.layer("codegen.classes") = avg(_.codegenClasses.toDouble)
    r.layer("codegen.compile_ms") = avg(_.codegenMs)
    val self = t.selfTimes().values.toSeq
    Seq("cdc", "streaming", "operators", "queries", "spark", "harness").foreach { l =>
      r.layer(s"self.$l" + "_ms") = self.map(_.getOrElse(l, 0.0)).sum / n
    }
    r.layer("self.graft_ms") = Seq("cdc", "streaming", "operators", "queries")
      .map(l => r.layer(s"self.$l" + "_ms")).sum
    r.layer("trace.ops") = n
  }
}
