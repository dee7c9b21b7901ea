package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs, then starts
  * this main once per run:
  *
  *   perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace> <seed> <cores>
  *
  * It sets the workload up several times (each in a fresh session, the
  * last one kept), runs the closed-loop timed phase, checks the outputs,
  * and writes `<workDir>/result.json` for `run.py` to finish and print.
  * Every figure is taken from outside the engine: wall clocks around the
  * harness's own calls into public functions, streaming progress, and (in
  * the traced run only) Spark listeners. */
object Main {

  /** Inputs and knobs of one run. `seed` drives only the harness's own
    * choices (arrival permutation, injected messages, query order); the
    * engine sees the generated files. */
  final case class Args(workload: String, input: Path, work: Path,
                        seconds: Double, trace: Boolean, seed: Long,
                        cores: Int)

  /** What a workload hands back: end-to-end figures, per-layer figures
    * (traced run), correctness checks and input facts. */
  final class Result {
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0L
    var failed = 0L

    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      checks += ((name, ok, if (ok) "" else detail))
      attempted += 1
      if (!ok) failed += 1
    }
  }

  /** Session confs shared by every workload (recorded in the result). */
  def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.execution.sortBeforeRepartition" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.noDataProgressEventInterval" -> "60000")

  def newSession(a: Args): SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-${a.workload}")
    confs(a.cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.streams.active.foreach(_.stop())
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Input generation time of each setup repetition (measured by
    * `run.py`, one line per `input/rep<i>` directory). */
  def datagenMs(a: Args): Seq[Double] =
    Files.readAllLines(a.input.resolve("datagen_ms.txt")).asScala
      .filter(_.trim.nonEmpty).map(_.trim.toDouble).toSeq

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Host CPU counters (`/proc/stat` aggregate line) and JVM GC time,
    * sampled around the timed phase so a noisy run flags itself. */
  final case class HostSample(busy: Long, steal: Long, total: Long, gcMs: Long)

  def hostSample(): HostSample = {
    val f = Paths.get("/proc/stat")
    val (busy, steal, total) =
      if (!Files.isReadable(f)) (0L, 0L, 0L)
      else {
        val cpu = Files.readAllLines(f).asScala.head.trim.split("\\s+").tail.map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]
        val t = cpu.take(8).sum
        val idle = cpu(3) + cpu(4)
        (t - idle - cpu(7), cpu(7), t)
      }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    HostSample(busy, steal, total, gc)
  }

  /** Steal share above which a run is marked noisy. */
  val StealThreshold = 0.05

  def hostFigures(r: Result, before: HostSample, after: HostSample): Unit = {
    val dt = (after.total - before.total).max(1L).toDouble
    val steal = (after.steal - before.steal) / dt
    r.layer("host.steal_share") = steal
    r.layer("host.cpu_busy_share") = (after.busy - before.busy) / dt
    r.layer("jvm.gc_ms") = (after.gcMs - before.gcMs).toDouble
    r.facts("steal_threshold") = StealThreshold
    r.facts("noisy") = steal > StealThreshold
  }

  /** Heap still reachable after a full collection, in MB: what the
    * engine (and the harness's fixed-size input buffers) retain. */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner frees broadcast and shuffle blocks only after
    // a GC has cleared their references: collect, let it run, repeat
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.isReadable(f)) Double.NaN
    else Files.readAllLines(f).asScala.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, input, work, seconds, trace, seed, cores) = argv
    val a = Args(workload, Paths.get(input), Paths.get(work), seconds.toDouble,
      trace == "1", seed.toLong, cores.toInt)
    Files.createDirectories(a.work)
    val r = new Result
    r.facts("workload") = workload
    r.facts("seed") = a.seed
    r.facts("confs") = confs(a.cores).toMap
    r.facts("jvm_heap_mb") = Runtime.getRuntime.maxMemory / (1L << 20)
    val outcome =
      try {
        workload match {
          case "ingest_trickle" => Ingest.run(a, r)
          case "analytics" => Analytics.run(a, r)
          case other => sys.error(s"unknown workload $other")
        }
        None
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          Some(s"${t.getClass.getName}: ${t.getMessage}")
      }
    outcome.foreach(msg => r.check("run completed", ok = false, msg))
    r.e2e("peak_rss_mb") = peakRssMb()
    r.layer("jvm.peak_rss_mb") = r.e2e("peak_rss_mb")
    r.e2e("error_rate") = if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted
    val json = Json.obj(
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "checks" -> r.checks.map { case (n, ok, d) =>
        Json.obj("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "e2e" -> r.e2e.toSeq,
      "layer" -> r.layer.toSeq,
      "facts" -> r.facts.toSeq)
    Files.write(a.work.resolve("result.json"), json.json.getBytes(StandardCharsets.UTF_8))
    // everything is written: skip Spark's shutdown hooks (run.py deletes
    // the work directory) and the non-daemon streaming threads
    Runtime.getRuntime.halt(if (outcome.isEmpty) 0 else 1)
  }
}
