package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The analytics workload: one closed-loop client over a fixed sample of
  * the query surface — every `Stride`-th name of `SparkEntry.queries`
  * sorted by name — each executed as `fn(spark, sfDir).count()`.
  *
  * Setup is one untimed warm-up pass, which also builds the cached
  * artifacts the sample reads (`SparkEntry.warm` would build those of all
  * queries, several times the cost of the pass). In the first setup the
  * warm-up pass writes each result with an oracle query to parquet for
  * `run.py`'s DuckDB check, and records every row count (every setup
  * reads identical tables). The timed phase runs whole passes in a seeded
  * order while time remains; every execution must return the warm-up row
  * count. */
object Analytics {
  import Main._

  val Stride = 48

  def sample: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.collect {
      case (q, i) if i % Stride == 0 => q
    }

  def run(a: Args, r: Result): Unit = {
    val datagenPy = datagenMs(a)
    val queries = sample
    val oracle = SparkEntry.oracleSql
    val out = Files.createDirectories(a.work.resolve("results"))
    val rows = mutable.Map.empty[String, Long]

    var spark: SparkSession = null
    var sfDir: String = null
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    datagenPy.indices.foreach { rep =>
      if (spark != null) stopSession(spark)
      val first = rep == 0
      val last = rep == datagenPy.size - 1
      sfDir = a.input.resolve(s"rep$rep").toString
      val tSetup = System.nanoTime()
      val (s, sessionMs) = timed {
        val s = newSession(a)
        s.range(1000000).selectExpr("sum(id)").collect()
        s
      }
      spark = s
      val (_, warmupMs) = timed {
        queries.foreach { case (name, fn) =>
          try {
            val df = fn(spark, sfDir)
            if (first && oracle.contains(name)) {
              df.write.mode("overwrite").parquet(out.resolve(name).toString)
              rows(name) = spark.read.parquet(out.resolve(name).toString).count()
            } else {
              val n = df.count()
              if (first) rows(name) = n
            }
          } catch {
            case t: Throwable =>
              if (first) r.check(s"$name warm-up", ok = false, t.toString)
          }
        }
      }
      setups += Map("setup_ms" -> (ms(tSetup) + datagenPy(rep)),
        "session_ms" -> sessionMs, "datagen_ms" -> datagenPy(rep),
        "warmup_ms" -> warmupMs)
      if (!last) r.facts(s"setup_rep$rep") = setups.last
    }
    def setupMedian(k: String) = median(setups.map(_(k)).toSeq)
    r.e2e("setup_s") = setupMedian("setup_ms") / 1000.0
    Seq("session", "datagen", "warmup").foreach(k =>
      r.layer(s"setup.$k" + "_ms") = setupMedian(s"${k}_ms"))

    // rows-only queries (no oracle) must still return rows
    queries.foreach { case (name, _) =>
      if (!oracle.contains(name))
        r.check(s"$name returns rows", rows.getOrElse(name, 0L) > 0,
          s"${rows.getOrElse(name, 0L)} rows")
    }
    val oracleFile = queries.collect { case (n, _) if oracle.contains(n) && rows.contains(n) =>
      n -> oracle(n) }
    Files.write(a.work.resolve("oracle_sql.json"),
      Json.render(oracleFile).getBytes(StandardCharsets.UTF_8))

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    def span[T](name: String, layer: String)(body: => T): T =
      tracer.fold(body)(_.span(name, layer)(body))

    // --- timed phase: whole passes, all in one seeded order (a fresh order
    // per pass would vary which generated classes survive in Spark's
    // codegen cache from pass to pass)
    val order = new scala.util.Random(a.seed).shuffle(queries)
    val lat = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val build = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val untraced = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val budgetNs = (a.seconds * 1e9).toLong
    val host0 = hostSample()
    val t0 = System.nanoTime()
    var pass = 0
    var op = 0
    // at least two passes, so every query has a traced and an untraced run
    while (pass < 2 || System.nanoTime() - t0 < budgetNs) {
      order.zipWithIndex.foreach { case ((name, fn), i) =>
        val tracedOp = a.trace && (i + pass) % 2 == 1
        tracer.foreach(_.begin(s"$name#$pass", tracedOp))
        val tq = System.nanoTime()
        val n =
          try {
            val df = span("query.build", "queries")(fn(spark, sfDir))
            build += ms(tq)
            span("query.count", "spark")(df.count())
          } catch { case t: Throwable => t.printStackTrace(); -1L }
        val l = ms(tq)
        lat += l
        perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += l
        tracer.foreach(_.end())
        if (a.trace)
          (if (tracedOp) traced else untraced).getOrElseUpdate(name, mutable.ArrayBuffer.empty) += l
        r.check(s"$name#$pass rows", rows.get(name).contains(n),
          s"$n rows, warm-up had ${rows.get(name)}")
        op += 1
      }
      pass += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    hostFigures(r, host0, hostSample())

    r.e2e("query_p50_ms") = median(lat.toSeq)
    r.e2e("query_p90_ms") = quantile(lat.toSeq, 0.9)
    r.e2e("queries_per_s") = op / wallS
    // The sample mixes queries whose latencies differ by 10x, so a pooled
    // median jumps between neighbouring queries; the geometric mean over
    // queries of each query's median moves smoothly with each of them.
    r.e2e("query_geomean_ms") =
      math.exp(perQuery.values.map(v => math.log(median(v.toSeq))).sum / perQuery.size)
    r.e2e("op_latency_ms") = r.e2e("query_geomean_ms")
    r.e2e("throughput_per_s") = r.e2e("queries_per_s")
    r.e2e("live_heap_mb") = liveHeapMb()

    r.facts("sample") = queries.map(_._1)
    r.facts("sample_size") = queries.size
    r.facts("sample_with_oracle") = oracleFile.size
    r.facts("passes") = pass
    r.facts("executions") = op
    r.facts("latency_ms") = perQuery.toSeq.sortBy(_._1).map { case (n, v) => n -> v.toSeq }
    r.facts("timed_wall_s") = wallS

    tracer.foreach { t =>
      Tracer.engineFigures(t, r)
      r.layer("query.build_ms") = median(build.toSeq)
      // overhead: per query, traced over untraced median latency
      val ratios = traced.keys.filter(untraced.contains).toSeq
        .map(n => median(traced(n).toSeq) / median(untraced(n).toSeq))
      r.layer("trace.overhead_share") = median(ratios) - 1
      t.writeSpans(a.work.resolve("spans.jsonl"))
    }
  }
}
