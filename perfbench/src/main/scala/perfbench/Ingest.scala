package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{CdcSim, DeletePolicy, EnvelopeDecode}
import graft.operators.Versioned
import graft.sources.CdcSource
import graft.streaming.{ArchiveCompactor, CdcPipeline, ParquetStateStore, PipelineRegistry, Sinks, TableCdcConfig}

/** The ingest workload: the `orders` change stream (CdcSim envelopes)
  * replayed as closed-loop file micro-batches through
  * `CdcPipeline.start` — L1 raw archive plus L2 `ParquetStateStore`.
  *
  * Setup lands the snapshot (`r` events) as one batch and runs warm-up
  * change batches. The timed phase publishes 1024-event change batches
  * (the reference's `max.batch.size`): one JSON-lines file moved into the
  * watched directory, counted as committed once both streaming queries
  * report its source offset, followed by one current-state read. It
  * ends with one `ArchiveCompactor.compact` of the L1 archive.
  *
  * The generator is seeded: arrival order is permuted within a bounded
  * window, a share of events is redelivered (at-least-once), and a share
  * of malformed and empty messages is injected. Injected messages are
  * extra copies, so the expected state is fixed by which events were
  * published. */
object Ingest {
  import Main._

  val BatchEvents = 1024
  /** Change batches run in every setup before timing: the batch latency
    * still falls for several batches after the JVM starts. */
  val WarmupBatches = 4
  val DupShare = 0.02
  val BrokenShare = 0.004
  val EmptyShare = 0.004
  /** Arrival-order permutation window, in batches. */
  val WindowBatches = 2
  val TriggerMs = 50L

  /** One published message: `kind` 0 = event, 1 = redelivered copy,
    * 2 = malformed JSON, 3 = empty value. */
  final case class Msg(id: Int, op: Char, kind: Int, value: String)

  final case class Stream(snapshot: Array[Msg], changes: Array[Msg])

  /** CdcSim's envelopes for the generated `orders` table, in capture
    * order (snapshot reads first, then changes by commit time). */
  def envelopes(spark: SparkSession, ordersPath: String): Stream = {
    val orders = spark.read.parquet(ordersPath)
    val env = CdcSim.orderEnvelopes(orders).select(
      get_json_object(col("key"), "$.payload.id").cast("int").as("id"),
      get_json_object(col("value"), "$.payload.op").as("op"),
      col("value"))
    val rows = env.collect().map(r => Msg(r.getInt(0), r.getString(1).head, 0, r.getString(2)))
    val rank = Map('r' -> 0, 'u' -> 1, 'd' -> 2)
    val sorted = rows.sortBy(m => (m.id, rank(m.op)))
    Stream(sorted.filter(_.op == 'r'), sorted.filter(_.op != 'r'))
  }

  /** Seeded perturbation of a capture-ordered event sequence. */
  def perturb(events: Array[Msg], batch: Int, rnd: scala.util.Random): Array[Msg] = {
    val window = WindowBatches * batch
    val keyed = mutable.ArrayBuffer.empty[(Double, Msg)]
    events.zipWithIndex.foreach { case (m, i) =>
      keyed += ((i + rnd.nextDouble() * window, m))
      if (rnd.nextDouble() < DupShare)
        keyed += ((i + 1 + rnd.nextDouble() * window, m.copy(kind = 1)))
      if (rnd.nextDouble() < BrokenShare)
        keyed += ((i + rnd.nextDouble() * window,
          Msg(-1, 'x', 2, m.value.substring(0, m.value.length / 2))))
      if (rnd.nextDouble() < EmptyShare)
        keyed += ((i + rnd.nextDouble() * window, Msg(-1, 'x', 3, "")))
    }
    keyed.sortBy(_._1).map(_._2).toArray
  }

  /** Write a batch file outside the watched directory, then move it in
    * (an atomic rename, so the stream never sees a partial file). */
  def publish(msgs: Seq[Msg], staging: Path, source: Path, seq: Int): Path = {
    val name = f"batch-$seq%06d.json"
    val tmp = staging.resolve(name)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(tmp),
      StandardCharsets.UTF_8), 1 << 20)
    try msgs.foreach { m => w.write("{\"value\":"); w.write(Json.str(m.value)); w.write("}\n") }
    finally w.close()
    Files.move(tmp, source.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r

  def committedOffset(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.endOffset)).flatMap(o => LogOffset.findFirstMatchIn(o))
      .map(_.group(1).toLong).getOrElse(-1L)

  /** Block until every query has committed source offset `offset`. */
  def awaitCommitted(qs: Seq[StreamingQuery], offset: Long, timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (qs.exists(q => committedOffset(q) < offset)) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      if (System.currentTimeMillis() > deadline)
        sys.error(s"batch at offset $offset not committed within ${timeoutMs}ms")
      java.util.concurrent.locks.LockSupport.parkNanos(200000L)
    }
  }

  def config: TableCdcConfig = TableCdcConfig(
    table = "public.orders", topicPrefix = "poc", rowSchema = CdcSim.ordersRow,
    keys = Seq("id"), deletePolicy = DeletePolicy.Apply)

  /** One live pipeline over its own directories. */
  final class Rig(val spark: SparkSession, val root: Path) {
    val staging: Path = Files.createDirectories(root.resolve("staging"))
    val source: Path = Files.createDirectories(root.resolve("source"))
    val base: Path = root.resolve("pipeline")
    val registry = new PipelineRegistry
    val running: CdcPipeline.Running = CdcPipeline.start(spark, config,
      CdcSource.fileStream(spark, source.toString), base.toString, registry,
      Trigger.ProcessingTime(TriggerMs))
    val raw: StreamingQuery = running.raw.get
    val typed: StreamingQuery = running.typed.get
    val store: ParquetStateStore = running.store.get
    val tableDir: Path = base.resolve("public_orders")
    var files = 0

    /** Publish one batch and wait until both queries committed it. */
    def push(msgs: Seq[Msg]): Path = {
      val f = publish(msgs, staging, source, files)
      awaitCommitted(Seq(raw, typed), files.toLong)
      files += 1
      f
    }

    def stop(): Unit = registry.stopAll()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Current store epoch and bucket → epoch map, from its manifest. */
  def manifest(stateDir: Path): (Int, Map[Int, Int]) = {
    val lines = Files.readAllLines(stateDir.resolve("_CURRENT")).asScala.filter(_.trim.nonEmpty)
    val epoch = lines.head.trim.split("\\s+")(0).toInt
    epoch -> lines.tail.map { l => val Array(b, e) = l.trim.split("\\s+"); b.toInt -> e.toInt }.toMap
  }

  def liveBytes(spark: SparkSession, store: ParquetStateStore): (Long, Int) = {
    val files = store.read(spark).get.inputFiles
    (files.map(f => Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum, files.length)
  }

  /** Count and order-insensitive hash of the visible current state. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val row = df.select(count(lit(1)),
      coalesce(sum(xxhash64(col("id"), col("customer_id"), col("status"), col("total_amount"))
        .cast("decimal(38,0)")), lit(BigDecimal(0)).cast("decimal(38,0)"))).first()
    (row.getLong(0), BigDecimal(row.getDecimal(1)))
  }

  /** The CdcSim rules applied relationally to the published event set:
    * a key is visible if its read or update was published and its
    * delete was not; its status is 'updated' once the update arrived. */
  def expectedState(spark: SparkSession, ordersPath: String, published: Seq[Msg]): DataFrame = {
    import spark.implicits._
    val ops = published.filter(_.kind <= 1).map(m => (m.id, m.op.toString)).distinct
      .toDF("id", "op")
      .groupBy("id").agg(
        max(when(col("op") === "r", 1).otherwise(0)).as("has_r"),
        max(when(col("op") === "u", 1).otherwise(0)).as("has_u"),
        max(when(col("op") === "d", 1).otherwise(0)).as("has_d"))
    spark.read.parquet(ordersPath)
      .join(ops, col("o_orderkey").cast("int") === col("id"))
      .where((col("has_r") === 1 || col("has_u") === 1) && col("has_d") === 0)
      .select(
        col("o_orderkey").cast("int").as("id"),
        col("o_custkey").cast("int").as("customer_id"),
        when(col("has_u") === 1, "updated").otherwise(col("o_orderstatus")).as("status"),
        col("o_totalprice").cast("decimal(12,2)").cast("string").as("total_amount"))
  }

  def run(a: Args, r: Result): Unit = {
    val datagenPy = datagenMs(a)
    def ordersPath(rep: Int) = a.input.resolve(s"rep$rep/orders.parquet").toString

    // --- setup, several times; the last one is kept for the timed phase
    var spark: SparkSession = null
    var rig: Rig = null
    var plan: Array[Msg] = null
    var published = mutable.ArrayBuffer.empty[Msg]
    var snapshotEvents, changeEvents = 0
    var tracer: Option[Tracer] = None
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    datagenPy.indices.foreach { rep =>
      if (spark != null) { rig.stop(); stopSession(spark) }
      val root = a.work.resolve(s"rep$rep")
      val tSetup = System.nanoTime()
      val (s, sessionMs) = timed {
        val s = newSession(a)
        s.range(1000000).selectExpr("sum(id)").collect()
        s
      }
      spark = s
      // attached before the pipeline starts, so the streaming queries'
      // cloned sessions carry the query-execution listener too
      if (a.trace && rep == datagenPy.size - 1) tracer = Some(new Tracer(spark))
      val (stream, genMs) = timed(envelopes(spark, ordersPath(rep)))
      snapshotEvents = stream.snapshot.length
      changeEvents = stream.changes.length
      val rnd = new scala.util.Random(a.seed)
      val (r0, startMs) = timed(new Rig(spark, root))
      rig = r0
      published = mutable.ArrayBuffer.empty[Msg]
      val (_, warmMs) = timed(rig.push(stream.snapshot.toSeq))
      published ++= stream.snapshot
      plan = perturb(stream.changes, BatchEvents, rnd)
      val (_, warmupMs) = timed((0 until WarmupBatches).foreach { i =>
        val b = plan.slice(i * BatchEvents, (i + 1) * BatchEvents)
        rig.push(b.toSeq)
        published ++= b
      })
      setups += Map("setup_ms" -> (ms(tSetup) + datagenPy(rep)),
        "session_ms" -> sessionMs, "datagen_ms" -> (genMs + datagenPy(rep)),
        "warm_ms" -> (startMs + warmMs), "warmup_ms" -> (startMs + warmMs + warmupMs))
      if (rep < datagenPy.size - 1) r.facts(s"setup_rep$rep") = setups.last
    }
    def setupMedian(k: String) = median(setups.map(_(k)).toSeq)
    r.e2e("setup_s") = setupMedian("setup_ms") / 1000.0
    Seq("session", "datagen", "warm", "warmup").foreach(k =>
      r.layer(s"setup.$k" + "_ms") = setupMedian(s"${k}_ms"))

    tracer.foreach { t =>
      t.queryNames.put(rig.raw.id.toString, "raw")
      t.queryNames.put(rig.typed.id.toString, "typed")
    }
    def span[T](name: String, layer: String)(body: => T): T =
      tracer.fold(body)(_.span(name, layer)(body))

    // --- timed phase: closed loop
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val tracedCommit = mutable.ArrayBuffer.empty[Double]
    val untracedCommit = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedBatches = mutable.Map.empty[Long, Int]     // typed batch id → messages
    var next = WarmupBatches * BatchEvents
    var timedEvents, timedMessages = 0L
    val budgetNs = (a.seconds * 1e9).toLong
    val host0 = hostSample()
    val t0 = System.nanoTime()
    var op = 0
    while (next < plan.length && System.nanoTime() - t0 < budgetNs) {
      val b = plan.slice(next, next + BatchEvents)
      next += b.length
      val traced = a.trace && op % 2 == 1
      tracer.foreach(_.begin(s"batch$op", traced))
      val typedBatchId = rig.files.toLong
      val tc = System.nanoTime()
      val file = span("publish_to_commit", "streaming") {
        val f = span("publish", "harness")(publish(b.toSeq, rig.staging, rig.source, rig.files))
        awaitCommitted(Seq(rig.raw, rig.typed), rig.files.toLong)
        rig.files += 1
        f
      }
      val c = ms(tc)
      commitMs += c
      published ++= b
      timedMessages += b.length
      timedEvents += b.count(_.kind <= 1)
      val tr = System.nanoTime()
      val counts = span("current_state_read", "streaming") {
        val df = span("store.read", "streaming")(rig.store.read(spark).get)
        span("count_by_status", "spark")(df.groupBy("status").count().collect())
      }
      readMs += ms(tr)
      if (counts.map(_.getLong(1)).sum <= 0) r.check(s"read after batch $op", ok = false, "empty state")
      tracer.foreach { t =>
        if (traced) {
          tracedCommit += c
          tracedBatches(typedBatchId) = b.length
          probes += t.isolated(probe(spark, rig, file, b.length, t))
        } else untracedCommit += c
        t.end()
      }
      op += 1
    }
    val compactor = new ArchiveCompactor(rig.tableDir.resolve("raw").toString,
      rig.tableDir.resolve("raw_compacted").toString)
    val (compacted, compactMs) = span("ArchiveCompactor.compact", "streaming")(
      timed(compactor.compact(spark)))
    val wallS = (System.nanoTime() - t0) / 1e9
    hostFigures(r, host0, hostSample())

    // --- end-to-end figures
    r.e2e("ingest_events_per_s") = timedEvents / wallS
    r.e2e("commit_p50_ms") = median(commitMs.toSeq)
    r.e2e("commit_p90_ms") = quantile(commitMs.toSeq, 0.9)
    r.e2e("read_p50_ms") = median(readMs.toSeq)
    r.e2e("read_p90_ms") = quantile(readMs.toSeq, 0.9)
    // the operation figures every workload reports
    r.e2e("op_latency_ms") = r.e2e("commit_p50_ms")
    r.e2e("throughput_per_s") = r.e2e("ingest_events_per_s")
    r.e2e("live_heap_mb") = liveHeapMb()
    val stateDir = rig.tableDir.resolve("state")
    val diskBytes = dirBytes(stateDir)
    val (live, liveFiles) = liveBytes(spark, rig.store)
    r.e2e("state_space_amp") = diskBytes.toDouble / live.max(1L)

    // --- correctness (outside the timed window)
    rig.stop()
    val got = digest(rig.store.read(spark).get.select("id", "customer_id", "status", "total_amount"))
    val exp = digest(expectedState(spark, ordersPath(datagenPy.size - 1), published.toSeq))
    r.check("L2 state hash-equals the CdcSim-rule recomputation", got == exp,
      s"got (rows, hash) $got, expected $exp")
    val archived = compactor.read(spark).select(
      count(lit(1)), count(get_json_object(col("value"), "$.payload.op"))).first()
    val nonEmpty = published.count(_.kind != 3).toLong
    val wellFormed = published.count(_.kind <= 1).toLong
    r.check("L1 archive rows == non-empty messages published", archived.getLong(0) == nonEmpty,
      s"archived ${archived.getLong(0)}, published $nonEmpty")
    r.check("L1 archived well-formed events == well-formed events published",
      archived.getLong(1) == wellFormed, s"archived ${archived.getLong(1)}, published $wellFormed")
    r.check("compaction folded the archive files", compacted >= 2, s"folded $compacted")

    // --- facts
    r.facts("batch_events") = BatchEvents
    r.facts("snapshot_events") = snapshotEvents
    r.facts("change_events") = changeEvents
    r.facts("timed_batches") = commitMs.size
    r.facts("commit_ms") = commitMs.toSeq
    r.facts("read_ms") = readMs.toSeq
    r.facts("timed_messages") = timedMessages
    r.facts("timed_events") = timedEvents
    r.facts("timed_wall_s") = wallS
    r.facts("messages_published") = published.size
    r.facts("share_redelivered") = published.count(_.kind == 1).toDouble / published.size
    r.facts("share_malformed") = published.count(_.kind == 2).toDouble / published.size
    r.facts("share_empty") = published.count(_.kind == 3).toDouble / published.size
    r.facts("state_rows_visible") = got._1
    r.facts("state_disk_bytes") = diskBytes
    r.facts("state_live_bytes") = live
    r.facts("compact_ms") = compactMs

    tracer.foreach { t =>
      Tracer.engineFigures(t, r)
      r.layer("trace.overhead_share") = median(tracedCommit.toSeq) / median(untracedCommit.toSeq) - 1
      layerFigures(r, spark, rig, tracedBatches.toMap, probes.toSeq, t,
        diskBytes, live, liveFiles, compactMs, compacted)
      t.writeSpans(a.work.resolve("spans.jsonl"))
    }
  }

  /** Decode and last-writer-wins cost of one batch, measured by calling
    * the layer functions on the same file with a no-op sink (inside the
    * traced operation, after its latency was taken, engine counters
    * paused). */
  def probe(spark: SparkSession, rig: Rig, file: Path, messages: Int,
            t: Tracer): Map[String, Double] = {
    val raw = spark.read.schema("value string").json(file.toString)
    val changes = EnvelopeDecode.changes(raw, CdcSim.ordersRow, config.decodeOptions).persist()
    val (_, decodeMs) = timed(t.span("EnvelopeDecode.changes", "cdc")(
      changes.write.format("noop").mode("overwrite").save()))
    val (_, lwwMs) = timed(t.span("Versioned.latestByKey", "operators")(
      Versioned.latestByKey(changes, Seq("id"), Seq(col("__ts_ms"), col("__lsn")))
        .write.format("noop").mode("overwrite").save()))
    changes.unpersist()
    // the store's on-disk manifest is its own format: read it leniently
    val stateDir = rig.tableDir.resolve("state")
    val (dirty, rewritten) = scala.util.Try {
      val (epoch, map) = manifest(stateDir)
      (map.count(_._2 == epoch) / rig.store.buckets.toDouble,
        dirBytes(stateDir.resolve(s"e$epoch")).toDouble)
    }.getOrElse((Double.NaN, Double.NaN))
    Map("decode_ms_per_kevent" -> decodeMs / (messages / 1000.0), "lww_ms" -> lwwMs,
      "dirty_share" -> dirty, "bytes_rewritten" -> rewritten)
  }

  def layerFigures(r: Result, spark: SparkSession, rig: Rig,
                   tracedBatches: Map[Long, Int], probes: Seq[Map[String, Double]],
                   t: Tracer, diskBytes: Long, live: Long, liveFiles: Int,
                   compactMs: Double, compacted: Int): Unit = {
    def med(k: String) = median(probes.map(_(k)))
    // streaming engine: progress durations of the traced micro-batches
    val progress = Map("raw" -> rig.raw, "typed" -> rig.typed).map { case (n, q) =>
      n -> q.recentProgress.filter(p => tracedBatches.contains(p.batchId) && p.numInputRows > 0).toSeq
    }
    val keys = Seq("addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
      "commitOffsets" -> "commit_offsets_ms", "latestOffset" -> "latest_offset_ms",
      "queryPlanning" -> "query_planning_ms", "triggerExecution" -> "trigger_ms")
    progress.foreach { case (n, ps) =>
      keys.foreach { case (k, m) =>
        r.layer(s"stream.$n.$m") = median(ps.map(p =>
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      }
    }
    val typed = progress("typed")
    r.layer("stream.typed.source_scans_per_batch") =
      typed.map(_.numInputRows.toDouble).sum / typed.map(p => tracedBatches(p.batchId).toDouble).sum.max(1)
    // ParquetStateStore: merge = the typed sink's addBatch on batches
    // without the sink's periodic vacuum
    r.layer("store.merge_ms") = median(typed.filter(_.batchId % 16 != 15)
      .map(p => Option(p.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0)))
    r.layer("store.jobs_per_merge") =
      median(t.ops.values.toSeq.map(_.jobsBy.getOrElse("typed", 0).toDouble))
    r.layer("store.dirty_share") = med("dirty_share")
    r.layer("store.bytes_rewritten_per_batch") = med("bytes_rewritten")
    r.layer("store.live_bytes") = live.toDouble
    r.layer("store.disk_bytes") = diskBytes.toDouble
    val (reclaimed, vacuumMs) = timed(rig.store.vacuum(spark, Sinks.DefaultVacuumGraceMs))
    r.layer("store.vacuum_ms") = vacuumMs
    r.layer("store.vacuum_reclaimed_dirs") = reclaimed.toDouble
    val (df, readMs) = timed(rig.store.read(spark).get)
    r.layer("store.read_ms") = readMs
    r.layer("store.read_files") = liveFiles.toDouble
    r.layer("store.tombstones") =
      (rig.store.readWithTombstones(spark).get.count() - df.count()).toDouble
    // L1 archive
    val rawDir = rig.tableDir.resolve("raw")
    r.layer("archive.files_written") = Files.list(rawDir).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet")).toDouble
    r.layer("archive.compact_ms") = compactMs
    r.layer("archive.files_compacted") = compacted.toDouble
    // decode and LWW, on the traced batches' own files
    r.layer("cdc.decode_ms_per_kevent") = med("decode_ms_per_kevent")
    r.layer("operators.lww_ms") = med("lww_ms")
  }
}
