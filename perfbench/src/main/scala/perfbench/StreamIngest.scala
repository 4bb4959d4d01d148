package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.Streams
import graft.windows.WindowAssigner

/** The reference's windowed count per key as a Structured Streaming query:
  * a CSV file source fed by [[Generator]], `Streams.windowedCounts` over
  * tumbling windows with a watermark, appended through
  * `Streams.foreachBatchParquetSink`. Two phases on one checkpoint:
  * catch-up drains a staged backlog with `Trigger.AvailableNow`; paced then
  * runs for the run's seconds while the generator writes at a fixed rate
  * (open loop). */
object StreamIngest {
  val WindowMs = 2000L
  val DelayMs = 2000L
  /** Share of events stamped up to half the watermark delay in the past. */
  val OutOfOrderShare = 0.1
  val BacklogEvents = 32000
  val BacklogFileEvents = 2000
  val CatchupFilesPerTrigger = 4
  /** Paced rate in events per second: about half the catch-up capacity. */
  val PacedRate = 1500L
  val TickMs = 100L
  /** Paced micro-batch interval: each batch takes about a second of input. */
  val TriggerMs = 1000L
  val Schema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts_ms LONG"
  val SinkSchema = "user_id LONG, window_start TIMESTAMP, window_end TIMESTAMP, n LONG"

  /** Writes the events as CSV files, each renamed into the source directory
    * whole, and records per (user, window start) the expected count and the
    * last event time. Uses no Spark. */
  final class Generator(pool: Array[(Long, String, Double)], seed: Long, stage: Path, src: Path) {
    private val rnd = new java.util.Random(seed)
    private var files = 0
    @volatile var written = 0L
    val expected = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    /** (epoch ms the file landed, events written up to and including it) */
    val ledger = new ConcurrentLinkedQueue[(Double, Long)]()

    private def land(body: String): Unit = {
      val name = f"part-$files%06d.csv"
      files += 1
      Files.writeString(stage.resolve(name), body)
      Files.move(stage.resolve(name), src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      ledger.add((Clock.now(), written))
    }

    /** One file with an event due at each of `dues` (epoch ms). */
    def write(dues: Seq[Long]): Unit = {
      val sb = new StringBuilder
      var id = written
      dues.foreach { due =>
        val (user, kind, v) = pool((id % pool.length).toInt)
        val ts = if (rnd.nextDouble() < OutOfOrderShare) due - (rnd.nextDouble() * DelayMs / 2).toLong else due
        sb.append(id).append(',').append(user).append(',').append(kind).append(',')
          .append(v).append(',').append(ts).append('\n')
        val k = (user, Math.floorDiv(ts, WindowMs) * WindowMs)
        val (n, last) = expected.getOrElse(k, (0L, Long.MinValue))
        expected(k) = (n + 1, math.max(last, ts))
        id += 1
      }
      written = id
      land(sb.toString)
    }

    /** A far-future event (user -1, not expected): its watermark closes
      * every window written so far. */
    def flush(ts: Long): Unit = land(s"$written,-1,flush,0.0,$ts\n")
  }

  def counts(s: SparkSession, src: String, maxFiles: Option[Int]): DataFrame = {
    val r = s.readStream.schema(Schema)
    val in = maxFiles.fold(r)(m => r.option("maxFilesPerTrigger", m.toLong)).csv(src)
      .select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts"))
    Streams.windowedCounts(in, "user_id", "ts", WindowAssigner.Tumbling(WindowMs), s"$DelayMs milliseconds")
  }

  def start(df: DataFrame, sink: String, ckpt: String, trigger: Trigger): StreamingQuery =
    Streams.foreachBatchParquetSink(df, sink)
      .outputMode("append").option("checkpointLocation", ckpt).trigger(trigger).start()

  private def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  def run(c: Conf): Seq[(String, Any)] = {
    val work = Paths.get(c.work)
    def dir(p: String): Path = Files.createDirectories(work.resolve(p))
    var n = 0
    // set-up ends when the windowed count has started on an empty source
    val (spark, setups) = Session.setup(c, 3) { s =>
      n += 1
      val q = start(counts(s, dir(s"setup$n/source").toString, None),
        dir(s"setup$n/sink").toString, dir(s"setup$n/checkpoint").toString, Trigger.ProcessingTime(0L))
      () => q.stop()
    }
    val sc = spark.sparkContext
    val rng = new scala.util.Random(c.seed)
    val pool = rng.shuffle(graft.sources.Tables.events(spark, c.data)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq).toArray
    Session.log("event pool ready")
    val (src, stage, sink, ckpt) = (dir("source"), dir("stage"), dir("sink"), dir("checkpoint"))
    val gen = new Generator(pool, c.seed, stage, src)
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val spans = new Spans
    val lis = new Listeners(spans)
    if (c.trace) {
      spans.enabled = true
      sc.addSparkListener(lis)
      spark.listenerManager.register(lis)
    }
    val rootId = spans.nextId()
    val runStart = Clock.now()
    def phaseProps(qid: String, spanId: Long): Unit = {
      sc.setLocalProperty(Listeners.QidProp, qid)
      sc.setLocalProperty(Listeners.SpanProp, spanId.toString)
    }

    // catch-up: a backlog stamped at the paced rate, ending now
    val now0 = System.currentTimeMillis()
    val histMs = BacklogEvents * 1000L / PacedRate
    (0 until BacklogEvents by BacklogFileEvents).foreach { i =>
      gen.write((i until i + BacklogFileEvents).map(j => now0 - histMs + j * 1000L / PacedRate))
    }
    Session.log("backlog staged")
    val catchupId = spans.nextId()
    phaseProps("catchup", catchupId)
    val c0 = Clock.now()
    val cq = start(counts(spark, src.toString, Some(CatchupFilesPerTrigger)), sink.toString, ckpt.toString,
      Trigger.AvailableNow())
    cq.awaitTermination()
    val c1 = Clock.now()
    spans.add(Span(catchupId, rootId, "catchup", "streaming", "catchup", c0, c1))
    val lastCatchup = Option(cq.lastProgress).map(_.batchId).getOrElse(-1L)
    val drainT0 = Clock.now()
    if (c.trace) { org.apache.spark.perfbench.BusDrain.drain(sc); lis.acc = new Acc }
    var drainMs = Clock.now() - drainT0

    // paced: open loop at PacedRate for the run's seconds
    Session.log("catch-up done")
    val pacedId = spans.nextId()
    phaseProps("paced", pacedId)
    val p0 = Clock.now()
    val b0 = Clock.now()
    val pdf = counts(spark, src.toString, None)
    val buildMs = Clock.now() - b0
    val pq = start(pdf, sink.toString, ckpt.toString, Trigger.ProcessingTime(TriggerMs))
    val pacedStart = System.currentTimeMillis()
    var lateMax = 0.0
    val generator = new Thread(() => {
      var emitted = 0L
      var tick = 1L
      while (tick * TickMs <= c.seconds * 1000L) {
        val at = pacedStart + tick * TickMs
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val due = tick * TickMs * PacedRate / 1000L
        gen.write((emitted until due).map(i => pacedStart + i * 1000L / PacedRate))
        lateMax = math.max(lateMax, Clock.now() - at)
        emitted = due
        tick += 1
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()
    Session.log("paced done")
    gen.flush(System.currentTimeMillis() + 86400000L)
    pq.processAllAvailable()
    // the last batch with input read the flush event; the batch after it
    // emits the windows the flush's watermark closed
    val flushBatch = pq.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
    val deadline = System.currentTimeMillis() + 30000L
    while (pq.lastProgress.batchId <= flushBatch && System.currentTimeMillis() < deadline)
      Thread.sleep(20L)
    Session.log("flushed")
    pq.stop()
    Session.log("stopped")
    val p1 = Clock.now()
    spans.add(Span(pacedId, rootId, "paced", "streaming", "paced", p0, p1))
    Seq(Listeners.QidProp, Listeners.SpanProp).foreach(sc.setLocalProperty(_, null))
    val d0 = Clock.now()
    if (c.trace) org.apache.spark.perfbench.BusDrain.drain(sc)
    System.gc()
    val heapLive = Session.oldGenMb()
    drainMs += Clock.now() - d0
    spans.add(Span(rootId, 0L, c.workload, "workload", "", runStart, Clock.now()))

    // correctness: the sink against the generator's own recount
    val got = spark.read.schema(SinkSchema).parquet(s"$sink/batch_*")
      .select(col("user_id"), unix_millis(col("window_start")), col("n"),
        regexp_extract(input_file_name(), "batch_(\\d+)", 1).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val gotCounts = got.groupBy(r => (r._1, r._2))
    val dup = gotCounts.count(_._2.length > 1)
    val wrong = gen.expected.count { case (k, (cnt, _)) => gotCounts.get(k).forall(_.head._3 != cnt) }
    val extra = gotCounts.keys.count(k => !gen.expected.contains(k))
    val failed = dup + wrong + extra
    if (failed > 0)
      System.err.println(s"[perfbench] stream mismatch: $wrong wrong or missing, $extra extra, $dup duplicated windows")

    Session.log("checked")
    val all = progress.asScala.toSeq.sortBy(_.batchId)
    val paced = all.filter(p => p.batchId > lastCatchup && p.batchId <= flushBatch)
    val commit = all.map(p => p.batchId -> commitMs(p)).toMap
    val latency = got.collect {
      case (u, ws, _, b) if b > lastCatchup && b <= flushBatch && ws >= pacedStart && commit.contains(b) =>
        commit(b) - gen.expected((u, ws))._2
    }.toSeq
    def dur(p: StreamingQueryProgress, ks: String*): Double =
      ks.map(k => p.durationMs.getOrDefault(k, 0L).toDouble).sum
    def state(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      p.stateOperators.map(f).sum
    val perLayer: Map[String, Double] = if (!c.trace) Map.empty else {
      val a = lis.acc
      val ledger = gen.ledger.asScala.toSeq
      val backlogFiles = paced.map { p =>
        val end = commitMs(p)
        val consumed = all.filter(_.batchId <= p.batchId).map(_.numInputRows).sum
        ledger.count(_._1 <= end) - ledger.count(_._2 <= consumed)
      }
      val pacedSpans = spans.all.filter(_.qid == "paced")
      Spans.selfByLayer(pacedSpans).map { case (l, ms) => s"self.${l}_ms" -> ms } ++ Map(
        "queries.build_ms" -> buildMs,
        "queries.build_jobs" -> a.buildJobs.toDouble,
        "planning.ms" -> paced.map(dur(_, "queryPlanning")).sum,
        "planning.analysis_ms" -> a.analysisMs,
        "planning.optimizer_ms" -> a.optimizerMs,
        "planning.physical_ms" -> a.physicalMs,
        "planning.executions" -> a.executions.toDouble,
        "exec.ms" -> paced.map(dur(_, "triggerExecution")).sum,
        "exec.jobs" -> a.jobs.toDouble,
        "exec.stages" -> a.stages.toDouble,
        "exec.tasks" -> a.tasks.toDouble,
        "exec.task_busy_ms" -> a.taskBusyMs.toDouble,
        "exec.task_gc_ms" -> a.taskGcMs.toDouble,
        "exec.task_skew" -> a.skew,
        "exec.empty_task_ratio" -> a.emptyTasks.toDouble / math.max(1L, a.tasks),
        "exec.driver_gap_ms" -> ((p1 - p0) - Spans.covered(a.jobIntervals.toSeq, p0, p1)),
        "exec.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        "exec.shuffle_read_bytes" -> a.shuffleRead.toDouble,
        "exec.spill_bytes" -> a.spill.toDouble,
        "exec.tasks_failed" -> a.tasksFailed.toDouble,
        "sources.input_bytes" -> a.inputBytes.toDouble,
        "sources.input_rows" -> a.inputRows.toDouble,
        "sources.output_files" -> a.outputFiles.toDouble,
        "sources.output_bytes" -> a.outputBytes.toDouble,
        "streaming.batches" -> paced.size.toDouble,
        "streaming.batch_ms" -> Session.median(paced.map(dur(_, "triggerExecution"))),
        "streaming.add_batch_ms" -> Session.median(paced.map(dur(_, "addBatch"))),
        "streaming.planning_ms" -> Session.median(paced.map(dur(_, "queryPlanning"))),
        "streaming.offsets_ms" -> Session.median(paced.map(dur(_, "latestOffset", "getBatch"))),
        "streaming.commit_ms" -> Session.median(paced.map(dur(_, "walCommit", "commitOffsets"))),
        "streaming.state_rows" -> paced.map(state(_, _.numRowsTotal.toDouble)).foldLeft(0.0)(math.max),
        "streaming.state_memory_bytes" -> paced.map(state(_, _.memoryUsedBytes.toDouble)).foldLeft(0.0)(math.max),
        "streaming.state_commit_ms" -> Session.median(paced.map(state(_, _.commitTimeMs.toDouble))),
        "streaming.late_rows_dropped" -> all.map(state(_, _.numRowsDroppedByWatermark.toDouble)).sum,
        "streaming.backlog_files_max" -> backlogFiles.map(_.toDouble).foldLeft(0.0)(math.max),
        "streaming.generator_late_ms" -> lateMax,
        "harness.drain_ms" -> drainMs)
    }
    if (c.trace) Files.writeString(Paths.get(c.out, "spans.json"), spans.toJson)

    Session.hostFacts(spark, c) ++ Seq(
      "workload" -> c.workload, "seed" -> c.seed,
      "stream" -> Map("paced_rate_per_s" -> PacedRate, "trigger_ms" -> TriggerMs, "window_ms" -> WindowMs, "delay_ms" -> DelayMs,
        "backlog_events" -> BacklogEvents, "out_of_order_share" -> OutOfOrderShare,
        "paced_events" -> (gen.written - BacklogEvents), "windows" -> gen.expected.size,
        "catchup_batches" -> (lastCatchup + 1), "paced_batches" -> paced.size),
      "setup_s" -> setups,
      "catchup_s" -> (c1 - c0) / 1000.0,
      "batch_s" -> paced.map(dur(_, "triggerExecution") / 1000.0),
      "latency_ms" -> latency,
      "heap_live_mb" -> heapLive,
      "attempted" -> gen.expected.size,
      "failed" -> failed,
      "per_layer" -> perLayer)
  }
}
