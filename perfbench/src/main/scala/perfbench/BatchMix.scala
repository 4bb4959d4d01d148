package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A batch mix: registry queries run in passes, each query built
  * (`SparkEntry.queries(q)(spark, dir)`), planned (`executedPlan` forced)
  * and executed to its full result (`collect()`), with a GC and cleaner
  * drain after each pass. */
object BatchMix {
  /** Sub-second core-relational, DataStream-facade and events queries:
    * fixed per-query cost (DSL build, planning, job scheduling) dominates. */
  val light: Seq[String] = Seq(
    "q01", "q03", "q05", "q09",
    "q13", "q14", "q29",
    "q91")

  /** Steady passes a run makes at least, however short `--seconds` is. */
  val MinSteady = 3

  def resolve(prefixes: Seq[String]): Seq[String] = prefixes.map { p =>
    graft.SparkEntry.queries.keys.find(_.startsWith(p + "_"))
      .getOrElse(sys.error(s"no registry query named $p"))
  }

  private final class QStat {
    var runs, failed, mismatched = 0
    var error, digest = ""
    val ms = mutable.ArrayBuffer.empty[Double]
  }

  def run(c: Conf, prefixes: Seq[String]): Seq[(String, Any)] = {
    val (spark, setups) = Session.setup(c, 3)(_ => () => ())
    val sc = spark.sparkContext
    val names = resolve(prefixes)
    val registry = graft.SparkEntry.queries
    val spans = new Spans
    val lis = new Listeners(spans)
    val rng = new scala.util.Random(c.seed)
    Files.createDirectories(Paths.get(c.out, "rows"))
    val stats = names.map(_ -> new QStat).toMap
    val heap = mutable.ArrayBuffer(Session.oldGenMb())
    // untraced steady-pass wall ms per query
    val queryMs = names.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val drains = mutable.ArrayBuffer.empty[Double]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val rootId = spans.nextId()
    val runStart = Clock.now()

    def trace(on: Boolean): Unit = {
      spans.enabled = on
      if (on) { sc.addSparkListener(lis); spark.listenerManager.register(lis) }
      else { sc.removeSparkListener(lis); spark.listenerManager.unregister(lis) }
    }

    def drain(pass: Int, parent: Long): Unit = {
      val t0 = Clock.now()
      val ms = Session.drain(spark)
      drains += ms
      heap += Session.oldGenMb()
      spans.add(Span(spans.nextId(), parent, "drain", "harness", s"p$pass:drain", t0, Clock.now()))
    }

    /** One query; returns its wall ms (build + plan + execute), or None if it failed. */
    def runQuery(name: String, pass: Int, passId: Long, traced: Boolean): Option[Double] = {
      val qid = s"p$pass:$name"
      val st = stats(name)
      st.runs += 1
      sc.setLocalProperty(Listeners.QidProp, qid)
      val qSpan = spans.nextId()
      val q0 = Clock.now()
      def phase[T](n: String, layer: String)(f: => T): (T, Double) = {
        val (out, s) = spans.timed(n, layer, qid, qSpan) { id =>
          sc.setLocalProperty(Listeners.SpanProp, id.toString)
          sc.setLocalProperty(Listeners.PhaseProp, n)
          f
        }
        (out, s.ms)
      }
      val res = try {
        val (df, buildMs) = phase("build", "queries")(registry(name)(spark, c.data))
        val (_, planMs) = phase("plan", "planning")(df.queryExecution.executedPlan)
        val (rows, execMs) = phase("execute", "execution")(df.collect())
        val q1 = Clock.now()
        spans.add(Span(qSpan, passId, name, "query", qid, q0, q1))
        checkRows(name, pass, df, rows, st)
        Some((buildMs, planMs, execMs, q0, q1))
      } catch {
        case t: Throwable =>
          st.failed += 1
          if (st.error.isEmpty) st.error = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(500)
          System.err.println(s"[perfbench] $name failed: ${t.getMessage}")
          None
      } finally {
        Seq(Listeners.QidProp, Listeners.SpanProp, Listeners.PhaseProp).foreach(sc.setLocalProperty(_, null))
      }
      if (traced) {
        org.apache.spark.perfbench.BusDrain.drain(sc)
        val a = lis.acc
        lis.acc = new Acc
        res.foreach { case (b, p, e, q0, q1) => layerRows += queryLayers(a, b, p, e, q0, q1) }
      }
      res.map { case (b, p, e, _, _) => st.ms += b + p + e; b + p + e }
    }

    def checkRows(name: String, pass: Int, df: DataFrame, rows: Array[org.apache.spark.sql.Row], st: QStat): Unit = {
      val schema = df.schema
      val enc = rows.map(Json.row(_, schema))
      // order-insensitive digest: every pass must return the cold pass's rows
      val digest = s"${enc.length}:${enc.map(s => MurmurHash3.stringHash(s).toLong & 0xffffffffL).sum}"
      if (st.digest.isEmpty) {
        st.digest = digest
        val body = "{\"columns\":" + Json.value(schema.fieldNames.toSeq) +
          ",\"kinds\":" + Json.value(schema.fields.map(f => Json.kind(f.dataType)).toSeq) +
          ",\"rows\":" + enc.mkString("[", ",\n", "]") + "}\n"
        Files.writeString(Paths.get(c.out, "rows", s"$name.json"), body)
      } else if (digest != st.digest) {
        st.mismatched += 1
        System.err.println(s"[perfbench] $name pass $pass result differs from the first pass")
      }
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      trace(traced)
      val order = rng.shuffle(names)
      val passId = spans.nextId()
      val p0 = Clock.now()
      layerRows.clear()
      val walls = order.flatMap(n => runQuery(n, pass, passId, traced).map(n -> _))
      val p1 = Clock.now()
      spans.add(Span(passId, rootId, s"pass $pass", "pass", s"p$pass:", p0, p1))
      drain(pass, passId)
      passes += ((pass, traced, walls.map(_._2).sum / 1000.0))
      Session.log(s"pass $pass done")
      if (pass > 0 && !traced) walls.foreach { case (n, ms) => queryMs(n) += ms }
      if (traced) {
        val passSpans = spans.all.filter(_.qid.startsWith(s"p$pass:"))
        val self = Spans.selfByLayer(passSpans).map { case (l, ms) => s"self.${l}_ms" -> ms }
        val sum = layerRows.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
        layers += (sum -- Seq("attributed", "exec.empty_tasks")) ++ self ++ Map(
          "exec.task_skew" -> layerRows.map(_("exec.task_skew")).foldLeft(1.0)(math.max),
          "exec.empty_task_ratio" -> sum("exec.empty_tasks") / math.max(1.0, sum("exec.tasks")),
          "harness.drain_ms" -> passSpans.filter(_.layer == "harness").map(_.ms).sum,
          "trace.attributed_min" -> layerRows.map(_("attributed")).foldLeft(1.0)(math.min))
      }
    }

    // cold pass: the first pass in this JVM, never traced
    runPass(0, traced = false)
    val steadyStart = Clock.now()
    var pass = 1
    // a traced run leaves pass 1 (still warming up) untraced, then
    // alternates T U U T, so a linear trend across passes cancels out of the
    // tracing overhead
    while (pass <= MinSteady || Clock.now() - steadyStart < c.seconds * 1000.0 || (c.trace && pass <= 5)) {
      runPass(pass, traced = c.trace && pass > 1 && (pass % 4 == 1 || pass % 4 == 2))
      pass += 1
    }
    trace(false)
    spans.enabled = true
    spans.add(Span(rootId, 0L, c.workload, "workload", "", runStart, Clock.now()))
    if (c.trace) Files.writeString(Paths.get(c.out, "spans.json"), spans.toJson)

    val steady = passes.filter(_._1 > 0)
    val perLayer: Map[String, Double] = if (!c.trace) Map.empty else {
      val keys = layers.flatMap(_.keys).distinct
      keys.map(k => k -> Session.median(layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++ Map(
        "trace.overhead_s" -> (mean(steady.filter(_._2).map(_._3).toSeq) -
          mean(steady.filter(p => !p._2 && p._1 > 1).map(_._3).toSeq)))
    }
    val oracle = graft.SparkEntry.oracleSql
    Session.hostFacts(spark, c) ++ Seq(
      "workload" -> c.workload, "seed" -> c.seed, "queries" -> names,
      "setup_s" -> setups,
      "cold_pass_s" -> passes.head._3,
      "passes" -> passes.map { case (p, t, s) => Map("pass" -> p, "traced" -> t, "s" -> s) },
      "query_ms" -> queryMs,
      // after the drain of the last steady pass of an untraced run
      "heap_live_mb" -> heap(MinSteady + 1),
      "heap_mb" -> heap,
      "drain_ms" -> drains,
      "status" -> stats.map { case (n, st) =>
        n -> Map("runs" -> st.runs, "failed" -> st.failed, "mismatched" -> st.mismatched, "error" -> st.error,
          "ms" -> st.ms.map(x => math.round(x).toDouble))
      },
      "oracle" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "per_layer" -> perLayer)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer numbers of one traced query. */
  private def queryLayers(a: Acc, buildMs: Double, planMs: Double, execMs: Double,
                          q0: Double, q1: Double): Map[String, Double] = Map(
    "queries.build_ms" -> buildMs,
    "queries.build_jobs" -> a.buildJobs.toDouble,
    "planning.ms" -> planMs,
    "planning.analysis_ms" -> a.analysisMs,
    "planning.optimizer_ms" -> a.optimizerMs,
    "planning.physical_ms" -> a.physicalMs,
    "planning.executions" -> a.executions.toDouble,
    "exec.ms" -> execMs,
    "exec.jobs" -> a.jobs.toDouble,
    "exec.stages" -> a.stages.toDouble,
    "exec.tasks" -> a.tasks.toDouble,
    "exec.empty_tasks" -> a.emptyTasks.toDouble,
    "exec.task_busy_ms" -> a.taskBusyMs.toDouble,
    "exec.task_gc_ms" -> a.taskGcMs.toDouble,
    "exec.task_skew" -> a.skew,
    "exec.driver_gap_ms" -> ((q1 - q0) - Spans.covered(a.jobIntervals.toSeq, q0, q1)),
    "exec.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
    "exec.shuffle_read_bytes" -> a.shuffleRead.toDouble,
    "exec.spill_bytes" -> a.spill.toDouble,
    "exec.tasks_failed" -> a.tasksFailed.toDouble,
    "sources.input_bytes" -> a.inputBytes.toDouble,
    "sources.input_rows" -> a.inputRows.toDouble,
    "sources.output_files" -> a.outputFiles.toDouble,
    "sources.output_bytes" -> a.outputBytes.toDouble,
    "attributed" -> (buildMs + planMs + execMs) / math.max(1e-9, q1 - q0))
}
