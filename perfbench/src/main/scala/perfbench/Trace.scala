package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so the
  * harness's own spans line up with listener events (which carry
  * `System.currentTimeMillis` stamps). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval. Spans of one query share `qid`; `parent` is the id of
  * the enclosing span (0 for the root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      qid: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Span store: kept in memory, written once when the run ends. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  @volatile var enabled = false

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq

  /** Runs `f` as a span; the span's id is handed to `f` so children (and
    * Spark jobs, through a local property) can name it as their parent. */
  def timed[T](name: String, layer: String, qid: String, parent: Long)(f: Long => T): (T, Span) = {
    val id = nextId()
    val t0 = Clock.now()
    val out = f(id)
    val s = Span(id, parent, name, layer, qid, t0, Clock.now())
    add(s)
    (out, s)
  }

  def toJson: String = all.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "qid" -> s.qid, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Spans {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer: a span's duration minus the part of it that its
    * child spans cover. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.ms - covered(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      }.sum
    }
  }
}

/** Counters of one query (or one stream phase), filled by [[Listeners]]. */
final class Acc {
  var jobs, buildJobs, stages, tasks, tasksFailed, emptyTasks = 0L
  var taskBusyMs, taskGcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRows, outputBytes, outputFiles = 0L
  var executions = 0L
  var analysisMs, optimizerMs, physicalMs = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Worst stage's max ÷ median task time (stages with two or more tasks). */
  def skew: Double = {
    val rs = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (rs.isEmpty) 1.0 else rs.max
  }
}

/** The traced run's Spark-side instruments: a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for planning phases and
  * write metrics. Events go to the current [[Acc]]; the harness drains the
  * listener bus before it swaps the accumulator. */
final class Listeners(spans: Spans) extends SparkListener with QueryExecutionListener {
  @volatile var acc = new Acc
  private val jobStart = mutable.Map.empty[Int, (Double, String, Long, String)]
  private val stageJob = mutable.Map.empty[Int, (Long, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val spanId = prop(Listeners.SpanProp).map(_.toLong).getOrElse(0L)
    val phase = prop(Listeners.PhaseProp).getOrElse("")
    val qid = prop(Listeners.QidProp).getOrElse("")
    jobStart(e.jobId) = (e.time.toDouble, qid, spanId, phase)
    e.stageIds.foreach(s => stageJob(s) = (e.jobId.toLong, qid))
    acc.jobs += 1
    if (phase == "build") acc.buildJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, qid, parent, _) =>
      acc.jobIntervals += ((t0, e.time.toDouble))
      spans.add(Span(Listeners.jobSpanId(e.jobId), parent, s"job ${e.jobId}", "job", qid, t0, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    acc.stages += 1
    for (a <- si.submissionTime; b <- si.completionTime) {
      val (job, qid) = stageJob.getOrElse(si.stageId, (-1L, ""))
      spans.add(Span(spans.nextId(), if (job >= 0) Listeners.jobSpanId(job.toInt) else 0L,
        s"stage ${si.stageId}", "stage", qid, a.toDouble, b.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    if (e.reason != TaskSuccess) acc.tasksFailed += 1
    val dur = e.taskInfo.duration
    acc.taskBusyMs += dur
    acc.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
    Option(e.taskMetrics).foreach { m =>
      acc.taskGcMs += m.jvmGCTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.inputRows += m.inputMetrics.recordsRead
      acc.outputBytes += m.outputMetrics.bytesWritten
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) acc.emptyTasks += 1
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    acc.executions += 1
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    acc.analysisMs += ms("analysis")
    acc.optimizerMs += ms("optimization")
    acc.physicalMs += ms("planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    phases(qe)
    // files written: the write command's own metric (scans carry a
    // "numFiles" metric too, for files read)
    val files = qe.executedPlan.collect { case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles") }
      .flatten.map(_.value).sum
    synchronized { acc.outputFiles += files }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object Listeners {
  val QidProp = "perfbench.qid"
  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"
  /** Job spans get ids from a range the harness's counter never reaches. */
  def jobSpanId(jobId: Int): Long = (1L << 40) + jobId
}
