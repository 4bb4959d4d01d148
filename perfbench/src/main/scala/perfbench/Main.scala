package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Harness options, passed by run.py. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, out: String, cores: Int)

/** Benchmark harness entry point: runs one workload and writes
  * `<out>/result.json` (and, for light_mix, `<out>/rows/`) for run.py
  * to check and summarise.
  *
  *   perfbench.Main --workload <light_mix|stream_ingest> --seed <n>
  *     --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <dir> --cores <n>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("out"), m("cores").toInt)
    Files.createDirectories(Paths.get(c.out))
    val fields = c.workload match {
      case "light_mix" => BatchMix.run(c, BatchMix.light)
      case "stream_ingest" => StreamIngest.run(c)
      case w => sys.error(s"unknown workload '$w'")
    }
    Files.writeString(Paths.get(c.out, "result.json"), Json.obj(fields: _*) + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }
}

/** Session set-up, hygiene and host facts shared by the workloads. */
object Session {
  def build(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.local.dir", s"${c.work}/local")
      .config("spark.sql.streaming.checkpointLocation", s"${c.work}/checkpoints")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"${c.work}/rdd-checkpoints")
    s
  }

  /** Every input table resolved: file listing and footer read done. */
  def sourcesReady(s: SparkSession, data: String): Unit =
    graft.sources.Tables.names.foreach { n =>
      if (n == "events") graft.sources.Tables.events(s, data).schema
      else graft.sources.Tables(s, data, n).schema
    }

  /** Sets up `times` sessions in a row, each until `ready` returns, and keeps
    * the last one. The first is timed from JVM start, the others from the
    * previous session's stop. `ready` hands back an untimed teardown, run
    * before the next set-up. Returns the session and the set-up seconds. */
  def setup(c: Conf, times: Int)(ready: SparkSession => (() => Unit)): (SparkSession, Seq[Double]) = {
    var t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var s: SparkSession = null
    var teardown: () => Unit = () => ()
    val secs = (1 to times).map { _ =>
      if (s != null) { teardown(); s.stop(); t0 = System.currentTimeMillis().toDouble }
      s = build(c)
      sourcesReady(s, c.data)
      teardown = ready(s)
      log("set-up done")
      (System.currentTimeMillis() - t0) / 1000.0
    }
    teardown()
    log("set-up torn down")
    (s, secs)
  }

  /** GC and cleaner drain between runs, outside the timed region: drops
    * cached and checkpointed state and waits until Spark's ContextCleaner is
    * quiet, then collects again what the cleaner released, so that
    * [[oldGenMb]] reads the live set. Returns the milliseconds it took. */
  def drain(s: SparkSession): Double = {
    val t0 = Clock.now()
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.graft.CleanerDrain.gcAndDrain(s.sparkContext)
    System.gc()
    Clock.now() - t0
  }

  /** Old-generation use after the last collection, in MB. */
  def oldGenMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0)
      .foldLeft(0.0)(math.max)

  def hostFacts(s: SparkSession, c: Conf): Seq[(String, Any)] = {
    val conf = s.conf
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> c.cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576L,
      "java" -> System.getProperty("java.version"),
      "spark" -> s.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(","),
      "spark_conf" -> Map(
        "spark.master" -> s.sparkContext.master,
        "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.adaptive.coalescePartitions.enabled" ->
          conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
        "spark.sql.autoBroadcastJoinThreshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold")))
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1fs $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
}
