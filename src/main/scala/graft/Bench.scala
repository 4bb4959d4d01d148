package graft

import graft.util.Json.fmt

/** Driver-run benchmark: one JSON line with per-query steady-state seconds.
  *
  * Each query is executed once untimed (janino codegen compile, JIT, and
  * broadcast warmup — measured ~6s of fixed cost on the first run of a
  * complex plan, independent of data volume), then timed. Steady-state is
  * the honest number for an engine that at real scale amortizes those fixed
  * costs over 1000 executors and hours of runtime. */
object Bench {
  /** Sidecar path rule (the round-12 clobber incident: a 1-query
    * SPARK_GRAFT_ONLY debug run overwrote the committed 270-query pair
    * artifact): only a FULL-suite run may write BENCH_DETAIL.json —
    * any restricted run (SPARK_GRAFT_ONLY set, or fewer queries
    * selected than the registry holds) goes to a scratch path the
    * round artifacts never read. Spec-pinned (SparkEntrySpec). */
  private[graft] def detailPath(restricted: Boolean): String =
    if (restricted) "BENCH_DETAIL_scratch.json" else "BENCH_DETAIL.json"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Each run's result frame can pin checkpointed state (iterative dedup
    // materializes its final label table); dropping it OUTSIDE the timed
    // region keeps every timed run starting from parquet with an empty
    // block manager, instead of measuring accumulated storage pressure
    // from earlier runs. Queries never rely on cross-run cached state —
    // every run() rebuilds its plan from the source tables.
    // returns the drain's own wall ms — per-query evidence that separates
    // host/cleaner pressure from plan cost in the BENCH_DETAIL sidecar
    def dropLeftoverState(): Long = {
      val t0 = System.nanoTime()
      spark.catalog.clearCache()
      // blocking: removal must FINISH before the next timed run starts, or
      // the async free runs inside the next measurement window
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // GC + cleaner DRAIN: Spark's ContextCleaner reclaims shuffle files
      // and broadcast blocks only after the referencing driver objects are
      // GC'd, and it does so ASYNCHRONOUSLY — a fixed post-GC sleep let a
      // 12-round graph query's hundreds of shuffle cleanups bleed into the
      // next timed run (the round-9 residual: iterative fixed-point
      // queries benched 1.4-2.6x their solo numbers in-suite on untouched
      // code). Block until the cleaner has actually gone quiet.
      org.apache.spark.graft.CleanerDrain.gcAndDrain(spark.sparkContext)
      (System.nanoTime() - t0) / 1000000L
    }
    // cumulative JVM GC wall ms — the per-run delta attributes a slow
    // reading to collector pressure rather than the plan
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    }
    case class QRes(name: String, sec: Double, runs: Seq[Double],
                    runGcMs: Seq[Long], drainMs: Seq[Long])
    val results = selected.map { case (name, fn) =>
      // a failing query must read as FAILED (-1), not as a suspiciously
      // fast success that deflates the total
      def run(): Boolean =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      run() // warmup
      val drains = scala.collection.mutable.ArrayBuffer(dropLeftoverState())
      // min of two timed runs: single-machine local mode sees occasional
      // multi-second host/GC stalls that say nothing about the plan — the
      // run-to-run delta in the sidecar IS the in-artifact evidence that a
      // slow reading was transient (host), not structural (plan)
      val runGc = scala.collection.mutable.ArrayBuffer.empty[Long]
      val times = (0 until 2).map { _ =>
        val g0 = gcMs()
        val t0 = System.nanoTime()
        val ok = run()
        val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        runGc += gcMs() - g0
        drains += dropLeftoverState()
        t
      }
      val sec = if (times.contains(-1.0)) -1.0 else times.min
      QRes(name, sec, times, runGc.toSeq, drains.toSeq)
    }
    // The driver parses the LAST 2000 chars of stdout. At 207 queries even
    // a 1-decimal per-query map overflows that tail (BENCH_r07 shipped a
    // mid-line fragment -> "parsed": null, three rounds running), so the
    // stdout line is built GREEDILY under a hard budget: the suite total
    // and sf always fit, then the slowest queries are added one at a time
    // (stable qNN prefix keys, 2-decimal seconds) only while the line stays
    // under 1900 chars; whatever doesn't fit is summed into "other" so the
    // per-query values still add up to the total. The full-name 3-decimal
    // map for all queries goes to BENCH_DETAIL.json for humans and diffs.
    val total = results.map(_.sec).filter(_ >= 0).sum
    // n_queries/n_failed: the driver's stdout tail window is 2000 chars
    // (verified from the captured BENCH_r13 tail), so the per-query map
    // cannot carry all entries (~3500 chars would push the line start out
    // of the parse window — the BENCH_r07 parsed:null incident). These
    // two counters are the ground truth that NO query was dropped or
    // failed even when the greedy budget sums the fast tail into "other".
    val nFailed = results.count(_.sec < 0)
    def line(entries: Seq[(String, String)], extra: String): String = {
      val qs = entries.map { case (k, v) => graft.util.Json.quote(k) + ":" + v }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","n_queries":${results.length},"n_failed":$nFailed,"queries":$qs$extra,"sf":${graft.util.Json.quote(sfDir)}}"""
    }
    // the sidecar carries the ATTRIBUTION evidence per query: both timed
    // runs (a big run1-run2 delta = transient host stall, not plan cost),
    // the per-run JVM GC ms, and the untimed state-drain ms around them —
    // so a 2x reading in the summary is diagnosable from the artifact alone
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(Bench.detailPath(
        only.isDefined || selected.size < SparkEntry.queries.size)),
      line(results.map { r =>
        r.name -> (s"""{"sec":${fmt(r.sec, 3)}""" +
          s""","runs":[${r.runs.map(fmt(_, 3)).mkString(",")}]""" +
          s""","gc_ms":[${r.runGcMs.mkString(",")}]""" +
          s""","drain_ms":[${r.drainMs.mkString(",")}]}""")
      }, "") + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    val budget = 1900
    // slowest first so the entries that matter for perf reading survive;
    // failures (-1) sort to the front so they are never silently dropped
    val bySlowest = results.sortBy(r => if (r.sec < 0) Double.MinValue else -r.sec)
      .map(r => (r.name.takeWhile(_ != '_'), fmt(r.sec, 2), r.sec))
    val fit = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var kept = 0
    var done = false
    for ((k, s, _) <- bySlowest if !done) {
      fit += (k -> s)
      // "other":NNNN.NN + ,"detail":"BENCH_DETAIL.json" reserve ≈ 50 chars
      if (line(fit.toSeq, "").length > budget - 50) { fit.remove(fit.length - 1); done = true }
      else kept += 1
    }
    val rest = bySlowest.drop(kept).map(_._3).filter(_ >= 0).sum
    val extra =
      if (kept == results.length) ""
      else s""","other":${fmt(rest, 2)},"detail":"BENCH_DETAIL.json""""
    val out = line(fit.toSeq, extra)
    spark.stop()
    println(out)
  }
}
