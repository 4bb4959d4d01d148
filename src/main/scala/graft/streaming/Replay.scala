package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
// PINNED INTERNAL API — the one non-public Spark surface the engine
// touches. Spark moved MemoryStream's package across majors
// (org.apache.spark.sql.execution.streaming through the 3.x/4.0 line →
// ...execution.streaming.runtime in the 4.1 line this repo builds
// against: /opt/spark/jars, 4.1.2). It is used ONLY by gate/spec
// replay, never by a production operator — an upgrade that moves it
// again fails to compile exactly HERE, with this note explaining why,
// instead of silently breaking scattered gate queries.
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Gate/spec-only streaming REPLAY seam: drive a bounded row set
  * through the ACTUAL Structured Streaming machinery (micro-batch
  * execution, state store, event-time watermark, append-mode emission)
  * and hand back the emitted rows as a DataFrame.
  *
  * This exists so streaming twins get CORRECTNESS rows at the batch
  * gate (q267 foldWindow, q273 stateful cardinality) — the replay is
  * gate plumbing, not an operator shape: production ingestion is a
  * real source, and the windowed/keyed state is the same either way.
  * Callers keep the driver-side row set O(1) in corpus size (a
  * fixed-COUNT slice like `event_id < 1000`, mirrored in the oracle),
  * so the replay cost is a constant at any scale. */
object Replay {

  /** One replay session per parent session, memoized: stateful operators
    * allocate one state-store instance per shuffle partition PER
    * MICRO-BATCH, and the parent's partition count is sized for the
    * corpus — while the replay row set is O(1) by contract. 32-way state
    * stores for a 1000-row replay measured as the bulk of the replay
    * queries' seconds (r13); 4 is plenty for a bounded slice at ANY
    * corpus scale. `newSession()` starts from the context defaults, NOT
    * the caller's runtime conf (timezone/ANSI would silently revert), so
    * the caller's conf is copied over explicitly — cloneSession semantics
    * without the private API. Memoized so concurrent gate queries
    * (Verify's thread pool) share one clone instead of spawning session
    * machinery per replay. Weak-keyed: the clone holds no reference to its
    * parent, so once a parent is unreachable its entry and clone can be
    * collected, and the map never grows past the live parents. */
  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  private[graft] def replaySession(parent: SparkSession): SparkSession =
    sessions.computeIfAbsent(parent, p => {
      val rs = p.newSession()
      p.conf.getAll.foreach { case (k, v) =>
        // static/immutable entries throw; the runtime ones are what matter
        try rs.conf.set(k, v) catch { case _: Exception => () }
      }
      rs.conf.set("spark.sql.shuffle.partitions", "4")
      rs
    })

  /** Replay `rows` in one micro-batch through `pipeline`, then `flush`
    * (e.g. a far-future sentinel that advances the watermark / closes
    * the last step) in a second batch; returns the append-mode emissions
    * as a parent-session DataFrame.
    *
    * The sink is a `foreachBatch` collector, NOT the memory sink: the
    * memory sink registers a temp view via `CreateViewCommand` from the
    * stream machinery, and with a second live session that registration
    * raced the suite session's catalog work (r13: flaky NPE
    * "sparkSession is null" in CreateViewCommand under `sbt test`).
    * Collecting the O(1) appended rows driver-side touches no catalog
    * and leaves nothing registered behind. */
  def appendOnce[A: Encoder](spark: SparkSession, rows: Seq[A],
                             flush: Seq[A])
                            (pipeline: DataFrame => DataFrame): DataFrame = {
    val rs = replaySession(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = rs.sqlContext
    val input = MemoryStream[A]
    val streamed = pipeline(input.toDF())
    // schema from the UNSTARTED streaming frame: an empty replay must
    // still yield a correctly-typed (empty) result
    val schema = streamed.schema
    val buf = new java.util.ArrayList[Row]()
    val q = streamed.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // micro-batches arrive serially (processAllAvailable barriers),
        // but the callback runs on the stream thread — synchronize the
        // buffer handoff to the caller thread
        val got = batch.collect()
        buf.synchronized { got.foreach(buf.add) }
        ()
      }.start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      if (flush.nonEmpty) {
        input.addData(flush: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // parent-session frame: composes with the caller's tables/frames, and
    // the replay clone stays an internal detail of this method
    val out = buf.synchronized(new java.util.ArrayList[Row](buf))
    spark.createDataFrame(out, schema)
  }
}
