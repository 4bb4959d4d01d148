package graft

import graft.streaming.Streams
import graft.windows.WindowAssigner

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {

  test("streaming windowed word count: watermark flush + late-data drop (reference Local.scala:218-225 semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = input.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("word"))
    val counts = Streams.windowedCounts(events, "word", "ts",
      WindowAssigner.Tumbling(10L), delay = "0 milliseconds")
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("wc").start()
    try {
      // reference fixture (FIXTURES.md A.1)
      input.addData((12L, "quick"), (15L, "quick"), (30L, "brown"), (40L, "brown"))
      q.processAllAvailable()
      // late element for the already-closed [10,20) window + an advancer
      input.addData((13L, "quick"), (60L, "later"))
      q.processAllAvailable()
      input.addData((100L, "flush"))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select(col("word"), unix_millis(col("window_start")).as("ws"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._2))
      // late (13,"quick") was DROPPED: [10,20) stays 2
      assert(rows.contains(("quick", 10L, 2L)))
      assert(rows.contains(("brown", 30L, 1L)))
      assert(rows.contains(("brown", 40L, 1L)))
      assert(rows.contains(("later", 60L, 1L)))
      assert(!rows.contains(("quick", 10L, 3L)))
    } finally q.stop()
  }

  test("Replay: one memoized clone per parent session, and a new session gets its own") {
    val clone = graft.streaming.Replay.replaySession(spark)
    assert(graft.streaming.Replay.replaySession(spark) eq clone)
    assert(!(clone eq spark))
    assert(clone.conf.get("spark.sql.shuffle.partitions") == "4")
    val parent = spark.newSession()
    val other = graft.streaming.Replay.replaySession(parent)
    assert(!(other eq clone) && !(other eq parent))
    assert(graft.streaming.Replay.replaySession(parent) eq other)
  }

  test("streaming calendar rollup: hour buckets flush on watermark, late rows dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val hourMs = 3600000L
    val events = input.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("etype"))
    val rolled = Streams.calendarRollup(events, "etype", "ts",
      unit = "hour", delay = "0 milliseconds")
    val q = rolled.writeStream.outputMode("append")
      .format("memory").queryName("cal").start()
    try {
      input.addData((hourMs + 5L, "click"), (hourMs + 10L, "click"), (hourMs + 20L, "view"))
      q.processAllAvailable()
      // advance past hour 1 → its buckets finalize; then a LATE hour-1 row
      input.addData((2 * hourMs + 1L, "click"))
      q.processAllAvailable()
      input.addData((hourMs + 30L, "click"), (3 * hourMs + 1L, "flush"))
      q.processAllAvailable()
      val rows = spark.table("cal")
        .select(unix_millis(col("bucket_start")).as("b"), col("etype"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows.contains((hourMs, "click", 2L)), s"got $rows") // late row dropped
      assert(rows.contains((hourMs, "view", 1L)))
      assert(rows.contains((2 * hourMs, "click", 1L)))
      assert(!rows.contains((hourMs, "click", 3L)))
    } finally q.stop()
  }

  test("the SAME DataStream facade pipeline runs streaming: watermark flush + late drop") {
    import graft.expr.Expr._
    import graft.stream.DataStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // identical facade code to the batch golden test — only the source differs
    val counted = DataStream.fromDF[(Long, String)](input.toDF())
      .assignTimestamps(t => t._1)
      .groupBy(t => t.value._2)
      .foldWindow(WindowAssigner.Tumbling(10L), 0L)(t => t._1 + 1L)
    val q = counted.toDF.select(
        col("value.key").as("word"),
        col("value.value.window.start").as("ws"),
        col("value.value.value").as("n"))
      .writeStream.outputMode("append").format("memory").queryName("fwc").start()
    try {
      input.addData((12L, "quick"), (15L, "quick"), (30L, "brown"), (40L, "brown"))
      q.processAllAvailable()
      input.addData((13L, "quick"), (99L, "advance")) // late row must be dropped
      q.processAllAvailable()
      input.addData((200L, "flush"))
      q.processAllAvailable()
      val rows = spark.table("fwc").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains(("quick", 10L, 2L)))   // late (13,"quick") dropped
      assert(rows.contains(("brown", 30L, 1L)))
      assert(rows.contains(("brown", 40L, 1L)))
      assert(!rows.contains(("quick", 10L, 3L)))
    } finally q.stop()
  }

  test("facade foldWindow in UPDATE mode: per-batch deltas for open windows, late rows still dropped") {
    import graft.expr.Expr._
    import graft.stream.DataStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val counted = DataStream.fromDF[(Long, String)](input.toDF())
      .assignTimestamps(t => t._1)
      .groupBy(t => t.value._2)
      .foldWindow(WindowAssigner.Tumbling(10L), 0L)(t => t._1 + 1L)
    // update mode: each micro-batch emits the CURRENT value of every window
    // it touched — the reference has no analogue (it emits once, on
    // watermark passage = our Append mode); update is the engine extension
    // for consumers that want early results
    val q = counted.toDF.select(
        col("value.key").as("word"),
        col("value.value.window.start").as("ws"),
        col("value.value.value").as("n"))
      .writeStream.outputMode("update").format("memory").queryName("uwc").start()
    try {
      input.addData((12L, "quick"), (15L, "quick"))
      q.processAllAvailable()
      // watermark now 15; window [10,20) still open → next batch UPDATES it
      input.addData((16L, "quick"))
      q.processAllAvailable()
      // watermark 16: an element for [0,10) (ended at 10 <= 16) is late →
      // dropped even in update mode
      input.addData((5L, "quick"), (99L, "advance"))
      q.processAllAvailable()
      val rows = spark.table("uwc").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // the COMPLETE emission history of window [10,20) as a MULTISET (a
      // Set compare would mask a duplicate re-emission of an already-seen
      // value): the intermediate value 2 (batch 1), the final value 3
      // (batch 2's update) — exactly once each: batch 3 must not re-emit
      // the untouched window
      assert(rows.filter(r => r._1 == "quick" && r._2 == 10L).map(_._3).sorted == Seq(2L, 3L),
        s"window [10,20) emissions wrong: $rows")
      assert(!rows.exists(r => r._1 == "quick" && r._2 == 0L), s"late row leaked: $rows")
    } finally q.stop()
  }

  test("windowed counts in COMPLETE mode re-emit the full result each trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = input.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("word"))
    // complete mode keeps ALL window state (watermark eviction off by
    // definition) — the trade: full-result sinks, unbounded state; only for
    // small keyspaces/dashboards
    val counts = Streams.windowedCounts(events, "word", "ts",
      WindowAssigner.Tumbling(10L), delay = "0 milliseconds")
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("cwc").start()
    try {
      input.addData((12L, "quick"), (30L, "brown"))
      q.processAllAvailable()
      input.addData((15L, "quick"))
      q.processAllAvailable()
      // memory sink in complete mode is replaced per trigger → final table
      // IS the whole result, closed windows included
      val rows = spark.table("cwc")
        .select(col("word"), unix_millis(col("window_start")).as("ws"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(("quick", 10L, 2L), ("brown", 30L, 1L)))
    } finally q.stop()
  }

  test("facade foldWindow with SLIDING windows runs streaming (replication + watermark flush)") {
    import graft.expr.Expr._
    import graft.stream.DataStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val counted = DataStream.fromDF[(Long, String)](input.toDF())
      .assignTimestamps(t => t._1)
      .groupBy(t => t.value._2)
      .foldWindow(WindowAssigner.Sliding(10L, 5L), 0L)(t => t._1 + 1L)
    val q = counted.toDF.select(
        col("value.key").as("k"),
        col("value.value.window.start").as("ws"),
        col("value.value.value").as("n"))
      .writeStream.outputMode("append").format("memory").queryName("fslide").start()
    try {
      input.addData((12L, "w"), (14L, "w"))
      q.processAllAvailable()
      input.addData((100L, "w")) // advance watermark to flush
      q.processAllAvailable()
      val rows = spark.table("fslide").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      // both events land in windows [5,15) and [10,20) — 2 each
      assert(rows.contains((5L, 2L)) && rows.contains((10L, 2L)), s"$rows")
    } finally q.stop()
  }

  test("facade foldWindow with SESSION windows runs streaming (merge + watermark flush)") {
    import graft.expr.Expr._
    import graft.stream.DataStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val counted = DataStream.fromDF[(Long, String)](input.toDF())
      .assignTimestamps(t => t._1)
      .groupBy(t => t.value._2)
      .foldWindow(WindowAssigner.Session(20L), 0L)(t => t._1 + 1L)
    val q = counted.toDF.select(
        col("value.key").as("k"),
        col("value.value.window.start").as("ws"),
        col("value.value.window.end").as("we"),
        col("value.value.value").as("n"))
      .writeStream.outputMode("append").format("memory").queryName("fsess").start()
    try {
      input.addData((0L, "u"), (5L, "u"), (100L, "u"))
      q.processAllAvailable()
      input.addData((500L, "u")) // advance watermark → flush both sessions
      q.processAllAvailable()
      val rows = spark.table("fsess").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains((0L, 25L, 2L)), s"merged session missing: $rows")   // 0,5 merged; end = last+gap
      assert(rows.contains((100L, 120L, 1L)), s"singleton session missing: $rows")
    } finally q.stop()
  }

  test("streaming session windows merge within gap and flush on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = input.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("k"))
    val counts = Streams.windowedCounts(events, "k", "ts",
      WindowAssigner.Session(20L), delay = "0 milliseconds")
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    try {
      input.addData((0L, "u"), (5L, "u"), (100L, "u"))
      q.processAllAvailable()
      input.addData((500L, "u")) // advance watermark to flush session at 100
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select(unix_millis(col("window_start")), unix_millis(col("window_end")), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((0L, 25L, 2L)))    // 0 and 5 merged; end = last+gap
      assert(rows.contains((100L, 120L, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join matches keys within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(Long, Long)] // (ms, user)
    val ri = MemoryStream[(Long, Long)]
    val l = li.toDF().select(timestamp_millis(col("_1")).as("lts"), col("_2").as("k"))
    val r = ri.toDF().select(timestamp_millis(col("_1")).as("rts"), col("_2").as("k"))
    val joined = Streams.intervalJoin(l, r, "k", "lts", "rts",
      delay = "0 milliseconds", before = "100 MILLISECONDS", after = "100 MILLISECONDS")
    val q = joined.select(unix_millis(l("lts")).as("lm"), unix_millis(r("rts")).as("rm"), l("k"))
      .writeStream.outputMode("append").format("memory").queryName("ij").start()
    try {
      li.addData((1000L, 1L), (5000L, 2L))
      ri.addData((1050L, 1L), (1500L, 1L), (5010L, 2L), (5010L, 3L))
      q.processAllAvailable()
      val rows = spark.table("ij").collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(rows == Set((1000L, 1050L, 1L), (5000L, 5010L, 2L)))
    } finally q.stop()
  }

  test("streaming dedup drops in-horizon duplicate keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("id"))
    val q = Streams.dedupStream(events, "ts", "1 second", "id")
      .writeStream.outputMode("append").format("memory").queryName("dd").start()
    try {
      input.addData((10L, 1L), (10L, 1L), (20L, 2L))
      q.processAllAvailable()
      // same KEY at a different timestamp is a duplicate too
      input.addData((15L, 1L), (30L, 3L))
      q.processAllAvailable()
      val ids = spark.table("dd").select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming near-dup dedup drops whitespace/case variants by signature") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)] // (ms, id, text)
    val docs = input.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("id"), col("_3").as("text"))
    val q = Streams.dedupStreamNearDup(docs, "text", "ts", "10 seconds")
      .writeStream.outputMode("append").format("memory").queryName("ndd").start()
    try {
      input.addData(
        (10L, 1L, "the quick brown fox jumps over the lazy dog"),
        (20L, 2L, "THE  Quick   brown FOX jumps over the lazy dog"), // normalize-dup of 1
        (30L, 3L, "completely different content about spark engines"))
      q.processAllAvailable()
      val ids = spark.table("ndd").select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("foreachBatch parquet sink writes each micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val q = Streams.foreachBatchParquetSink(input.toDF(), dir).start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      input.addData(4L)
      q.processAllAvailable()
      val all = spark.read.parquet(s"$dir/batch_*").collect().map(_.getLong(0)).sorted
      assert(all.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("streaming as-of join: most-recent-right match, watermark emission, late drop, timeout flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(Long, Long, Long)] // (key, ts_ms, left id)
    val ri = MemoryStream[(Long, Long, Long)] // (key, ts_ms, right value)
    // 2s delay: the two MemoryStream sources can process as SEPARATE
    // micro-batches in either order, so the watermark needs enough slack
    // that one side's batch doesn't make the other side's in-flight rows
    // late before they're ever seen
    val joined = Streams.asOfJoinStream(li.toDS(), ri.toDS(), delay = "2 seconds")
    val q = joined.toDF("k", "lts", "lid", "rv").writeStream
      .outputMode("append").format("memory").queryName("asof").start()
    try {
      // two lefts straddle the right@1000; nothing due yet (wm <= 0)
      li.addData((1L, 900L, 99L), (1L, 1500L, 100L))
      ri.addData((1L, 1000L, 7L))
      q.processAllAvailable()
      // advance wm to 3000 for the NEXT batch
      ri.addData((1L, 5000L, 8L))
      q.processAllAvailable()
      // this batch runs at wm 3000 → lefts 900/1500 finalize: 900 has no
      // right at or before it, 1500 matches right@1000 (most recent <=).
      // left@6000 buffers; left@2500 is LATE (behind wm) and must drop
      li.addData((1L, 6000L, 101L), (1L, 2500L, 55L))
      q.processAllAvailable()
      // advance the watermark via a DIFFERENT key: key 1's buffered left
      // must flush through its event-time TIMEOUT (no new key-1 rows),
      // matching the out-of-order right@5000 buffered earlier
      li.addData((2L, 9000L, 200L))
      q.processAllAvailable()
      li.addData((2L, 12000L, 201L))
      q.processAllAvailable()
      val rows = spark.table("asof")
        .collect().map(r => (r.getLong(0), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(rows.contains((1L, 99L, None)), s"unmatched left missing: $rows")
      assert(rows.contains((1L, 100L, Some(7L))), s"as-of match missing: $rows")
      assert(rows.contains((1L, 101L, Some(8L))), s"timeout flush missing: $rows")
      assert(!rows.exists(_._2 == 55L), s"late left leaked: $rows")
    } finally q.stop()
  }

  test("streaming per-key running sum via flatMapGroupsWithState (streaming MapAccumulate)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)] // (key, seq, value)
    val out = Streams.runningSumPerKey(input.toDS())
    val q = out.toDF("k", "seq", "v", "acc").writeStream
      .outputMode("append").format("memory").queryName("rs").start()
    try {
      input.addData((1L, 1L, 10L), (1L, 2L, 5L), (2L, 3L, 7L))
      q.processAllAvailable()
      input.addData((1L, 4L, 1L))
      q.processAllAvailable()
      val rows = spark.table("rs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // within-batch fold order follows seq (deterministic)…
      assert(rows.contains((1L, 1L, 10L, 10L)))
      assert(rows.contains((1L, 2L, 5L, 15L)))
      assert(rows.contains((2L, 3L, 7L, 7L)))
      // …and state persists across micro-batches: second batch continues at 15
      assert(rows.contains((1L, 4L, 1L, 16L)))
    } finally q.stop()
  }

  test("streaming token-budget admission: skip-and-continue within a batch, state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, Long)] // (domain, id, seq, tokens)
    val out = Streams.tokenBudgetStream(input.toDS(), budget = 10L)
    val q = out.toDF("dom", "id", "tok", "kept").writeStream
      .outputMode("append").format("memory").queryName("tb").start()
    try {
      // batch 1, domain a in seq order: 5 (keep, 5), 4 (keep, 9),
      // 4 (would hit 13 — skip), 1 (keep: lands exactly on 10)
      input.addData(("a", 1L, 1L, 5L), ("a", 2L, 2L, 4L), ("a", 3L, 3L, 4L), ("a", 4L, 4L, 1L),
        ("b", 10L, 1L, 20L)) // oversized head: rejected, budget untouched
      q.processAllAvailable()
      // batch 2: a is saturated (total 10) -> everything rejected;
      // b's earlier reject did NOT consume budget -> 3 fits
      input.addData(("a", 5L, 5L, 1L), ("b", 11L, 2L, 3L))
      q.processAllAvailable()
      val rows = spark.table("tb").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(3))).toSet
      assert(rows == Set(
        ("a", 1L, true), ("a", 2L, true), ("a", 3L, false), ("a", 4L, true),
        ("b", 10L, false),
        ("a", 5L, false), ("b", 11L, true)), s"admissions wrong: $rows")
    } finally q.stop()
  }

  test("streaming CDC latest-wins: state converges to batch latestState; stale rows cannot regress it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, String)] // (key, ms, event_id, op, v)
    val out = Streams.cdcLatestStream(input.toDS())
    val q = out.toDF("k", "ms", "eid", "op", "v").writeStream
      .outputMode("update").format("memory").queryName("cdc").start()
    try {
      input.addData((1L, 10L, 100L, "U", "a"), (1L, 20L, 101L, "U", "b"),
        (2L, 5L, 102L, "U", "c"))
      q.processAllAvailable()
      // batch 2: a STALE update for key 1 (must re-emit the unchanged
      // winner, not regress) and a delete for key 2
      input.addData((1L, 15L, 103L, "U", "stale"), (2L, 6L, 104L, "D", "d"))
      q.processAllAvailable()
      val rows = spark.table("cdc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getString(4)))
      assert(rows.toSet == Set(
        (1L, 20L, "U", "b"), (2L, 5L, "U", "c"), (2L, 6L, "D", "d")))
      assert(rows.count(_._1 == 1L) == 2, "key 1 must re-emit its held winner in batch 2")
      // converged state == batch latestState over the same changelog
      val full = Seq((1L, 10L, 100L, "U", "a"), (1L, 20L, 101L, "U", "b"),
        (2L, 5L, 102L, "U", "c"), (1L, 15L, 103L, "U", "stale"), (2L, 6L, 104L, "D", "d"))
        .toDF("k", "ms", "eid", "op", "v")
      val batch = graft.operators.Cdc.latestState(full, "k", Seq("ms", "eid"))
        .collect().map(r => (r.getLong(0), r.getString(4))).toSet
      assert(batch == Set((1L, "b"), (2L, "d")))
    } finally q.stop()
  }

  test("streaming decontamination prefilter: contaminated docs flagged, clean stream passes, zero state") {
    import spark.implicits._
    val probeText = "shared evaluation prompt about distributed query planning and shuffles"
    // the filter is built in BATCH over the benchmark's shingle keys
    val probeKeys = Seq(probeText).toDF("text")
      .select(explode(array_distinct(
        graft.functions.Text.fastWordShingles(col("text"), 3))).as("s"))
      .select(graft.operators.Dedup.shingleKey(col("s")).as("sh")).distinct()
    val bloom = graft.operators.Bloom.build(probeKeys, "sh", probeKeys.count(), fpp = 0.01)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Streams.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", bloom, shingleLen = 3)
    val q = out.writeStream.outputMode("append").format("memory").queryName("decon").start()
    try {
      input.addData(
        (1L, probeText),                                      // exact copy: contaminated
        (2L, s"prefix words then $probeText and a suffix"),   // embedded copy: contaminated
        (3L, "w1a w2b w3c w4d w5e w6f w7g w8h w9i w10j"),     // doc-unique gibberish
        (4L, "x1k x2l x3m x4n x5o x6p x7q x8r x9s x10t"))
      q.processAllAvailable()
      val flagged = spark.table("decon").collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
      // no false negatives: both contaminated docs flagged, with at least
      // the true shared-shingle count (9 probe tokens -> 7 distinct shingles)
      assert(flagged.contains(1L) && flagged(1L) >= 7)
      assert(flagged.contains(2L) && flagged(2L) >= 7)
      // gibberish docs share nothing; at fpp=1% per shingle a flag would
      // need a false positive — possible but deterministic here: assert
      // the observed behavior is clean for this fixed corpus
      assert(!flagged.contains(3L) && !flagged.contains(4L))
      // STATELESS: the executed plan must carry no state-store operator
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val stateful = executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }
      assert(stateful.isEmpty, s"expected stateless plan, found: $stateful")
    } finally q.stop()
  }

  test("streaming incremental-dedup prefilter: index dups flagged statelessly, fresh docs pass") {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val indexDocs = Seq((1L, corpusText)).toDF("doc_id", "text")
    val index = graft.operators.Dedup.dedupIndex(indexDocs, "doc_id", "text", 3, 16, 4)
    val (fpBloom, bandBloom) = Streams.dedupIndexBlooms(index)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Streams.incrementalDedupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", fpBloom, bandBloom, 3, 16, 4)
    val q = out.writeStream.outputMode("append").format("memory").queryName("incdedup").start()
    try {
      input.addData(
        (10L, corpusText), // exact copy -> both flags (exact implies band match)
        (11L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near variant
        (12L, "w1a w2b w3c w4d w5e w6f w7g w8h w9i w10j")) // fresh gibberish
      q.processAllAvailable()
      val rows = spark.table("incdedup").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3)))).toMap
      assert(rows(10L) == ((true, true)), s"exact copy flags: ${rows(10L)}")
      // the near variant must NOT be an exact-dup; its band flag holds
      // because this 1-word change preserves at least one full band
      // (q63's batch classifier marks the same pair near_dup_candidate)
      assert(rows(11L)._1 == false && rows(11L)._2 == true, s"near variant flags: ${rows(11L)}")
      assert(rows(12L) == ((false, false)), s"fresh doc flags: ${rows(12L)}")
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }.isEmpty)
    } finally q.stop()
  }

  test("streaming temperature resample matches the batch membership exactly, stateless") {
    import spark.implicits._
    val snapshot = ((1 to 40).map(i => (i.toLong, "en")) ++ (1 to 10).map(i => (100L + i, "fr")))
      .toDF("doc_id", "lang")
    val rates = graft.operators.Sampling.temperatureRates(snapshot, "lang", 0.5, 0.5)
    val batchKept = graft.operators.Sampling
      .temperatureResample(snapshot, "doc_id", "lang", 0.5, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Streams.temperatureResampleStream(
      input.toDF().toDF("doc_id", "lang"), "doc_id", "lang", rates)
    val q = out.writeStream.outputMode("append").format("memory").queryName("temp").start()
    try {
      input.addData(snapshot.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      q.processAllAvailable()
      val streamKept = spark.table("temp").collect().map(_.getLong(0)).toSet
      assert(streamKept == batchKept, s"stream kept $streamKept vs batch $batchKept")
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }.isEmpty)
    } finally q.stop()
  }

  test("streaming shard routing matches the batch shard assignment exactly, stateless") {
    import spark.implicits._
    val ids = (0L until 100L)
    val batchShards = graft.operators.Sampling
      .shuffleShard(ids.toDF("doc_id"), "doc_id", nShards = 8, seed = "s")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val out = Streams.assignShardsStream(input.toDF().toDF("doc_id"), "doc_id", 8, "s")
    val q = out.writeStream.outputMode("append").format("memory").queryName("shards").start()
    try {
      input.addData(ids: _*)
      q.processAllAvailable()
      val streamShards = spark.table("shards").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamShards == batchShards)
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }.isEmpty)
    } finally q.stop()
  }

  test("streaming LM scoring matches batch scoreWith across micro-batches") {
    import spark.implicits._
    val train = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    graft.operators.LmScore.writeModel(train, "doc_id", "text", "graft_stream_lm", buckets = 2)
    val batchDocs = Seq((10L, "a b"), (11L, "a zzz"), (12L, "qq rr"), (13L, "tiny"))
    val expected = graft.operators.LmScore
      .scoreWith(batchDocs.toDF("doc_id", "text"), "doc_id", "text", "graft_stream_lm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lmstream").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.lmScoreStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", "graft_stream_lm", dir).start()
    try {
      input.addData(batchDocs.take(2): _*) // two triggers: scores must not
      q.processAllAvailable()              // depend on batch boundaries
      input.addData(batchDocs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.read.parquet(dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == expected)
    } finally q.stop()
  }

  test("stream-static exact-dup confirmation: bloom false positives die, still stateless") {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val index = graft.operators.Dedup.dedupIndex(
      Seq((1L, corpusText)).toDF("doc_id", "text"), "doc_id", "text", 3, 16, 4)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // feed the verify stage directly (in production it follows the bloom
    // prefilter; here docs 11/12 play the role of flag false positives)
    val confirmed = Streams.confirmExactDupsStream(
      input.toDF().toDF("doc_id", "text"), "text", index)
    val q = confirmed.writeStream.outputMode("append").format("memory").queryName("confirm").start()
    try {
      input.addData(
        (10L, corpusText),                         // true exact dup
        (11L, "THE  Quick  brown fox jumps over the lazy dog near the river bank today"), // normalizes equal -> exact
        (12L, "the quick brown fox jumps over the lazy dog near the river bank tonight")) // near, NOT exact
      q.processAllAvailable()
      val ids = spark.table("confirm").collect().map(_.getLong(0)).toSet
      assert(ids == Set(10L, 11L), s"confirmed: $ids")
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }.isEmpty)
    } finally q.stop()
  }

  test("streaming contamination spans match the batch operator, stateless") {
    import spark.implicits._
    val bench = Seq((100L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val corpusRows = Seq(
      (1L, "x0 x1 w1 w2 w3 w4 w5 x7 x8 x9"), // two overlapping matches
      (2L, "totally clean text with other words entirely"),
      (3L, "too short"))                     // < gramWords tokens
    // tiny key set + low fpp → the bloom is effectively exact here, so the
    // stream scores must EQUAL the batch operator's (the general contract
    // is only >=, overcount-on-false-positive)
    val keys = graft.operators.Dedup.contaminationWindowKeys(bench, "doc_id", "text", 4)
    val bloom = graft.operators.Bloom.build(keys, "h", expectedItems = 16, fpp = 1e-6)
    val batch = graft.operators.Dedup.contaminationSpans(
        corpusRows.toDF("doc_id", "text"), bench, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val scored = Streams.contaminationSpansStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", bloom, gramWords = 4)
    val q = scored.writeStream.outputMode("append").format("memory").queryName("spans").start()
    try {
      input.addData(corpusRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("spans")
        .select(col("doc_id"), col("n_windows"), col("n_matched"),
          col("covered_tokens"), col("contamination"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }.isEmpty)
    } finally q.stop()
  }

  test("streaming weighted reservoir: sharded top-k converges to the batch sample") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (doc_id, w)
    val out = Streams.weightedSampleStream(input.toDS(), k = 5, nShards = 4, seed = "ws")
    val q = out.toDF("shard", "doc_id", "w", "key_unats").writeStream
      .outputMode("update").format("memory").queryName("wres").start()
    try {
      val b1 = (1L to 50L).map(i => (i, i % 13 + 1))
      val b2 = (51L to 120L).map(i => (i, i % 31 + 1)) :+ (200L, 0L) // w=0 excluded
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // an id's key never changes, so the global winners are the k
      // minimal (key, id) ever emitted — stale evicted rows rank below
      val emitted = spark.table("wres").collect()
        .map(r => (r.getLong(3), r.getLong(1))).distinct.sorted.take(5).map(_._2).toSeq
      val all = (b1 ++ b2).toDF("doc_id", "w")
      val batch = graft.operators.Sampling.weightedSample(all, "doc_id", "w", k = 5, seed = "ws")
        .collect().map(_.getLong(0)).toSeq
      assert(emitted == batch, s"stream $emitted vs batch $batch")
    } finally q.stop()
  }

  test("streaming funnel: steps advance across batches, window violations and skips ignored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)] // (user, type, tsMs)
    val out = Streams.funnelStream(input.toDS(),
      steps = Seq("signup", "click", "purchase"), withinMs = Some(100L))
    val q = out.toDF("user_id", "step", "ts").writeStream
      .outputMode("update").format("memory").queryName("fnl").start()
    try {
      // batch 1: u1 signup→click in window; u2 signup only; u3 starts
      // mid-funnel (click before signup — no advance)
      input.addData((1L, "signup", 10L), (1L, "click", 60L),
        (2L, "signup", 20L), (3L, "click", 30L))
      q.processAllAvailable()
      // batch 2: u1 purchase INSIDE the window of its batch-1 click (state
      // carried across batches); u2 click OUTSIDE its signup window (120 >
      // 20+100, ignored) then a purchase that cannot apply (still at step
      // 0); u3 signup (step 0 only)
      input.addData((1L, "purchase", 150L), (2L, "click", 121L),
        (2L, "purchase", 130L), (3L, "signup", 40L))
      q.processAllAvailable()
      val rows = spark.table("fnl").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows == Set(
        (1L, 0, 10L), (1L, 1, 60L), (1L, 2, 150L),
        (2L, 0, 20L),
        (3L, 0, 40L)), s"got $rows")
      // in-order input ⇒ the furthest-step counts agree with the batch
      // funnel over the same events
      val all = Seq((1L, "signup", 10L), (1L, "click", 60L), (2L, "signup", 20L),
        (3L, "click", 30L), (1L, "purchase", 150L), (2L, "click", 121L),
        (2L, "purchase", 130L), (3L, "signup", 40L))
        .toDF("user_id", "event_type", "ms")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(
          org.apache.spark.sql.functions.col("ms")))
      val batch = graft.operators.Funnel.funnel(all, "user_id", "event_type", "ts",
          Seq("signup", "click", "purchase"), withinMs = Some(100L))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      // step 1 (signup): u1,u2,u3; step 2 (click): u1; step 3: u1
      assert(batch == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
      // furthest step per USER (emissions are one per advance)
      val furthest = rows.groupBy(_._1).map { case (_, rs) => rs.map(_._2).max }
      val streamedCounts = (0 to 2).map(s =>
        (s + 1).toLong -> furthest.count(_ >= s).toLong).toMap
      assert(streamedCounts == batch, s"stream $streamedCounts vs batch $batch")
    } finally q.stop()
  }

  test("streaming boilerplate pruning: batch-discovered vocabulary, identical cleaning, zero state") {
    import spark.implicits._
    val corpus = Seq((1L, "x y z x"), (2L, "y x"), (3L, "x y"), (4L, "x"), (5L, ""))
    val batchDf = corpus.toDF("doc_id", "text")
    val vocab = graft.operators.Boilerplate
      .highDfTokens(batchDf, "doc_id", "text", 80, 100)
      .collect().map(_.getString(0)).toSeq
    assert(vocab == Seq("x"))
    val expected = graft.operators.Boilerplate
      .pruneHighDfTokens(batchDf, "doc_id", "text", 80, 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Streams.pruneTokensStream(
      input.toDF().toDF("doc_id", "text"), "text", vocab)
    val q = out.writeStream.outputMode("append").format("memory").queryName("boil").start()
    try {
      input.addData(corpus: _*)
      q.processAllAvailable()
      val got = spark.table("boil").collect().map(r => (
        r.getLong(r.fieldIndex("doc_id")),
        r.getString(r.fieldIndex("clean_text")),
        r.getLong(r.fieldIndex("n_kept")),
        r.getLong(r.fieldIndex("n_dropped")))).toSet
      assert(got == expected, s"stream $got vs batch $expected")
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val stateful = executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }
      assert(stateful.isEmpty, s"expected stateless plan, found: $stateful")
    } finally q.stop()
  }

  test("streaming novelty: bloom of repeated shingles, batch parity for corpus members, zero state") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
    val batchDf = corpus.toDF("doc_id", "text")
    val shared = graft.operators.Boilerplate
      .sharedShingleKeys(batchDf, "doc_id", "text", shingleLen = 3)
    val bloom = graft.operators.Bloom.build(shared, "sh", shared.count(), fpp = 0.001)
    val exact = graft.operators.Boilerplate
      .shingleNovelty(batchDf, "doc_id", "text", shingleLen = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Streams.noveltyStream(
      input.toDF().toDF("doc_id", "text"), "text", bloom, shingleLen = 3)
    val q = out.writeStream.outputMode("append").format("memory").queryName("nov").start()
    try {
      // corpus members + one unseen doc whose shingles are all novel
      input.addData(corpus :+ (9L, "p q r s t"): _*)
      q.processAllAvailable()
      val got = spark.table("nov").collect().map(r =>
        r.getLong(r.fieldIndex("doc_id")) ->
          ((r.getLong(r.fieldIndex("n_sh")),
            r.getDouble(r.fieldIndex("novelty_est"))))).toMap
      // this tiny key set has no false positives at fpp 1e-3, so the
      // estimate equals the batch value exactly for corpus members
      corpus.foreach { case (id, _) => assert(got(id) == exact(id), s"doc $id") }
      assert(got(9L) == ((3L, 1.0)), s"unseen doc must read fully novel: ${got(9L)}")
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }.isEmpty)
    } finally q.stop()
  }

  test("streaming rate anomaly: closed hours score exactly as batch, burst flags, late dropped") {
    import spark.implicits._
    def at(h: Long, i: Long): Long = h * 3600000000L + i * 1000L
    val b1 = for (h <- 0L to 7L; i <- 0L until 2L) yield (1L, at(h, i))
    val b2 = (for (h <- 8L to 9L; i <- 0L until 2L) yield (1L, at(h, i))) ++
      (0L until 12L).map(i => (1L, at(10L, i))) ++   // the burst
      Seq((1L, at(11L, 0L)))                         // closes hour 10
    val late = (1L, at(3L, 99L))                     // hour 3 closed long ago

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = Streams.rateAnomalyStream(input.toDS(),
      sigmas = 3.0, window = 24, minPrior = 6)
    val q = out.writeStream.outputMode("append").format("memory").queryName("rate").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2 :+ late: _*)
      q.processAllAvailable()
      val got = spark.table("rate").collect()
        .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      // hours 0..10 closed and scored; the open hour 11 never emits; the
      // late hour-3 event is dropped, not double-scored
      assert(got.keySet == (0L to 10L).toSet, s"got ${got.keySet}")
      // exact parity with the batch operator over the NON-late events
      val batch = graft.operators.Anomaly.hourlyRateAnomalies(
          (b1 ++ b2).toDF("user_id", "us")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us"),
          "user_id", "ts", sigmas = 3.0, window = 24, minPrior = 6)
        .collect().map(r => (r.getLong(1), (r.getLong(2), r.getLong(3), r.getBoolean(6))))
        .toMap
      (0L to 10L).foreach { h =>
        assert(got(h) == batch(h), s"hour $h: stream ${got(h)} vs batch ${batch(h)}") }
      assert(got(10L)._3, "the burst hour must flag")
    } finally q.stop()
  }

  test("streaming CUSUM: carried cumulative state, batch parity on the closed slice, step-universe-sized state, late dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    def at(d: Long, i: Long): Long = d * dayUs + i * 1000L
    // key a: planted mean shift (days 0-5 low, 6-11 high); key b: constant.
    // counts per day are MANY events — the carried state must grow with
    // DAYS, not events (the step-universe contract)
    def cnt(k: String, d: Long): Long =
      if (k == "b") 4L else if (d <= 5L) 3L else 11L
    def dayEvents(k: String, d: Long): Seq[(String, Long, Long)] =
      (0L until cnt(k, d)).map(i => (k, at(d, i), 1L))
    val b1 = (0L to 7L).flatMap(d => Seq("a", "b").flatMap(dayEvents(_, d)))
    val b2 = (8L to 11L).flatMap(d => Seq("a", "b").flatMap(dayEvents(_, d))) ++
      Seq(("a", at(99L, 0L), 1L), ("b", at(99L, 0L), 1L)) // closes day 11
    val late = ("a", at(2L, 500L), 1L) // day 2 closed long ago -> dropped

    val input = MemoryStream[(String, Long, Long)]
    val out = Streams.cusumStream(input.toDS(), stepUs = dayUs)
    val q = out.toDF("g", "n_steps", "split_step", "split_i", "cusum",
        "mean_before_micro", "mean_after_micro")
      .writeStream.outputMode("append").format("memory").queryName("cusum").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2 :+ late: _*)
      q.processAllAvailable()
      val rows = spark.table("cusum").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getLong(5), r.getLong(6))))
      // a verdict re-emits at every close once 2 steps are closed: the
      // 12 days 0..11 all close (the sentinel closes day 11) -> 11
      // emissions per key; state (and n_steps) scale with the 12-day
      // universe, never the ~170 events
      val perKey = rows.groupBy(_._1)
      assert(perKey("a").length == 11L && perKey("b").length == 11L,
        s"one emission per close: ${perKey.view.mapValues(_.length).toMap}")
      val last = perKey.view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      assert(last("a")._1 == 12L, "all 12 closed steps carried")
      // batch parity: cusumChangepoint over the SAME closed slice (days
      // 0-10 closed by day 11's arrival... day 11 closed by the sentinel)
      val series = (for (k <- Seq("a", "b"); d <- 0L to 11L)
        yield (k, d, cnt(k, d))).toDF("g", "d", "y")
      val batch = graft.operators.Anomaly.cusumChangepoint(
          series, "g", col("d"), col("y"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getLong(5), r.getLong(6)))).toMap
      assert(last("a") == batch("a"), s"a: ${last("a")} vs ${batch("a")}")
      assert(last("b") == batch("b"), s"b: ${last("b")} vs ${batch("b")}")
      // the shift is found where it was planted
      assert(last("a")._2 == 5L && last("a")._5 == 3000000L &&
        last("a")._6 == 11000000L)
    } finally q.stop()
  }

  test("streaming Kruskal-Wallis drift: per-close batch parity, state bounded to the open step, late dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600000000L
    def at(h: Long, i: Long): Long = h * hourUs + i * 1000L
    val rnd = new scala.util.Random(41)
    // hour 0: three exchangeable cohorts; hour 1: cohort c shifted UP;
    // hour 2: sentinel-only (closes hour 1). DIFFERENT data per hour so
    // cross-step leakage would change the verdicts.
    def hourEvents(h: Long, shift: Map[String, Long]): Seq[(String, String, Long, Long)] =
      Seq("a", "b", "c").flatMap { g =>
        (1 to 40).map(i => ("m", g, at(h, g.hashCode.abs % 100 + i),
          rnd.nextInt(8).toLong + shift.getOrElse(g, 0L))) }
    val h0 = hourEvents(0L, Map.empty)
    val h1 = hourEvents(1L, Map("c" -> 5L))
    val late = ("m", "a", at(0L, 999L), 7L) // hour 0 closed -> dropped
    val sentinel = ("m", "a", at(2L, 0L), 1L)

    val input = MemoryStream[(String, String, Long, Long)]
    val out = Streams.kwDriftStream(input.toDS(), stepUs = hourUs)
    val q = out.toDF("series", "step", "n", "k_groups", "t_ties", "h", "h_tie")
      .writeStream.outputMode("append").format("memory").queryName("kwdrift").start()
    try {
      input.addData(h0: _*)
      q.processAllAvailable()
      input.addData(h1: _*) // closes hour 0
      q.processAllAvailable()
      input.addData(late, sentinel) // hour 0 closed -> late drops; close hour 1
      q.processAllAvailable()
      val rows = spark.table("kwdrift").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
      assert(rows.keySet == Set(0L, 1L), s"one emission per closed hour: ${rows.keySet}")
      // per-close batch parity on EXACTLY that hour's slice (the late
      // hour-0 event arrived after the close -> excluded): proves the
      // state carried nothing across steps
      def batch(evts: Seq[(String, String, Long, Long)]) = {
        val r = graft.operators.Eval.kruskalWallis(
          evts.map(e => (e._2, e._4)).toDF("g", "v"), "g", col("v"),
          bucketOf = v => shiftright(v, 2)).collect()(0)
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      }
      assert(rows(0L) == batch(h0), s"hour 0: ${rows(0L)} vs ${batch(h0)}")
      assert(rows(1L) == batch(h1), s"hour 1: ${rows(1L)} vs ${batch(h1)}")
      // the planted hour-1 shift reads as a large H; hour 0 stays small
      assert(rows(1L)._5 > 13.8 && rows(0L)._5 < 13.8)
    } finally q.stop()
  }

  test("streaming W1 drift: per-close batch parity vs wasserstein1, shift read in units, late events drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600000000L
    def at(h: Long, i: Long): Long = h * hourUs + i * 1000L
    val rnd = new scala.util.Random(89)
    // frozen reference: values 0..9 roughly uniform
    val refValues = (0L to 9L)
    val refCounts = refValues.map(v => 10L + (v % 3))
    // hour 0 draws near the reference; hour 1 shifts up by ~20 points
    val h0 = (1 to 50).map(i => ("m", at(0L, i.toLong), rnd.nextInt(10).toLong))
    val h1 = (1 to 50).map(i => ("m", at(1L, i.toLong), 20L + rnd.nextInt(10)))
    val late = ("m", at(0L, 999L), 5L)
    val sentinel = ("m", at(2L, 0L), 1L)

    val input = MemoryStream[(String, Long, Long)]
    val out = Streams.w1DriftStream(input.toDS(), stepUs = hourUs,
      refValues = refValues, refCounts = refCounts)
    val q = out.toDF("series", "step", "n_step", "w1_num", "w1")
      .writeStream.outputMode("append").format("memory").queryName("w1drift").start()
    try {
      input.addData(h0: _*)
      q.processAllAvailable()
      input.addData(h1: _*) // closes hour 0
      q.processAllAvailable()
      input.addData(late, sentinel) // hour 0 closed -> late drops; close hour 1
      q.processAllAvailable()
      val rows = spark.table("w1drift").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      assert(rows.keySet == Set(0L, 1L), s"one emission per closed hour: ${rows.keySet}")
      // per-close batch parity: reference as the positive cohort, the
      // closed hour's values as the negative one
      def batch(evts: Seq[(String, Long, Long)]): (Long, Double, Double) = {
        val refRows = refValues.zip(refCounts).flatMap { case (v, c) =>
          Seq.fill(c.toInt)((v, true)) }
        val df = (refRows ++ evts.map(e => (e._3, false))).toDF("v", "p")
        val r = graft.operators.Eval.wasserstein1(df, col("v"), col("p"),
          bucketOf = v => shiftright(v, 2)).collect()(0)
        (r.getLong(1), r.getDouble(2), r.getDouble(3))
      }
      assert(rows(0L) == batch(h0), s"hour 0: ${rows(0L)} vs ${batch(h0)}")
      assert(rows(1L) == batch(h1), s"hour 1: ${rows(1L)} vs ${batch(h1)}")
      // W1 reads the planted ~20-point shift in UNITS; hour 0 stays small
      assert(rows(1L)._3 > 15.0 && rows(0L)._3 < 3.0)
    } finally q.stop()
  }

  test("streaming ADWIN: brute ADWIN0 parity, first alarm equals the batch scan, window drops the stale regime") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    def at(d: Long, i: Long): Long = d * dayUs + i * 1000L
    // per-day means: "a" runs at 200k for 18 days then jumps to 900k;
    // "b" stays flat. Three events per day so the open-sum floor works.
    def dayEvents(k: String, d: Long, mean: Long): Seq[(String, Long, Long)] =
      Seq((k, at(d, 1), mean - 1000L), (k, at(d, 2), mean),
        (k, at(d, 3), mean + 1001L)) // mean floor = mean (sum = 3*mean+1)
    val days = (1L to 34L)
    val meansA = days.map(d => d -> (if (d <= 18) 100000L + d * 13 else 950000L + d * 7)).toMap
    val meansB = days.map(d => d -> (500000L + d * 11)).toMap
    val evts = days.flatMap(d => dayEvents("a", d, meansA(d)) ++ dayEvents("b", d, meansB(d)))
    val sentinel = Seq(("a", at(35L, 0), 1L), ("b", at(35L, 0), 1L))

    // brute ADWIN0 replay over the closed-day means
    def lq(n: Long): Long = Math.round(math.log(4.0 * 20.0 * n.toDouble) * 1e6)
    def violates(win: Vector[(Long, Long)]): Boolean = {
      val n = win.length.toLong
      if (n < 2) return false
      val total = win.map(v => BigInt(v._2)).sum
      var s0 = BigInt(0)
      (1L until n).exists { i =>
        s0 += win(i.toInt - 1)._2
        val ds = s0 * (n - i) - (total - s0) * i
        2 * ds * ds >= BigInt(1000000L) * lq(n) * i * (n - i) * n
      }
    }
    def brute(means: Map[Long, Long]): Seq[(Long, Long, Long, Long, Option[Long])] = {
      var win = Vector.empty[(Long, Long)]
      var alarm: Option[Long] = None
      days.map { d =>
        win = win :+ ((d, means(d)))
        var shrunk = 0L
        while (violates(win)) { win = win.tail; shrunk = 1L }
        if (alarm.isEmpty && shrunk == 1L) alarm = Some(d)
        (d, win.length.toLong, (win.map(x => BigInt(x._2)).sum / win.length).toLong,
          shrunk, alarm)
      }
    }

    val input = MemoryStream[(String, Long, Long)]
    val out = Streams.adwinStream(input.toDS(), stepUs = dayUs)
    val q = out.toDF("k", "step", "window_n", "mean_micro", "shrunk", "alarm_step")
      .writeStream.outputMode("append").format("memory").queryName("adwin").start()
    try {
      input.addData(evts: _*)
      q.processAllAvailable()
      input.addData(sentinel: _*) // closes day 30 for both keys
      q.processAllAvailable()
      val rows = spark.table("adwin").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
      for (k <- Seq("a", "b")) {
        val want = brute(if (k == "a") meansA else meansB)
        want.foreach { case (d, wn, wm, sh, al) =>
          assert(rows((k, d)) == ((wn, wm, sh, al)), s"$k day $d: ${rows((k, d))} vs ${(wn, wm, sh, al)}")
        }
      }
      // the jump at day 19 alarms shortly after; the window dropped the
      // stale regime (window_n well below the closed-day count)
      val aAlarm = rows(("a", 34L))._4.get
      assert(aAlarm >= 19L && aAlarm <= 31L, s"alarm day $aAlarm")
      assert(rows(("a", 34L))._1 <= 34L - 10L, "stale regime dropped")
      // flat key: never shrinks, window = all closed days
      assert(rows(("b", 34L))._4.isEmpty && rows(("b", 34L))._1 == 34L)
      // first alarm == the batch scan's first violating prefix on the
      // same closed-day mean series
      val scan = graft.operators.Anomaly.hoeffdingSplitScan(
        days.map(d => ("a", d, meansA(d))).toDF("g", "t", "y"), "g",
        col("t"), col("y")).collect()(0)
      assert(scan.getLong(3) == aAlarm, s"batch ${scan.getLong(3)} vs stream $aAlarm")
    } finally q.stop()
  }

  test("cardinalityStream: every close bit-equals the batch bitmap estimate over all closed values; saturation reported") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    def at(d: Long, i: Long): Long = d * dayUs + i * 1000L
    val days = (1L to 6L)
    // growing distinct-user universe per day; repeats inside a day
    val evts = days.flatMap { d =>
      (1 to 80).map(i => ("t", at(d, i.toLong), s"u${(d * 37 + i * 7) % (d * 60)}"))
    }
    val sentinel = Seq(("t", at(7L, 0), "u0"))
    val m = 256
    val input = MemoryStream[(String, Long, String)]
    val out = Streams.cardinalityStream(input.toDS(), stepUs = dayUs, m = m)
    val q = out.toDF("k", "step", "bits", "est", "sat")
      .writeStream.outputMode("append").format("memory").queryName("card").start()
    try {
      input.addData(evts: _*); q.processAllAvailable()
      input.addData(sentinel: _*); q.processAllAvailable()
      val rows = spark.table("card").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getBoolean(4)))).toMap
      for (d <- days) {
        val closed = evts.filter(_._2 < at(d + 1, 0)).map(e => ("t", e._3))
        val batch = graft.operators.CardinalitySketch.estimates(
            graft.operators.CardinalitySketch.groupBitmaps(
              closed.toDF("g", "u"), "g", "u", m = m), "g", m = m)
          .collect()(0)
        val want = (batch.getLong(1),
          if (batch.isNullAt(2)) None else Some(batch.getLong(2)),
          batch.getBoolean(3))
        assert(rows(d) == want, s"day $d: ${rows(d)} vs $want")
      }
      // the monitor is monotone in bits and never saturates at this m
      assert(days.map(rows(_)._1).sliding(2).forall(p => p.head <= p.last))
      assert(days.forall(!rows(_)._3))
    } finally q.stop()
  }

  test("cardinalityAutoStream: every close bit-equals the batch leveled lifecycle; the level climbs live as the universe grows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    def at(d: Long, i: Long): Long = d * dayUs + i * 1000L
    val days = (1L to 6L)
    // universe grows fast so the canonical level must CLIMB across closes
    val evts = days.flatMap { d =>
      (1 to 120).map(i => ("t", at(d, i.toLong), s"u${(d * d * 31 + i) % (d * d * 25)}"))
    }
    val sentinel = Seq(("t", at(7L, 0), "u0"))
    val (m, maxLevel) = (16, 3)
    val input = MemoryStream[(String, Long, String)]
    val out = Streams.cardinalityAutoStream(input.toDS(), stepUs = dayUs,
      m = m, maxLevel = maxLevel)
    val q = out.toDF("k", "step", "level", "bits", "est", "sat")
      .writeStream.outputMode("append").format("memory").queryName("cauto").start()
    try {
      input.addData(evts: _*); q.processAllAvailable()
      input.addData(sentinel: _*); q.processAllAvailable()
      val rows = spark.table("cauto").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getBoolean(5)))).toMap
      for (d <- days) {
        val closed = evts.filter(_._2 < at(d + 1, 0)).map(e => ("t", e._3))
        val batch = graft.operators.CardinalitySketch.estimatesLeveled(
            graft.operators.CardinalitySketch.groupBitmapsAuto(
              closed.toDF("g", "u"), "g", "u", m = m, maxLevel = maxLevel),
            "g", m = m)
          .collect()(0)
        val want = (batch.getLong(1), batch.getLong(2),
          if (batch.isNullAt(3)) None else Some(batch.getLong(3)),
          batch.getBoolean(4))
        assert(rows(d) == want, s"day $d: ${rows(d)} vs $want")
      }
      // the level is monotone non-decreasing and genuinely climbs on
      // this growth curve (day 1: 25 keys; day 6: 900 keys)
      val levels = days.map(rows(_)._1)
      assert(levels.sliding(2).forall(p => p.head <= p.last), s"$levels")
      assert(levels.last > levels.head, s"level never climbed: $levels")
    } finally q.stop()
  }

  test("hitterStream: exact-regime closes bit-equal the batch summary top-k; approximate brackets hold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    def at(d: Long, i: Long): Long = d * dayUs + i * 1000L
    val rnd = new scala.util.Random(29)
    val days = (1L to 8L)
    // skewed item draws; ~20 distinct items
    val evts = days.flatMap { d =>
      (1 to 60).map(i => ("t", at(d, i.toLong),
        s"w${(math.sqrt(rnd.nextInt(400).toDouble)).toInt}"))
    }
    val sentinel = Seq(("t", at(9L, 0), "w0"))
    def run(name: String, cap: Int): Map[(Long, Long), (String, Long, Long)] = {
      val input = MemoryStream[(String, Long, String)]
      val out = Streams.hitterStream(input.toDS(), stepUs = dayUs, cap = cap, k = 3)
      val q = out.toDF("k", "step", "rank", "item", "lo", "up")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        input.addData(evts: _*); q.processAllAvailable()
        input.addData(sentinel: _*); q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getLong(1), r.getLong(2)) ->
            ((r.getString(3), r.getLong(4), r.getLong(5)))).toMap
      } finally q.stop()
    }
    // exact regime: cap 64 >= cumulative distinct — every close must
    // bit-equal the batch summary's top-k over all closed values
    val exact = run("hit_exact", 64)
    for (d <- days) {
      val closed = evts.filter(_._2 < at(d + 1, 0)).map(e => ("t", e._3))
      val batch = graft.operators.HitterSketch.topK(
          graft.operators.HitterSketch.groupHitters(
            closed.toDF("g", "w"), "g", "w", cap = 64), "g", k = 3)
        .collect().map(r => r.getLong(1) ->
          ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
      for (rk <- 1L to 3L)
        assert(exact((d, rk)) == batch(rk), s"day $d rank $rk: ${exact((d, rk))} vs ${batch(rk)}")
    }
    // approximate regime (cap 5 << distinct): brackets cover the truth
    val approx = run("hit_approx", 5)
    val trueCounts = evts.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    approx.filter(_._1._1 == days.last).foreach { case ((_, _), (w, lo, up)) =>
      val t = trueCounts(w)
      assert(lo <= t && t <= up, s"$w: true $t outside [$lo, $up]")
    }
    // the dominant item (the sqrt draw's mode) holds rank 1 at the end
    val wantTop = trueCounts.toSeq.maxBy { case (w, c) => (c, w) }._1
    assert(approx((days.last, 1L))._1 == wantTop)
  }

  test("quantileSketchStream: every close bit-equals the batch sketch over all closed values, state bounded by the cap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    def at(d: Long, i: Long): Long = d * dayUs + i * 1000L
    val rnd = new scala.util.Random(97)
    // wide-range values so the 16-bucket cap forces real coarsening as
    // days accumulate; two keys with different spreads
    val days = (1L to 12L)
    val evts = days.flatMap { d =>
      (1 to 40).map(i => ("w", at(d, i.toLong),
        math.abs(rnd.nextLong()) % (1L << (10 + d.toInt)))) ++
        (1 to 40).map(i => ("n", at(d, i.toLong), rnd.nextInt(50).toLong))
    }
    val sentinel = Seq(("w", at(13L, 0), 1L), ("n", at(13L, 0), 1L))
    val cap = 16
    val input = MemoryStream[(String, Long, Long)]
    val out = Streams.quantileSketchStream(input.toDS(), stepUs = dayUs,
      cap = cap, percents = Seq(50, 90, 99))
    val q = out.toDF("k", "step", "n", "lvl", "qs")
      .writeStream.outputMode("append").format("memory").queryName("qsk").start()
    try {
      input.addData(evts: _*); q.processAllAvailable()
      input.addData(sentinel: _*); q.processAllAvailable()
      val rows = spark.table("qsk").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getInt(3), r.getSeq[Long](4).toList))).toMap
      // per close: bit-equality with the batch sketch rebuilt over ALL
      // values closed so far (the merge == rebuild property, live)
      for (key <- Seq("w", "n"); d <- days) {
        val closed = evts.filter(e => e._1 == key && e._2 < at(d + 1, 0))
          .map(e => (key, e._3))
        val sk = graft.operators.QuantileSketch.groupSketches(
          closed.toDF("g", "v"), "g", col("v"), cap = cap)
        val kBatch = sk.select(max(col("k"))).collect()(0).getInt(0)
        val qBatch = graft.operators.QuantileSketch.quantiles(
            sk, "g", Seq(50, 90, 99)).collect()
          .map(r => r.getInt(1) -> r.getLong(2)).toMap
        val (n, lvl, qs) = rows((key, d))
        assert(n == closed.size.toLong, s"$key day $d n")
        assert(lvl == kBatch, s"$key day $d level $lvl vs $kBatch")
        assert(qs == List(qBatch(50), qBatch(90), qBatch(99)),
          s"$key day $d: $qs vs $qBatch")
      }
      // narrow key never coarsens (50 distinct values > cap=16 -> it DOES
      // coarsen; assert only the bound); wide key provably coarsened
      assert(rows(("w", 12L))._2 > 0, "wide key must coarsen")
      // bounded state: every emission's sketch fits the cap by construction
      // (read back through the batch equality above); spot-check level sanity
      assert(rows(("w", 12L))._2 <= 63 && rows(("n", 12L))._2 <= 63)
    } finally q.stop()
  }

  test("adwinStream maxSteps horizon: bit-equal under the cap, flat-series state bounded, age-out never alarms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    def at(d: Long, i: Long): Long = d * dayUs + i * 1000L
    def dayEvents(k: String, d: Long, mean: Long): Seq[(String, Long, Long)] =
      Seq((k, at(d, 1), mean - 1000L), (k, at(d, 2), mean),
        (k, at(d, 3), mean + 1001L))
    val days = (1L to 40L)
    val means = days.map(d => d -> (500000L + d % 5)).toMap // flat-ish: never shrinks
    val evts = days.flatMap(d => dayEvents("f", d, means(d)))
    val sentinel = Seq(("f", at(41L, 0), 1L))
    def run(name: String, maxSteps: Int): Map[Long, (Long, Long, Long, Option[Long])] = {
      val input = MemoryStream[(String, Long, Long)]
      val out = Streams.adwinStream(input.toDS(), stepUs = dayUs, maxSteps = maxSteps)
      val q = out.toDF("k", "step", "window_n", "mean_micro", "shrunk", "alarm_step")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        input.addData(evts: _*); q.processAllAvailable()
        input.addData(sentinel: _*); q.processAllAvailable()
        spark.table(name).collect().map(r => r.getLong(1) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
      } finally q.stop()
    }
    val uncapped = run("adwin_unc", 0)
    val wide = run("adwin_wide", 64)   // cap never binds on 40 days
    val tight = run("adwin_tight", 8)
    assert(wide == uncapped, "cap above the horizon must be bit-equal to uncapped")
    // flat series: the uncapped window grows forever; the cap bounds it
    assert(uncapped(40L)._1 == 40L)
    days.foreach { d =>
      val (wn, _, shrunk, alarm) = tight(d)
      assert(wn <= 8L, s"day $d window $wn exceeds the cap")
      assert(shrunk == 0L && alarm.isEmpty,
        s"age-out must not read as a Hoeffding shrink (day $d)")
    }
    // under the cap (first 8 days) the capped run is bit-equal too
    (1L to 8L).foreach(d => assert(tight(d) == uncapped(d)))
  }

  test("streaming Jonckheere drift: per-close batch parity, ordered trend flagged, state bounded to the open step") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600000000L
    def at(h: Long, i: Long): Long = h * hourUs + i * 1000L
    val rnd = new scala.util.Random(83)
    // hour 0: exchangeable dose groups 0..3; hour 1: value trends UP
    // with the group index. Different data per hour.
    def hourEvents(h: Long, slope: Long): Seq[(String, Long, Long, Long)] =
      (0L to 3L).flatMap { g =>
        (1 to 30).map(i => ("m", g, at(h, g * 40 + i),
          rnd.nextInt(8).toLong + slope * g)) }
    val h0 = hourEvents(0L, 0L)
    val h1 = hourEvents(1L, 3L)
    val sentinel = ("m", 0L, at(2L, 0L), 1L)

    val input = MemoryStream[(String, Long, Long, Long)]
    val out = Streams.jtDriftStream(input.toDS(), stepUs = hourUs)
    val q = out.toDF("series", "step", "n", "k_groups", "j2", "num2", "z", "z_tie")
      .writeStream.outputMode("append").format("memory").queryName("jtdrift").start()
    try {
      input.addData(h0: _*)
      q.processAllAvailable()
      input.addData(h1: _*) // closes hour 0
      q.processAllAvailable()
      input.addData(sentinel) // closes hour 1
      q.processAllAvailable()
      val rows = spark.table("jtdrift").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
      assert(rows.keySet == Set(0L, 1L))
      def batch(evts: Seq[(String, Long, Long, Long)]) = {
        val r = graft.operators.Eval.jonckheereTerpstra(
          evts.map(e => (e._2, e._4)).toDF("g", "v"), col("g"), col("v"),
          bucketOf = v => shiftright(v, 2)).collect()(0)
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))
      }
      assert(rows(0L) == batch(h0), s"hour 0: ${rows(0L)} vs ${batch(h0)}")
      assert(rows(1L) == batch(h1), s"hour 1: ${rows(1L)} vs ${batch(h1)}")
      // the planted ordered trend reads as a large positive z_tie
      assert(rows(1L)._6 > 8.0 && math.abs(rows(0L)._6) < 3.0)
    } finally q.stop()
  }

  test("streaming CUSUM maxSteps cap: verdict equals batch changepoint over the retained sliding window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    // 10 closed days, cap at 4: the last verdict must equal the batch
    // changepoint over ONLY the last 4 closed days (6,7,8,9). Strictly
    // increasing counts make each close's split_step advance, so the
    // final emission is the max-split_step row.
    def cnt(d: Long): Long = d + 1L
    val evts = (0L to 9L).map(d => ("a", d * dayUs, cnt(d))) :+
      (("a", 10L * dayUs, 1L)) // closes day 9
    val input = MemoryStream[(String, Long, Long)]
    val out = Streams.cusumStream(input.toDS(), stepUs = dayUs, maxSteps = 4)
    val q = out.toDF("g", "n_steps", "split_step", "split_i", "cusum",
        "mean_before_micro", "mean_after_micro")
      .writeStream.outputMode("append").format("memory").queryName("cusumcap").start()
    try {
      input.addData(evts: _*)
      q.processAllAvailable()
      val last = spark.table("cusumcap").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getLong(5), r.getLong(6)))
        .maxBy(_._2) // latest split_step emission
      val batch = graft.operators.Anomaly.cusumChangepoint(
          (6L to 9L).map(d => ("a", d, cnt(d))).toDF("g", "d", "y"),
          "g", col("d"), col("y"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getLong(5), r.getLong(6))).head
      assert(last == batch, s"windowed verdict: $last vs batch-on-window $batch")
      assert(last._1 == 4L, "state retains exactly maxSteps closed steps")
    } finally q.stop()
  }

  test("streaming Page-Hinkley: O(1) carried state, last emission equals batch on the closed slice, alarm latches once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 86400000000L
    def at(d: Long, i: Long): Long = d * dayUs + i * 1000L
    // per-day event counts: key a drifts up at day 8, key b stays flat.
    // MANY events per day — state must fold them into the open sum.
    def cnt(k: String, d: Long): Long =
      if (k == "b") 5L else if (d < 8L) 5L else 14L
    def dayEvents(k: String, d: Long): Seq[(String, Long, Long)] =
      (0L until cnt(k, d)).map(i => (k, at(d, i), 1L))
    val evts = (0L to 13L).flatMap(d => Seq("a", "b").flatMap(dayEvents(_, d))) ++
      Seq(("a", at(99L, 0L), 1L), ("b", at(99L, 0L), 1L)) // close day 13
    val (mu0, delta, lambda) = (5000000L, 500000L, 20000000L)

    val input = MemoryStream[(String, Long, Long)]
    val out = Streams.pageHinkleyStream(input.toDS(), stepUs = dayUs,
      mu0Micro = mu0, deltaMicro = delta, lambdaMicro = lambda)
    val q = out.toDF("g", "n_closed", "max_ph_micro", "alarm_i", "alarm_step",
        "ph_alarm_micro")
      .writeStream.outputMode("append").format("memory").queryName("ph").start()
    try {
      input.addData(evts: _*)
      q.processAllAvailable()
      val rows = spark.table("ph").collect()
        .map(r => (r.getString(0), r.getLong(1),
          (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long]),
            Option(r.get(5)).map(_.asInstanceOf[Long]))))
      // one emission per close: days 0..13 all close -> 14 per key
      val perKey = rows.groupBy(_._1)
      assert(perKey("a").length == 14 && perKey("b").length == 14)
      val last = perKey.view.mapValues(e => e.maxBy(_._2)._3).toMap
      // batch parity on the same closed slice
      val series = (for (k <- Seq("a", "b"); d <- 0L to 13L)
        yield (k, d, cnt(k, d))).toDF("g", "d", "y")
      val batch = graft.operators.Anomaly.pageHinkley(series, "g",
          col("d"), col("y"), mu0, delta, lambda)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long]),
            Option(r.get(5)).map(_.asInstanceOf[Long])))).toMap
      assert(last("a") == batch("a"), s"a: ${last("a")} vs ${batch("a")}")
      assert(last("b") == batch("b"), s"b: ${last("b")} vs ${batch("b")}")
      // drift fires once, shortly after day 8; flat series never fires
      assert(last("a")._3.exists(_ >= 8L) && last("b")._2.isEmpty)
      // the alarm LATCHES: every emission after the alarm carries the
      // same alarm triple (no re-fire)
      val aAfter = perKey("a").filter(e => e._3._2.nonEmpty).map(_._3)
      assert(aAfter.map(t => (t._2, t._3, t._4)).distinct.size == 1)
    } finally q.stop()
  }

  test("streaming split routing: exact re-crawl follows its cluster's split, novel content hashes its own id, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val twin = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (1L, twin),
      (2L, twin + " extra"),
      (3L, "completely different text about spark partitions and shuffles")
    ).toDF("doc_id", "text")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val model = graft.operators.Sampling.clusterFingerprintModel(
        corpus, "doc_id", "text", shingleLen = 3, threshold = 0.3)
      .localCheckpoint(eager = true)
    val batchSplit = graft.operators.Sampling.leakageSafeSplit(
        corpus, "doc_id", "text", splits, shingleLen = 3, threshold = 0.3)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val out = Streams.splitRoutingStream(docs, "doc_id", "text", model, splits)
      .select(col("doc_id"), col("representative"), col("split"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("splitroute").start()
    try {
      input.addData(
        (100L, twin),              // exact re-crawl of doc 1 -> cluster rep 1
        (101L, "THE  Quick  BROWN fox jumps over the lazy dog again and  again"), // normalize-dup of 1
        (102L, "a brand new document the model has never seen before"))
      q.processAllAvailable()
      val rows = spark.table("splitroute").collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getString(2)))).toMap
      // exact (and normalize-equal) re-crawls route by doc 1's cluster split
      assert(rows(100L) == ((Some(1L), batchSplit(1L))), s"${rows(100L)}")
      assert(rows(101L) == ((Some(1L), batchSplit(1L))), s"${rows(101L)}")
      // novel content: no representative; split = assignSplit on its own id
      val soloSplit = graft.operators.Sampling.assignSplit(
          Seq(102L).toDF("doc_id"), "doc_id", splits)
        .collect().head.getString(1)
      assert(rows(102L) == ((None, soloSplit)), s"${rows(102L)}")
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }.isEmpty)
    } finally q.stop()
  }

  test("streaming content-defined chunking: batch-identical chunks, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = (1 to 90).map(i => s"tok${i % 23}y$i").mkString(" ")
    val batch = graft.operators.Chunking.contentDefinedChunks(
        Seq((5L, text)).toDF("doc_id", "text"), "doc_id", "text", divisor = 8)
      .collect().map(r => (r.getLong(1), r.getString(3))).sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = Streams.chunkStream(docs, "doc_id", "text", divisor = 8)
      .writeStream.outputMode("append").format("memory").queryName("chunks").start()
    try {
      input.addData((5L, text))
      q.processAllAvailable()
      val got = spark.table("chunks").collect()
        .map(r => (r.getLong(1), r.getString(3))).sortBy(_._1).toSeq
      assert(got == batch && got.size >= 3)
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }.isEmpty)
    } finally q.stop()
  }

  test("streaming next-fit packing: open bin spans batches, matches batch operator on ordered feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, Long)] // (shard, id, seq, toks)
    val out = Streams.nextFitPackStream(input.toDS(), cap = 512L)
    val q = out.toDF("shard", "id", "toks", "bin_id", "bin_fill").writeStream
      .outputMode("append").format("memory").queryName("nfp").start()
    try {
      input.addData((0L, 1L, 1L, 300L), (0L, 2L, 2L, 200L), (1L, 6L, 1L, 512L))
      q.processAllAvailable()
      // shard 0's bin 0 is at 500 and stays OPEN across the boundary:
      // a 10-token doc still fits; the next 100 seals it and opens bin 1
      input.addData((0L, 3L, 3L, 10L), (0L, 4L, 4L, 100L), (1L, 7L, 2L, 1L))
      q.processAllAvailable()
      val got = spark.table("nfp").collect()
        .map(r => (r.getLong(1), (r.getLong(3), r.getLong(4)))).toMap
      assert(got(1L) == ((0L, 300L)) && got(2L) == ((0L, 500L)))
      assert(got(3L) == ((0L, 510L)), "open bin must keep filling across batches")
      assert(got(4L) == ((1L, 100L)))
      assert(got(6L) == ((0L, 512L)) && got(7L) == ((1L, 1L)))
      // ordered single-batch feed == batch operator
      val batch = graft.operators.Packing.nextFitPack(
          Seq((0L, 1L, 300L), (0L, 2L, 200L), (0L, 3L, 10L), (0L, 4L, 100L),
            (1L, 6L, 512L), (1L, 7L, 1L)).toDF("shard", "id", "toks"),
          "shard", "id", "id", "toks", cap = 512L)
        .collect().map(r => (r.getLong(1), (r.getLong(3), r.getLong(4)))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming recrawl suppression: one-long state, clock resets across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)] // (fp, id, ts_us)
    val out = Streams.recrawlSuppressStream(input.toDS(), ttlMicros = 10L)
    val q = out.toDF("fp", "id", "ts", "kept").writeStream
      .outputMode("append").format("memory").queryName("rc").start()
    try {
      input.addData(("a", 1L, 0L), ("a", 2L, 5L)) // 0 kept, 5 suppressed
      q.processAllAvailable()
      input.addData(("a", 3L, 10L), ("a", 4L, 14L)) // 10 re-admits + resets, 14 suppressed
      q.processAllAvailable()
      input.addData(("a", 5L, 20L), ("b", 6L, 7L)) // 20 kept; new fp kept
      q.processAllAvailable()
      val got = spark.table("rc").collect()
        .map(r => (r.getLong(1), r.getBoolean(3))).toMap
      assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false,
        5L -> true, 6L -> true))
      // ordered-arrival feed == batch operator over the same log
      val batch = graft.operators.Recrawl.suppress(
          Seq(("a", 1L, 0L), ("a", 2L, 5L), ("a", 3L, 10L), ("a", 4L, 14L),
            ("a", 5L, 20L), ("b", 6L, 7L)).toDF("fp", "crawl_id", "ts_us"),
          "fp", "crawl_id", "ts_us", 10L)
        .collect().map(r => (r.getLong(1), r.getBoolean(3))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming decayed score: batch parity under any split, bounded state, late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stepU = 14400000000L
    // (key, step, qv) — key 1 spans the horizon edge across two batches,
    // key 2 receives a LATE in-horizon event after its frontier advanced
    val all = Seq(
      (1L, 100L, 250L), (1L, 99L, 199L), (1L, 80L, 100L), (1L, 79L, 7L),
      (2L, 95L, 10L), (2L, 100L, 20L), (2L, 98L, 5L))
    val input = MemoryStream[(Long, Long, Long)]
    val out = Streams.decayedScoreStream(input.toDS(), horizonSteps = 20)
    val q = out.toDF("k", "score", "n_live", "ref").writeStream
      .outputMode("update").format("memory").queryName("dec").start()
    try {
      input.addData(all.take(4): _*) // key 1 whole, incl. the expired event
      q.processAllAvailable()
      input.addData((2L, 95L, 10L), (2L, 100L, 20L))
      q.processAllAvailable()
      input.addData((2L, 98L, 5L)) // late: inside horizon, folds in exactly
      q.processAllAvailable()
      // last emission per key == batch decayedScore(refPerKey = true) over
      // everything ingested — the merge is commutative/associative, so the
      // batch split cannot change the converged answer
      val events = all.toDF("user_id", "step", "qv")
        .select(col("user_id"),
          timestamp_micros(col("step") * stepU).as("ts"),
          col("qv").cast("double").as("value"))
      val expect = graft.operators.Decay.decayedScore(events, "user_id", "ts",
          "value", halfLifeHours = 4, horizonSteps = 20, valueScale = 1L,
          refPerKey = true)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val got = spark.table("dec").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toSet
      // the converged (all-events) value was emitted for both keys
      assert(got.contains((1L, expect(1L))))
      assert(got.contains((2L, expect(2L))))
      // key 1's expired step was pruned: score/n_live exclude the age-21
      // event entirely (n_live 3 of 4 ingested)
      assert(expect(1L)._2 == 3L && got.contains((1L, expect(1L))))
    } finally q.stop()
  }

  test("ewmaChartStream: in-order feed reproduces the batch control chart flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stepU = 14400000000L
    // (user, id, step, qv): constant history then a spike for user 2
    val rows: Seq[(Long, Long, Long, Long)] =
      (100L to 104L).zipWithIndex.map { case (st, i) => (1L, i.toLong, st, 1000L) } ++
      Seq((1L, 50L, 105L, 1000L)) ++
      (100L to 104L).zipWithIndex.map { case (st, i) => (2L, 100L + i, st, 1000L) } ++
      Seq((2L, 150L, 105L, 9900L))
    val input = MemoryStream[(Long, Long, Long, Long)]
    val out = Streams.ewmaChartStream(input.toDS())
    val q = out.toDF("k", "id", "step", "qv", "n_prior", "flag").writeStream
      .outputMode("update").format("memory").queryName("ewma").start()
    try {
      // two batches, each in step order — an in-order feed
      input.addData(rows.filter(_._3 <= 102L): _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._3 > 102L): _*)
      q.processAllAvailable()
      val got = spark.table("ewma").collect()
        .map(r => r.getLong(1) -> (r.getLong(4), r.getBoolean(5))).toMap
      val events = rows.toDF("user_id", "event_id", "step", "qv")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(col("step") * stepU + 7L).as("ts"),
          (col("qv").cast("double") / 100.0).as("value"))
      val expect = graft.operators.Decay.ewmaControlChart(
          events, "user_id", "ts", "value", "event_id")
        .collect().map(r => r.getLong(1) -> (r.getLong(4), r.getBoolean(5))).toMap
      assert(got == expect, s"stream flags diverged from batch: $got vs $expect")
      assert(got(150L)._2 && !got(50L)._2)
    } finally q.stop()
  }

  test("blocklistStream: stateless matching runs per micro-batch, equals the batch matcher") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val phrases = Seq("hash join", "table scan")
    val out = Streams.blocklistStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", phrases)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("blk").start()
    try {
      input.addData((1L, "the hash join wins"), (2L, "no match here"))
      q.processAllAvailable()
      input.addData((3L, "full table scan and hash join"))
      q.processAllAvailable()
      val got = spark.table("blk").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "hash join"), (3L, "hash join"), (3L, "table scan")))
    } finally q.stop()
  }

  test("psiDriftStream: frozen-bin windows reproduce the batch micro-nat terms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // frozen model: 3 bins, edges 10/20, balanced reference 100/100/100
    val edges = Seq(10L, 20L)
    val refCounts = Seq(100L, 100L, 100L)
    val input = MemoryStream[(Long, Long)] // (us, v)
    val out = Streams.psiDriftStream(
      input.toDF().toDF("us", "v").withColumn("ts", timestamp_micros(col("us"))),
      "v", "ts", edges, refCounts, windowDur = "10 seconds", delay = "0 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("psi").start()
    try {
      // window [0,10s): values 5, 15, 25, 25 -> bins 1,2,3,3
      input.addData((1000000L, 5L), (2000000L, 15L), (3000000L, 25L), (4000000L, 25L))
      q.processAllAvailable()
      // advance the watermark past the first window
      input.addData((15000000L, 5L))
      q.processAllAvailable()
      val rows = spark.table("psi").collect()
        .map(r => (r.getLong(2), r.getLong(3)))
      assert(rows.length == 1, s"exactly the finalized window: ${rows.toSeq}")
      val (tt, psi) = rows.head
      assert(tt == 4L)
      // replicate the batch term arithmetic: counts (1,1,2), ref 100 each
      def term(rn: Long, tn: Long): Long = {
        val pa = (rn + 1).toDouble / 303.0
        val pb = (tn + 1).toDouble / 7.0
        math.round(1e6 * ((pa - pb) * math.log(pa / pb)))
      }
      assert(psi == term(100L, 1L) + term(100L, 1L) + term(100L, 2L))
    } finally q.stop()
  }

  test("streaming transitions: seq order within a batch, carried state across the boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)] // (key, seq, state)
    val out = Streams.transitionStream(input.toDS())
    val q = out.toDF("k", "seq", "from", "to").writeStream
      .outputMode("append").format("memory").queryName("tr").start()
    try {
      input.addData((1L, 1L, "A"), (1L, 2L, "B"), (2L, 1L, "X"))
      q.processAllAvailable()
      input.addData((1L, 3L, "C"), (2L, 2L, "X"))
      q.processAllAvailable()
      val rows = spark.table("tr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
      // key 2's first event emits nothing; the batch-2 boundary transition
      // (B -> C) uses the carried state — identical to the batch operator
      // on the concatenation
      assert(rows == Set(
        (1L, 2L, "A", "B"), (1L, 3L, "B", "C"), (2L, 2L, "X", "X")))
      val batchRows = graft.operators.Markov.transitionMatrix(
          Seq((1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "C"), (2L, 1L, "X"), (2L, 2L, "X"))
            .toDF("k", "seq", "st"),
          col("k"), col("st"), Seq(col("seq")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val streamCounts = rows.toSeq.groupBy(t => (t._3, t._4))
        .map { case ((f, t), g) => (f, t, g.size.toLong) }.toSet
      assert(streamCounts == batchRows)
    } finally q.stop()
  }

  test("streaming triangle maintenance: per-batch increments fold to the from-scratch count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("tri_store").toString + "/edges"
    val outP = java.nio.file.Files.createTempDirectory("tri_out").toString + "/rows"
    val input = MemoryStream[(Long, Long)]
    val q = Streams.triangleMaintenanceStream(
      input.toDS().toDF("src", "dst"), store, outP).start()
    try {
      def total: Long = spark.read.parquet(outP)
        .agg(sum(col("new_triangles"))).collect()(0).getLong(0)
      def expected(edges: Seq[(Long, Long)]): Long =
        graft.operators.Graph.triangleCount(edges.toDF("src", "dst"), "src", "dst")
          .collect()(0).getAs[Long]("n_triangles")
      val b1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)) // one triangle
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(total == 1L && total == expected(b1))
      // batch 2 closes two more (2-4 completes 2-3-4; 1-4 completes 1-3-4
      // AND 1-2-4? no 2-4 and 1-4 + 1-2 => 1-2-4 too) and re-delivers 1-2
      val b2 = Seq((2L, 4L), (1L, 4L), (1L, 2L))
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(total == expected(b1 ++ b2))
      // batch 3: only re-deliveries — increment must be 0
      input.addData((1L, 2L), (3L, 1L))
      q.processAllAvailable()
      assert(total == expected(b1 ++ b2))
      val incs = spark.read.parquet(outP).orderBy(col("batch_id"))
        .collect().map(_.getLong(2)).toSeq
      assert(incs == Seq(1L, 3L, 0L))
    } finally q.stop()
  }

  test("ksDriftStream: frozen-grid windows reproduce the exact batch KS, one state op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // frozen model: grid 10/20/30 with reference cumulatives 2/5/10
    // (i.e. a reference sample of 10,10,20,20,20,30,30,30,30,30)
    val grid = Seq(10L, 20L, 30L)
    val refCum = Seq(2L, 5L, 10L)
    val input = MemoryStream[(Long, Long)] // (us, v)
    val out = Streams.ksDriftStream(
      input.toDF().toDF("us", "v").withColumn("ts", timestamp_micros(col("us"))),
      "v", "ts", grid, refCum, windowDur = "10 seconds", delay = "0 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("ksd").start()
    try {
      // window [0,10s): target 10,10,20,30 — all ON the grid, so the
      // grid-sampled sup equals the exact two-sample KS
      input.addData((1000000L, 10L), (2000000L, 10L), (3000000L, 20L), (4000000L, 30L))
      q.processAllAvailable()
      input.addData((15000000L, 10L)) // advance the watermark
      q.processAllAvailable()
      val rows = spark.table("ksd").collect()
        .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(rows.length == 1, s"exactly the finalized window: ${rows.toSeq}")
      val (tt, ksNum, ks) = rows.head
      assert(tt == 4L)
      // batch parity: ksTestExact over the materialized reference sample
      // and the same window contents
      val refSample = Seq(10L, 10L, 20L, 20L, 20L, 30L, 30L, 30L, 30L, 30L).toDF("v")
      val tgtSample = Seq(10L, 10L, 20L, 30L).toDF("v")
      val batch = graft.operators.Eval.ksTestExact(
          refSample, col("v"), tgtSample, col("v"), v => lit(0L))
        .collect().head
      assert(ksNum == batch.getAs[Long]("ks_num"), s"got $ksNum vs batch $batch")
      assert(ks == batch.getAs[Double]("ks"))
      assert(ksNum == 12L && ks == 0.3) // |2*4 - 2*10| = 12 over 40
      // exactly ONE stateful operator: the windowed aggregation — the
      // frozen reference contributes no state store
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val stateful = executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }
      // one stateful aggregation = exactly its Restore/Save pair
      assert(stateful.map(_.getClass.getSimpleName).sorted ==
        Seq("StateStoreRestoreExec", "StateStoreSaveExec"),
        s"expected one windowed-agg state pair, found: $stateful")
    } finally q.stop()
  }

  test("mwDriftStream: window AUC bit-matches batch mannWhitney on the union slice, one state op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // frozen model: values 10/20/30 with counts 2/3/5
    val refV = Seq(10L, 20L, 30L)
    val refC = Seq(2L, 3L, 5L)
    val input = MemoryStream[(Long, Long)]
    val out = Streams.mwDriftStream(
      input.toDF().toDF("us", "v").withColumn("ts", timestamp_micros(col("us"))),
      "v", "ts", refV, refC, windowDur = "10 seconds", delay = "0 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("mwd").start()
    try {
      // window [0,10s): 5, 20, 25, 35 — below / tie / between / above
      input.addData((1000000L, 5L), (2000000L, 20L), (3000000L, 25L), (4000000L, 35L))
      q.processAllAvailable()
      input.addData((15000000L, 30L)) // advance the watermark
      q.processAllAvailable()
      val rows = spark.table("mwd").collect()
        .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(rows.length == 1, s"exactly the finalized window: ${rows.toSeq}")
      val (n, u2, auc) = rows.head
      assert(n == 4L)
      // hand: 5 -> 0; 20 -> 2*2+3 = 7; 25 -> 2*5 = 10; 35 -> 2*10 = 20
      assert(u2 == 37L && auc == 37.0 / 80.0, s"got ($u2, $auc)")
      // batch parity: mannWhitney AUC over window(pos) ∪ reference(neg)
      val union = (Seq(5L, 20L, 25L, 35L).map((_, true)) ++
        refV.zip(refC).flatMap { case (v, c) => Seq.fill(c.toInt)((v, false)) })
        .toDF("v", "p")
      val batch = graft.operators.Eval.mannWhitney(union, col("v"), col("p"),
        v => shiftright(v, 3)).collect().head
      assert(auc == batch.getAs[Double]("auc"),
        s"stream $auc vs batch ${batch.getAs[Double]("auc")}")
      // exactly ONE stateful operator — the frozen model adds no state
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val stateful = executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }
      assert(stateful.map(_.getClass.getSimpleName).sorted ==
        Seq("StateStoreRestoreExec", "StateStoreSaveExec"),
        s"expected one windowed-agg state pair, found: $stateful")
    } finally q.stop()
  }

  test("benfordDriftStream: windows bit-match the batch chi-square terms, non-positives excluded, one state op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (us, v)
    val out = Streams.benfordDriftStream(
      input.toDF().toDF("us", "v").withColumn("ts", timestamp_micros(col("us"))),
      "v", "ts", windowDur = "10 seconds", delay = "0 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("bfd").start()
    try {
      // window [0,10s): digits 1×3 (1, 19, 1234), 9×1 (987), 3×1 (33);
      // 0 and -7 are excluded BEFORE the watermark
      val vals = Seq(1L, 19L, 1234L, 987L, 33L, 0L, -7L)
      input.addData(vals.zipWithIndex.map { case (v, i) =>
        ((i + 1) * 1000000L, v) })
      q.processAllAvailable()
      input.addData((15000000L, 5L)) // advance the watermark
      q.processAllAvailable()
      val rows = spark.table("bfd").collect()
      assert(rows.length == 1, s"exactly the finalized window: ${rows.toSeq}")
      val r = rows.head
      assert(r.getLong(2) == 5L, "n_rows excludes non-positives")
      val counts = (1 to 9).map(d => r.getLong(2 + d))
      assert(counts == Seq(3L, 0L, 1L, 0L, 0L, 0L, 0L, 0L, 1L))
      // batch parity: the same slice through benfordDeviation, terms
      // summed — bit-identical micro arithmetic
      val batch = graft.operators.Checks.benfordDeviation(
          vals.toDF("v"), col("v"))
        .agg(sum(col("term_micro"))).collect().head.getLong(0)
      assert(r.getLong(12) == batch,
        s"stream chi2_micro ${r.getLong(12)} vs batch $batch")
      // exactly ONE stateful operator: the windowed aggregation
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val stateful = executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }
      assert(stateful.map(_.getClass.getSimpleName).sorted ==
        Seq("StateStoreRestoreExec", "StateStoreSaveExec"),
        s"expected one windowed-agg state pair, found: $stateful")
    } finally q.stop()
  }

  test("keynessDriftStream: watched-term scores bit-match the batch operator, one state op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // frozen reference corpus: alpha=2, beta=1, total tokens=6
    val refText = "alpha alpha beta gamma gamma gamma"
    val terms = Seq("alpha", "beta")
    val refCounts = Seq(2L, 1L)
    val input = MemoryStream[(Long, String)] // (us, text)
    val out = Streams.keynessDriftStream(
      input.toDF().toDF("us", "text").withColumn("ts", timestamp_micros(col("us"))),
      "text", "ts", terms, refCounts, refTotal = 6L,
      windowDur = "10 seconds", delay = "0 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("keyd").start()
    try {
      // window [0,10s): "alpha beta beta" + "beta gamma" ->
      // alpha=1, beta=3, n_tgt=5
      input.addData((1000000L, "alpha beta beta"), (2000000L, "beta gamma"))
      q.processAllAvailable()
      input.addData((15000000L, "advance")) // move the watermark
      q.processAllAvailable()
      val rows = spark.table("keyd").collect()
        .map(r => (r.getString(2), (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(rows.keySet == Set("alpha", "beta"), s"got ${rows.keySet}")
      assert(rows("alpha")._1 == 1L && rows("beta")._1 == 3L)
      assert(rows("alpha")._2 == 5L)
      // batch parity: the SAME scores from Colloc.keyness on the frozen
      // reference corpus vs the window contents, restricted to the watch
      // list — bit-identical micro-nats, not approximately equal
      val batch = graft.operators.Colloc.keyness(
          Seq(refText).toDF("text"),
          Seq("alpha beta beta", "beta gamma").toDF("text"),
          "text", k = 100)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(rows("alpha")._3 == batch("alpha"))
      assert(rows("beta")._3 == batch("beta"))
      // direction: alpha faded (positive), beta surged (negative)
      assert(rows("alpha")._3 > 0 && rows("beta")._3 < 0)
      val executed = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val stateful = executed.collect {
        case p if p.getClass.getName.contains("StateStore") => p }
      // one stateful aggregation = exactly its Restore/Save pair
      assert(stateful.map(_.getClass.getSimpleName).sorted ==
        Seq("StateStoreRestoreExec", "StateStoreSaveExec"),
        s"expected one windowed-agg state pair, found: $stateful")
    } finally q.stop()
  }
}
