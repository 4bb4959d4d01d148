package graft.streaming

import graft.windows.WindowAssigner

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming twins of the batch operators.
  *
  * The reference's runtime is stream-only: watermarks flow in-band through
  * every operator (reference Local.scala:54-63, 126-129) and `FoldWindow`
  * emits a window when a watermark passes its end, dropping later elements
  * (Local.scala:214-226). Structured Streaming gives the same observable
  * semantics declaratively: `withWatermark` + windowed groupBy in Append
  * mode emits each window once finalized and drops late rows — the exact
  * behavior the reference hand-rolls, but with the state store, incremental
  * partial aggregation, and failure recovery handled by the engine
  * (SURVEY.md §2.3, §4.2). */
object Streams {

  /** Watermarked, windowed count per key — the reference's canonical
    * windowed word count (WordCountSpec.scala:9-17) as a streaming query.
    *
    * @param events    streaming DataFrame with columns (`tsCol`: timestamp,
    *                  `keyCol`: any)
    * @param assigner  tumbling/sliding/session assigner
    * @param delay     watermark delay (late-data cutoff, e.g. "10 seconds")
    */
  def windowedCounts(events: DataFrame, keyCol: String, tsCol: String,
                     assigner: WindowAssigner, delay: String): DataFrame = {
    events
      .withWatermark(tsCol, delay)
      .groupBy(assigner.onTimestamp(col(tsCol)).as("window"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"))
  }

  /** Watermarked calendar rollup: counts per (calendar bucket, key), where
    * the bucket is a UTC day/hour/minute truncation of event time — the
    * streaming twin of q50's facade date-part aggregation. A calendar
    * bucket IS a tumbling window (fixed width, aligned at the epoch), so
    * this goes through the same `window()` machinery watermarks understand:
    * append mode emits each (day, key) row once the watermark passes the
    * day's end, and the state store holds only open buckets. (Grouping on
    * a bare `date_trunc` column instead would leave the watermark unable to
    * bound state — the window form is the scale-safe formulation.) */
  def calendarRollup(events: DataFrame, keyCol: String, tsCol: String,
                     unit: String, delay: String): DataFrame = {
    val width = unit match {
      case "day"    => "1 day"
      case "hour"   => "1 hour"
      case "minute" => "1 minute"
      case other    => sys.error(s"calendarRollup unit must be day|hour|minute, got '$other'")
    }
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket_start"), col(keyCol), col("n"))
  }

  /** Sink a streaming frame to parquet micro-batch-by-micro-batch via
    * foreachBatch — the escape hatch for sinks Structured Streaming lacks
    * natively (upserts, JDBC, multi-table fanout): each batch arrives as a
    * plain batch DataFrame with its batch id for idempotence. */
  def foreachBatchParquetSink(df: DataFrame, path: String) =
    df.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      batch.write.mode("append").parquet(s"$path/batch_$batchId")
    }

  /** INCREMENTAL triangle maintenance over an EDGE STREAM — the streaming
    * graph story: the accumulated graph lives in a parquet store of
    * canonical (src < dst) edges; each micro-batch computes the number of
    * triangles its fresh edges create via
    * [[graft.operators.Graph.triangleIncrement]] (touching only the new
    * edges' neighborhoods — the old graph is scanned, never recounted),
    * appends the fresh edges to the store, and appends one
    * `(batch_id, n_fresh_edges, new_triangles)` row to `outDir`. Folding
    * the rows gives the live triangle count:
    * `T(everything so far) = Σ new_triangles` — the invariant the spec
    * checks against a from-scratch [[graft.operators.Graph
    * .triangleCount]] after every batch. foreachBatch is the right seam
    * because the increment needs the accumulated state as a TABLE (a
    * stream cannot self-join its own history); the store is the same
    * persisted-lifecycle pattern as the dedup index. Batch re-delivery
    * of known edges is a no-op (the increment's anti-join drops them). */
  def triangleMaintenanceStream(edges: DataFrame, storeDir: String,
                                outDir: String) =
    edges.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val canonB = batch
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .where(col("src") =!= col("dst")).distinct()
        val old = scala.util.Try(spark.read.parquet(storeDir))
          .getOrElse(canonB.limit(0))
        val fresh = canonB.join(old, Seq("src", "dst"), "left_anti")
          .localCheckpoint()
        val inc = graft.operators.Graph
          .triangleIncrement(old, fresh, "src", "dst").collect()(0)
        fresh.write.mode("append").parquet(storeDir)
        import spark.implicits._
        Seq((batchId, inc.getLong(1), inc.getLong(2)))
          .toDF("batch_id", "n_fresh_edges", "new_triangles")
          .write.mode("append").parquet(outDir)
        ()
    }

  /** Stream-stream interval join: left rows match right rows with the same
    * key whose event time falls in `[leftTs - before, leftTs + after]`.
    * Watermarks on BOTH sides bound the join state (SURVEY §2.4 "streaming
    * interval joins via time-bound conditions"); at scale, state per key is
    * limited to the interval width plus the watermark delay. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keyCol: String, leftTs: String, rightTs: String,
                   delay: String, before: String, after: String): DataFrame = {
    val l = left.withWatermark(leftTs, delay)
    val r = right.withWatermark(rightTs, delay)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $before") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $after"))
      .drop(r(keyCol)) // keep one key column so by-name references resolve
  }

  /** Streaming exact dedup: drop duplicate KEYS within the watermark
    * horizon (same-key events with different timestamps are duplicates
    * too — `dropDuplicatesWithinWatermark` keys the state on `keyCols`
    * alone and evicts entries as the watermark passes). The streaming twin
    * of [[graft.operators.Dedup.exact]]; state holds one entry per distinct
    * in-horizon key. */
  def dedupStream(events: DataFrame, tsCol: String, delay: String, keyCols: String*): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Streaming NEAR-duplicate dedup: key the watermark-bounded dedup state
    * on the document's MinHash signature instead of its exact bytes —
    * whitespace/case variants and near-identical rewrites of an in-horizon
    * document are dropped. Signature computation is the same narrow
    * expression pipeline as the batch operator
    * ([[graft.operators.Dedup.minHashSignatures]]), so it runs unchanged on
    * a streaming frame; state is one signature string per in-horizon doc. */
  def dedupStreamNearDup(docs: DataFrame, textCol: String, tsCol: String,
                         delay: String, shingleLen: Int = 3, k: Int = 16): DataFrame = {
    docs
      .withColumn("_sig", concat_ws("|",
        graft.operators.Dedup.minHashSignature(
          graft.functions.Text.fastWordShingles(col(textCol), shingleLen), k)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(Seq("_sig"))
      .drop("_sig")
  }

  /** Streaming DECONTAMINATION prefilter — the stream-side stage of the
    * batch pipeline behind
    * [[graft.operators.Dedup.crossCorpusOverlapBloom]]: a Bloom filter
    * built (in batch) over the eval/benchmark set's shingle keys flags
    * arriving documents that share at least `minShared` distinct shingles
    * with the benchmark union.
    *
    * Contract: a PREFILTER, not a verdict. No false negatives — a document
    * the batch pipeline would report as contaminated always carries every
    * one of its matching shingles past the filter (Bloom admits all true
    * members), so it is always flagged; false positives are fpp-bounded
    * per shingle and die in the downstream exact verify (batch, or a
    * stream-static join on the flagged sliver).
    *
    * Scale shape: completely STATELESS — the filter is a plan literal, the
    * per-doc candidate count is one codegen'd expression call
    * ([[graft.functions.catalyst.BloomCountContained]]), so there is no
    * state store, no watermark requirement, and the operator composes with
    * any downstream streaming stage. (The shingle-key array is built by a
    * `transform` lambda like [[dedupStreamNearDup]]'s signatures — per-row
    * narrow work in the scan stage.)
    *
    * Output: the flagged documents with their `n_candidate_shingles`. */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
                          bloom: graft.operators.BloomModel,
                          shingleLen: Int = 3, minShared: Int = 1): DataFrame = {
    val keys = transform(
      array_distinct(graft.functions.Text.fastWordShingles(col(textCol), shingleLen)),
      s => graft.operators.Dedup.shingleKey(s))
    docs
      .withColumn("n_candidate_shingles", bloom.countContained(keys))
      .where(col("n_candidate_shingles") >= minShared)
  }

  /** Bloom filters over a [[graft.operators.Dedup.dedupIndex]] for
    * [[incrementalDedupStream]]: one over the index's exact fingerprints,
    * one over its LSH band keys (both keyed through the 60-bit md5-prefix
    * long, [[graft.operators.Dedup.shingleKey]]). Rebuild after batch
    * index updates; at 10 bits/key the pair is ~10× smaller than
    * broadcasting the key sets themselves. */
  /** Stateless streaming twin of
    * [[graft.operators.Boilerplate.pruneHighDfTokens]]: the boilerplate
    * vocabulary is discovered ONCE batch-side ([[graft.operators.Boilerplate.highDfTokens]],
    * model-sized by the pigeonhole bound documented there) and rides the
    * plan as a literal array; arriving documents are pruned per-row with
    * zero state, zero shuffle, and the identical keep/drop decision and
    * reassembled text as the batch operator (spec-asserted parity).
    * Document-frequency drift in the stream does NOT update the
    * vocabulary — rebuild batch-side and restart the query, the same
    * lifecycle as the dedup-index blooms. */
  def pruneTokensStream(docs: DataFrame, textCol: String,
                        vocab: Seq[String]): DataFrame = {
    val toks = graft.functions.Text.tokens(col(textCol))
    val kept =
      if (vocab.isEmpty) toks
      else filter(toks, t => !array_contains(array(vocab.map(lit): _*), t))
    docs
      .withColumn("clean_text", array_join(kept, " "))
      .withColumn("n_kept", size(kept).cast("long"))
      .withColumn("n_dropped", (size(toks) - size(kept)).cast("long"))
  }

  /** Stateless streaming twin of
    * [[graft.operators.Boilerplate.shingleNovelty]]: the set of shingles
    * the corpus REPEATS ([[graft.operators.Boilerplate.sharedShingleKeys]],
    * df ≥ 2) is data-sized, so it rides as a batch-built Bloom (the
    * decontamination pattern), and an arriving document's novelty is
    * estimated per-row as the fraction of its distinct shingles NOT in
    * the filter. Error is one-sided in the conservative direction: a
    * false positive mistakes a novel shingle for a repeated one, so
    * `novelty_est` can only UNDER-estimate (by ≤ fpp in expectation) —
    * a diversity gate keeps nothing it shouldn't. For documents that are
    * members of the indexed corpus the estimate coincides with the batch
    * df=1 fraction (modulo fpp); for new documents it reads "novel vs
    * what the corpus repeats" — a shingle seen ONCE in the corpus still
    * counts novel. Zero state, zero shuffle. */
  def noveltyStream(docs: DataFrame, textCol: String,
                    sharedBloom: graft.operators.BloomModel,
                    shingleLen: Int = 3): DataFrame = {
    val keys = transform(
      array_distinct(graft.functions.Text.fastWordShingles(col(textCol), shingleLen)),
      s => graft.operators.Dedup.shingleKey(s))
    docs
      .withColumn("n_sh", size(keys).cast("long"))
      .withColumn("n_shared_est", sharedBloom.countContained(keys).cast("long"))
      .withColumn("novelty_est",
        (col("n_sh") - col("n_shared_est")).cast("double") / col("n_sh").cast("double"))
  }

  def dedupIndexBlooms(index: DataFrame, fpp: Double = 0.01)
      : (graft.operators.BloomModel, graft.operators.BloomModel) = {
    import graft.operators.{Bloom, Dedup}
    val fps = index.select(Dedup.shingleKey(col("fp")).as("key")).distinct()
      .localCheckpoint(eager = true)
    val bands = index.select(explode(col("bands")).as("b"))
      .select(Dedup.shingleKey(col("b")).as("key")).distinct()
      .localCheckpoint(eager = true)
    (Bloom.build(fps, "key", math.max(1L, fps.count()), fpp),
      Bloom.build(bands, "key", math.max(1L, bands.count()), fpp))
  }

  /** Streaming INCREMENTAL-DEDUP prefilter — the stream-side stage of
    * [[graft.operators.Dedup.incrementalDedup]]: arriving documents are
    * classified against the batch-built index WITHOUT state or joins.
    *
    * Adds two flags: `might_be_exact_dup` (the doc's fingerprint hits the
    * index fingerprint bloom) and `might_be_near_dup` (any of its MinHash
    * band keys — computed per-row, bit-identical to the index's bands —
    * hits the band bloom). Same contract as [[decontaminateStream]]: no
    * false negatives (a true index dup always flags), fpp-bounded false
    * positives confirmed by the batch classifier downstream. Stateless —
    * both filters ride the plan as literals, both probes are codegen'd
    * expression calls. */
  def incrementalDedupStream(docs: DataFrame, idCol: String, textCol: String,
                             fpBloom: graft.operators.BloomModel,
                             bandBloom: graft.operators.BloomModel,
                             shingleLen: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    import graft.operators.Dedup
    val fpKey = Dedup.shingleKey(graft.functions.Text.fingerprint(col(textCol)))
    val bandKeys = transform(
      Dedup.minHashBandKeysPerRow(col(textCol), shingleLen, k, bands),
      b => Dedup.shingleKey(b))
    docs
      .withColumn("might_be_exact_dup", fpBloom.mightContain(fpKey))
      .withColumn("might_be_near_dup", bandBloom.countContained(bandKeys) > 0)
  }

  /** Streaming temperature resampling: the per-row membership filter of
    * [[graft.operators.Sampling.temperatureResample]] applied to a stream,
    * with the rate table computed ON A BATCH SNAPSHOT
    * ([[graft.operators.Sampling.temperatureRates]]) and broadcast in —
    * rates are corpus statistics, which a stream cannot know ahead of its
    * own tail, so the batch-model/stream-apply split is the principled
    * decomposition (same as the dedup-index and decontamination blooms).
    * Stateless: a broadcast join plus one md5 threshold per row. */
  def temperatureResampleStream(docs: DataFrame, idCol: String, domainCol: String,
                                rates: DataFrame): DataFrame =
    graft.operators.Sampling.applyRates(docs, idCol, domainCol, rates)

  /** Streaming shard routing: the shard-assignment half of
    * [[graft.operators.Sampling.shuffleShard]] applied per arriving row —
    * the identical content-keyed assignment (spec-asserted), so a
    * streaming ingest routes docs into the same training shards a batch
    * job produces (e.g. `writeStream.partitionBy("shard")`). Stateless
    * narrow projection. In-shard `pos` is inherently a finalized-dataset
    * notion — a stream appends within its shard in arrival order, and the
    * batch [[graft.operators.Sampling.writeShards]] pass assigns
    * positions when the dataset is cut. */
  def assignShardsStream(docs: DataFrame, idCol: String, nShards: Int,
                         seed: String = "shuffle"): DataFrame =
    docs.withColumn("shard",
      graft.operators.Sampling.shardCol(col(idCol), nShards, seed))

  /** Streaming LEAKAGE-SAFE split routing — the stream-side stage of
    * [[graft.operators.Sampling.leakageSafeSplit]]: an arriving document
    * joins the batch-built
    * [[graft.operators.Sampling.clusterFingerprintModel]] on its content
    * fingerprint (a STATELESS stream-static left join); an exact match
    * routes by the matched cluster's representative — so a re-crawl of a
    * train-side document can never land in test — and novel content keys
    * the md5 CASE on its own id, exactly as [[graft.operators.Sampling.assignSplit]]
    * would. Near-dup-but-not-exact arrivals route by their own id until
    * the next batch model rebuild — the same model-staleness contract as
    * the dedup-index blooms ([[dedupIndexBlooms]]); the batch operator
    * remains the source of truth at each rebuild. Adds `representative`
    * (null for novel content) and `split`. */
  def splitRoutingStream(docs: DataFrame, idCol: String, textCol: String,
                         clusterFps: DataFrame,
                         splits: Seq[(String, Double)]): DataFrame = {
    Seq("_fp", "representative", "_route_key", "split").foreach(r =>
      require(!docs.columns.contains(r),
        s"input must not already contain column $r"))
    val keyed = docs
      .withColumn("_fp", graft.functions.Text.fingerprint(col(textCol)))
      .join(clusterFps.select(col("fp").as("_fp"), col("representative")),
        Seq("_fp"), "left")
      .withColumn("_route_key", coalesce(col("representative"), col(idCol)))
    graft.operators.Sampling.assignSplit(keyed, "_route_key", splits)
      .drop("_fp", "_route_key")
  }

  /** Streaming content-defined chunking — the batch operator
    * ([[graft.operators.Chunking.contentDefinedChunks]]) reused
    * VERBATIM: the chunker is one per-row column expression plus a
    * scan-stage explode (zero shuffle, zero state), so the same call
    * chunks an unbounded stream micro-batch by micro-batch with
    * bit-identical boundaries to the batch pass — arriving documents
    * fan out to their chunk rows (fingerprints ready for the
    * incremental-dedup prefilters) with no watermark needed. */
  def chunkStream(docs: DataFrame, idCol: String, textCol: String,
                  divisor: Int, shingleLen: Int = 3): DataFrame =
    graft.operators.Chunking.contentDefinedChunks(docs, idCol, textCol,
      divisor, shingleLen)

  /** Streaming SPAN-LEVEL contamination scoring — the stateless per-row
    * twin of [[graft.operators.Dedup.contaminationSpans]]: a Bloom filter
    * built (in batch) over the benchmark set's window keys scores each
    * arriving document's rolling `gramWords`-token windows entirely inside
    * one row — windows, membership, and interval-union coverage are
    * higher-order-function expressions over the token array, so there is
    * no state store, no watermark, no shuffle.
    *
    * Contract: an ADMISSION SCORE, not a verdict — Bloom false positives
    * can only OVERcount (`n_matched`/`covered_tokens` are fpp-bounded
    * overestimates; never under), so a threshold filter downstream admits
    * no doc the exact batch operator would flag clean... and the flagged
    * sliver can be exact-verified batch-side, the
    * [[confirmExactDupsStream]] decomposition. */
  def contaminationSpansStream(docs: DataFrame, idCol: String, textCol: String,
                               bloom: graft.operators.BloomModel,
                               gramWords: Int = 4): DataFrame = {
    val g = gramWords
    require(g >= 1, s"gramWords must be >= 1, got $g")
    val emptyWins = array().cast("array<struct<i:int,h:bigint>>")
    val wins = when(size(col("_toks")) >= g,
        filter(
          transform(sequence(lit(0), size(col("_toks")) - g),
            i => struct(i.as("i"),
              graft.operators.Dedup.shingleKey(
                array_join(slice(col("_toks"), i + 1, lit(g)), " ")).as("h"))),
          w => bloom.mightContain(w("h"))))
      .otherwise(emptyWins)
    docs
      .withColumn("_toks", graft.functions.Text.tokens(col(textCol)))
      .withColumn("_wins", wins)
      .withColumn("n_windows",
        greatest(size(col("_toks")) - g + 1, lit(0)).cast("long"))
      .withColumn("n_matched", size(col("_wins")).cast("long"))
      .withColumn("covered_tokens",
        size(array_distinct(flatten(
          transform(col("_wins"), w => sequence(w("i"), w("i") + g - 1))))).cast("long"))
      .withColumn("contamination",
        col("covered_tokens").cast("double") /
          greatest(size(col("_toks")), lit(1)).cast("double"))
      .drop("_toks", "_wins")
  }

  /** EXACT confirmation of [[incrementalDedupStream]]'s `might_be_exact_dup`
    * flag: a stream-static LEFT SEMI join of the (fpp-bounded) flagged
    * sliver against the index's true fingerprint set. Emits exactly the
    * docs whose normalized body already exists in the index — the bloom's
    * false positives die here, and the join is STILL stateless: the static
    * side builds a broadcast/hash relation per micro-batch, no state store,
    * no watermark. (The near-dup flag has no streaming exact stage — its
    * confirmation is a containment measure, which is the batch
    * classifier's job.) */
  def confirmExactDupsStream(flagged: DataFrame, textCol: String, index: DataFrame): DataFrame =
    flagged
      .withColumn("_fp", graft.functions.Text.fingerprint(col(textCol)))
      .join(index.select(col("fp").as("_fp")).distinct(), Seq("_fp"), "left_semi")
      .drop("_fp")

  /** Per-key buffers for [[asOfJoinStream]]: `lefts` await their emission
    * watermark; `rights` is the ascending (ts, value) match candidates. */
  private[streaming] case class AsOfBuf(lefts: Seq[(Long, Long)], rights: Seq[(Long, Long)])

  private[streaming] case class RateState(openHour: Long, openCnt: Long,
                                          closed: Seq[(Long, Long)])

  /** Stateful streaming twin of
    * [[graft.operators.Anomaly.hourlyRateAnomalies]]: per entity, the
    * open hour's count accumulates in state; when a LATER hour first
    * arrives, the open hour closes and is scored against the trailing
    * `window` closed hours with the IDENTICAL value-range prior and the
    * identical double arithmetic as the batch operator (JVM doubles and
    * `Math.sqrt` are the same IEEE operations Catalyst executes, so
    * flags agree exactly — spec-asserted). State per entity is bounded:
    * one open (hour, count) + at most `window` closed pairs, trimmed by
    * VALUE range on every close (a long-idle entity's stale hours fall
    * out of the trailing range, not out of a row budget).
    *
    * Contracts, documented like the funnel twin's: events are processed
    * in within-batch timestamp order; an event for an hour EARLIER than
    * the open hour (cross-batch late data) is dropped — its hour already
    * closed and scored; the final open hour never emits (no event after
    * it proves it closed).
    *
    * Emits `(key, hour, cnt, n_prior, is_anomaly)` per closed hour. */
  def rateAnomalyStream(events: Dataset[(Long, Long)], sigmas: Double = 3.0,
                        window: Int = 24, minPrior: Int = 6)
      : Dataset[(Long, Long, Long, Long, Boolean)] = {
    require(window >= 1 && minPrior >= 1 && sigmas > 0, "bad parameters")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[RateState, (Long, Long, Long, Long, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[RateState]) =>
          def score(h: Long, cnt: Long, closed: Seq[(Long, Long)])
              : (Long, Long, Long, Long, Boolean) = {
            val prior = closed.filter { case (ph, _) =>
              ph >= h - window && ph <= h - 1 }
            val n = prior.size.toLong
            if (n >= minPrior) {
              val s = prior.map(_._2).sum
              val ss = prior.map(p => p._2 * p._2).sum
              val mu = s.toDouble / n
              val variance = (ss - s.toDouble * s / n) / n
              val sigma = math.sqrt(math.max(variance, 0.0))
              (key, h, cnt, n, cnt > mu + sigmas * sigma)
            } else (key, h, cnt, n, false)
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Boolean)]
          var st = state.getOption.orNull
          it.toSeq.map(_._2).sorted.foreach { us =>
            val h = Math.floorDiv(us, 3600000000L)
            if (st == null) st = RateState(h, 1L, Nil)
            else if (h == st.openHour) st = st.copy(openCnt = st.openCnt + 1)
            else if (h > st.openHour) {
              out += score(st.openHour, st.openCnt, st.closed)
              val kept = ((st.openHour, st.openCnt) +: st.closed)
                .filter { case (ph, _) => ph >= h - window }
              st = RateState(h, 1L, kept)
            } // h < openHour: late for an already-closed hour — dropped
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming AS-OF join — the watermark-bounded twin of the batch engine's
    * native as-of operator ([[graft.plans.AsOfJoinExec]] semantics: for each
    * left event, the MOST RECENT right event with `rts <= lts` on the same
    * key; unmatched lefts emit None, like the batch left as-of).
    *
    * Structured Streaming has stream-stream interval joins but no as-of
    * (argmax-per-row) join, so this is custom state over the tagged union of
    * both sides via `flatMapGroupsWithState` + event-time timeouts:
    *
    *  - A left event cannot be finalized on arrival: an out-of-order right
    *    with a larger-but-still-`<= lts` timestamp may still arrive. It
    *    buffers until the watermark passes its timestamp (then every
    *    non-late future right is newer than it), exactly the reference's
    *    emit-on-watermark discipline for windows.
    *  - Right events buffer ascending. State is pruned at each invocation:
    *    everything at-or-below the watermark is dominated by the newest
    *    such right (the "floor" — the only candidate any future left can
    *    still match below the watermark), so state per key is one floor
    *    right + in-flight rows within the watermark horizon, never
    *    unbounded history.
    *  - Rows older than the watermark on arrival are dropped (late data),
    *    matching the declarative operators' behavior.
    *  - Emission rides event-time timeouts, so a buffered left flushes when
    *    the GLOBAL watermark advances even if its key never sees another
    *    row. Keys left with only a floor right are garbage-collected
    *    `retentionMs` past the watermark — an idle key older than that
    *    loses its floor (the state-boundedness trade, documented here).
    *
    * Input tuples: (key, ts_ms, value). Output: (key, left_ts_ms,
    * left_value, matched_right_value or None). */
  def asOfJoinStream(left: Dataset[(Long, Long, Long)],
                     right: Dataset[(Long, Long, Long)],
                     delay: String,
                     retentionMs: Long = 3600000L): Dataset[(Long, Long, Long, Option[Long])] = {
    import left.sparkSession.implicits._
    // the watermark column must flow INTO the stateful operator for
    // event-time timeouts to work, so `ets` rides along in the tuple
    val tagged = left.toDF("k", "ts", "v").withColumn("side", lit(0))
      .unionByName(right.toDF("k", "ts", "v").withColumn("side", lit(1)))
      .select(col("k"), timestamp_millis(col("ts")).as("ets"), col("ts"), col("v"), col("side"))
      .withWatermark("ets", delay)
      .as[(Long, java.sql.Timestamp, Long, Long, Int)]
    tagged
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsOfBuf, (Long, Long, Long, Option[Long])](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long, Int)], state: GroupState[AsOfBuf]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(AsOfBuf(Vector.empty, Vector.empty))
          // ingest, dropping late rows (event time already behind the watermark)
          val fresh = rows.filter(_._3 >= wm).toVector
          val lefts = (st.lefts ++ fresh.collect { case (_, _, ts, v, 0) => (ts, v) }).sortBy(_._1)
          val rights = (st.rights ++ fresh.collect { case (_, _, ts, v, 1) => (ts, v) }).sortBy(_._1)
          // finalize lefts the watermark has passed: newest right at-or-before
          val (due, pending) = lefts.partition(_._1 <= wm)
          val out = due.map { case (lts, lv) =>
            (key, lts, lv, rights.takeWhile(_._1 <= lts).lastOption.map(_._2))
          }
          // prune rights: the newest one at-or-below the watermark dominates
          // all earlier ones for every future (non-late) left
          val floor = rights.takeWhile(_._1 <= wm).lastOption
          val kept = floor.toSeq ++ rights.dropWhile(_._1 <= wm)
          // a key is GC'd when truly empty, or on a PURE retention wake
          // (timeout with nothing ingested and nothing emitted) — a timeout
          // that flushed lefts keeps its floor right for future lefts
          val idleWake = state.hasTimedOut && fresh.isEmpty && due.isEmpty
          if (pending.isEmpty && (kept.isEmpty || idleWake)) state.remove()
          else {
            state.update(AsOfBuf(pending, kept))
            // wake when the first pending left becomes due; otherwise keep
            // the floor around for `retentionMs` of watermark time, then GC
            val wake = pending.headOption.map(_._1).getOrElse(wm + retentionMs)
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
          }
          out.iterator
      }
  }

  /** Streaming per-key running aggregate via `flatMapGroupsWithState` — the
    * streaming form of the reference's `MapAccumulate` (SURVEY §2.1 #5):
    * genuinely stateful, one state entry per key in the state store.
    *
    * Input: (key, seq, value); rows are folded in `seq` order WITHIN each
    * micro-batch (group iterators arrive in shuffle order, which is not
    * deterministic — an explicit sequence column is what makes per-row
    * accumulator values reproducible). Output: (key, seq, value, acc). */
  def runningSumPerKey(events: Dataset[(Long, Long, Long)]): Dataset[(Long, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[Long]) =>
          var acc = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, v) =>
            acc += v; (key, seq, v, acc)
          }
          state.update(acc)
          out.iterator
      }
  }

  /** Per-key TRANSITION extraction — [[graft.operators.Markov]]'s
    * streaming twin: one tiny state per key (the last (seq, state)
    * pair), each arriving event emits its (from, to) transition in
    * Append mode. Within a micro-batch rows fold in explicit `seq` order
    * (the [[runningSumPerKey]] reproducibility rule — group iterators
    * arrive in shuffle order); across batches the carried state makes
    * the boundary transition come out identical to the batch operator
    * run on the concatenation, which is what the spec checks.
    * Aggregating the emitted transitions downstream gives the live
    * transition matrix. State per key: ONE (long, string) — bounded by
    * the key universe, no timeout.
    *
    * Input: (key, seq, state). Output: (key, seq, from, to). */
  def transitionStream(events: Dataset[(Long, Long, String)])
      : Dataset[(Long, Long, String, String)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String), (Long, Long, String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, String)],
         state: GroupState[(Long, String)]) =>
          var last = state.getOption
          val out = rows.toSeq.sortBy(_._2).flatMap { case (_, seq, st) =>
            val o = last.map { case (_, prev) => (key, seq, prev, st) }
            last = Some((seq, st))
            o
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming per-domain token-budget admission — the ONLINE variant of
    * [[graft.operators.Sampling.takeUntilBudget]]: arriving docs are
    * admitted while the domain's kept token total stays within `budget`,
    * a doc that would cross it is rejected, and SCANNING CONTINUES
    * (later smaller docs still fit) — the same skip-and-continue
    * transition, folded in (seq, id) order WITHIN each micro-batch (like
    * [[runningSumPerKey]]: group iterators arrive in shuffle order, so
    * the explicit sequence is what makes per-batch folds reproducible —
    * but rows of different micro-batches fold in ARRIVAL order, so the
    * admitted set depends on the batch split; online admission is
    * inherently arrival-ordered). The batch operator ranks by quality
    * because a finalized pool can be sorted; a stream cannot see its
    * tail — that is the semantic difference, not an approximation. State
    * per domain: ONE long (the kept total), no timeout — bounded by the
    * domain count, not the stream.
    *
    * Input: (domain, id, seq, tokens). Output: (domain, id, tokens, kept)
    * in fold order. */
  def tokenBudgetStream(docs: Dataset[(String, Long, Long, Long)],
                        budget: Long): Dataset[(String, Long, Long, Boolean)] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (domain: String, rows: Iterator[(String, Long, Long, Long)], state: GroupState[Long]) =>
          var total = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._3, r._2)).map { case (_, id, _, tok) =>
            val keep = total + tok <= budget
            if (keep) total += tok
            (domain, id, tok, keep)
          }
          state.update(total)
          out.iterator
      }
  }

  /** Streaming twin of [[graft.operators.Cdc.latestState]]: per-key
    * latest-wins state across micro-batches. Each trigger emits the
    * current winner of every key it touched (Update semantics — a CDC
    * state table, not an append log). Max-merge by (seq, tie) is
    * commutative, associative, and idempotent, so the converged state is
    * independent of how the changelog splits into batches — the strongest
    * batch-parity property any twin here has (admission/accumulator twins
    * are arrival-ordered by nature; this one is not). State per key: one
    * row — bounded by key count, no timeout.
    *
    * Input/output: (key, seq, tie, op, value); op "D" rides the state like
    * any other change so a late pre-delete update cannot resurrect the
    * key — downstream filters op at read time, exactly like
    * [[graft.operators.Cdc.merge]]. */
  def cdcLatestStream(changes: Dataset[(Long, Long, Long, String, String)])
      : Dataset[(Long, Long, Long, String, String)] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, String, String),
                              (Long, Long, Long, String, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long, Long, String, String)],
         state: GroupState[(Long, Long, Long, String, String)]) =>
          val best = (rows ++ state.getOption.iterator)
            .maxBy(r => (r._2, r._3))
          state.update(best)
          Iterator.single(best)
      }
  }

  /** Streaming twin of [[graft.operators.Packing.nextFitPack]]: online
    * per-shard next-fit bin assignment — the ingest side of q134's batch
    * assembly (documents stream in, each shard's worker appends to its
    * current bin and seals it when full). State per shard is TWO longs
    * `(bin, fill)` — bounded by the shard count, not the stream. Within
    * a micro-batch rows fold in `(seq, id)` order; across batches in
    * ARRIVAL order (the admission-twin contract of
    * [[tokenBudgetStream]]) — a bin left open at a batch boundary keeps
    * filling in the next batch, exactly like the worker it models.
    *
    * Input: (shard, id, seq, tokens). Output: (shard, id, tokens,
    * bin_id, bin_fill-after-placing). */
  def nextFitPackStream(rows: Dataset[(Long, Long, Long, Long)], cap: Long)
      : Dataset[(Long, Long, Long, Long, Long)] = {
    require(cap > 0, s"cap must be positive, got $cap")
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[(Long, Long, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var (bin, fill) = state.getOption.getOrElse((0L, 0L))
          val out = it.toSeq.sortBy(r => (r._3, r._2)).map { case (_, id, _, t) =>
            if (fill > 0L && fill + t > cap) { bin += 1L; fill = 0L }
            fill += t
            (shard, id, t, bin, fill)
          }
          state.update((bin, fill))
          out.iterator
      }
  }

  /** Streaming twin of [[graft.operators.Recrawl.suppress]]: online TTL
    * re-crawl admission. State per fingerprint is ONE long — the last
    * KEPT timestamp — so the state store is bounded by the distinct
    * content universe, not the crawl volume. Within a micro-batch,
    * sightings fold in `(ts, id)` order (the batch operator's order);
    * across batches they fold in ARRIVAL order like every admission
    * twin here ([[tokenBudgetStream]]'s contract): a late sighting
    * with an out-of-order timestamp is judged against the clock as it
    * stands — online admission is inherently arrival-ordered.
    *
    * Input: (fp, id, ts ϵ epoch-micros). Output: (fp, id, ts, kept). */
  def recrawlSuppressStream(rows: Dataset[(String, Long, Long)], ttlMicros: Long)
      : Dataset[(String, Long, Long, Boolean)] = {
    require(ttlMicros >= 0, s"ttlMicros must be >= 0, got $ttlMicros")
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, it: Iterator[(String, Long, Long)], state: GroupState[Long]) =>
          var lastKept = state.getOption
          val out = it.toSeq.sortBy(r => (r._3, r._2)).map { case (_, id, ts) =>
            val keep = lastKept.forall(lk => ts - lk >= ttlMicros)
            if (keep) lastKept = Some(ts)
            (fp, id, ts, keep)
          }
          lastKept.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming twin of [[graft.operators.Decay.decayedScore]]: per-key
    * exponentially decayed scores maintained online. State per key is the
    * per-step partial sums inside the horizon — at most `horizon + 1`
    * `(step, Σqv, count)` triples, pruned as the key's frontier advances —
    * never the events. Because the batch aggregate is a sum of per-event
    * dyadic terms (left shifts only, no truncation), folding per-step
    * partials and shifting at emission is EXACT, and the merge is
    * commutative + associative + idempotent-per-event: the emitted score
    * after any batch split equals `decayedScore(refPerKey = true)` over
    * everything ingested (the cdcLatestStream-strength parity, spec'd) —
    * arrival order cannot change the converged answer. A late event
    * inside the horizon folds in; one older than the horizon contributes
    * exactly 0 in both engines.
    *
    * Input: (key, step, qv) — step/qv via [[graft.operators.Decay.stepExpr]]
    * / [[graft.operators.Decay.quantize]] upstream. Emits each touched
    * key's current (key, score, n_live, ref_step) per trigger
    * (Update-style snapshot). */
  def decayedScoreStream(rows: Dataset[(Long, Long, Long)], horizonSteps: Int)
      : Dataset[(Long, Long, Long, Long)] = {
    require(horizonSteps >= 0 && horizonSteps <= 40,
      s"horizonSteps must be in [0, 40], got $horizonSteps")
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, (Long, Long)], (Long, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[Map[Long, (Long, Long)]]) =>
          var buckets = state.getOption.getOrElse(Map.empty[Long, (Long, Long)])
          it.foreach { case (_, step, qv) =>
            val (s0, n0) = buckets.getOrElse(step, (0L, 0L))
            buckets = buckets.updated(step, (s0 + qv, n0 + 1L))
          }
          val ref = buckets.keys.max
          buckets = buckets.filter { case (step, _) => ref - step <= horizonSteps }
          state.update(buckets)
          val score = buckets.iterator.map { case (step, (s, _)) =>
            s << (horizonSteps - (ref - step)).toInt
          }.sum
          val nLive = buckets.valuesIterator.map(_._2).sum
          Iterator.single((key, score, nLive, ref))
      }
  }

  /** Streaming twin of [[graft.operators.LmScore.scoreWith]]: score an
    * incoming document stream against a model persisted by
    * [[graft.operators.LmScore.writeModel]]. A document arrives whole in
    * its row, so its score is a per-doc aggregation that never crosses a
    * micro-batch boundary — foreachBatch runs the batch scorer (stream-
    * static joins against the bucketed model tables) per trigger: no state
    * store, no watermark, and batch/stream scores are identical by
    * construction because they ARE the same plan. */
  def lmScoreStream(docs: DataFrame, idCol: String, textCol: String,
                    model: String, path: String) =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.LmScore.scoreWith(batch, idCol, textCol, model)
          .write.mode("append").parquet(path): Unit
    }

  /** Streaming weighted reservoir — the online twin of
    * [[graft.operators.Sampling.weightedSample]]. Efraimidis-Spirakis is
    * reservoir-friendly BY CONSTRUCTION (that is the title of the paper):
    * a row's priority key is a pure function of (id, weight, seed), so an
    * arriving row either enters the current top-k or can never enter it —
    * no revisiting, no rejection.
    *
    * Scale shape: state is keyed by the row's [[Sampling.shardCol]]-style
    * shard (`nShards` groups), each holding at most k (key, id, w)
    * triples — a GLOBAL single-key reservoir would serialize every row
    * through one state partition. Each shard's top-k is a SUPERSET filter
    * of the global one (a global winner is a winner of its own shard), so
    * the reader takes the k smallest keys across the `k·nShards` emitted
    * rows — exactly [[Sampling.weightedSample]]'s answer over everything
    * ingested, which the spec asserts. Keys are computed with the
    * IDENTICAL md5→ln→micro-nat recipe as the batch column (bit-equal by
    * the q96 spec's driver-side derivation). Emits each updated shard's
    * full current reservoir (OutputMode.Update); an id's key never
    * changes, so stale emissions are superseded only by strictly better
    * sets and the final winners are always the minimal keys ever seen. */
  def weightedSampleStream(rows: Dataset[(Long, Long)], k: Int,
                           nShards: Int, seed: String)
      : Dataset[(Int, Long, Long, Long)] = {
    require(k >= 1 && nShards >= 1, s"need k >= 1 and nShards >= 1")
    import rows.sparkSession.implicits._
    def keyOf(id: Long, w: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$id".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.take(15), 16)
      val u = (h.toDouble + 1.0) / 1152921504606846976.0
      BigDecimal(-math.log(u) / w.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    def shardOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$id".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.take(15), 16)
      ((h % nShards) + nShards) % nShards
    }
    rows
      .groupByKey { case (id, _) => shardOf(id) }
      .flatMapGroupsWithState[List[(Long, Long, Long)], (Int, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[(Long, Long)],
         state: GroupState[List[(Long, Long, Long)]]) =>
          val incoming = it.filter(_._2 > 0)
            .map { case (id, w) => (keyOf(id, w), id, w) }
          val merged = (state.getOption.getOrElse(Nil) ++ incoming)
            .distinct.sortBy(t => (t._1, t._2)).take(k)
          if (merged != state.getOption.getOrElse(Nil)) {
            state.update(merged)
            merged.iterator.map { case (key, id, w) => (shard.toInt, id, w, key) }
          } else Iterator.empty
      }
  }

  /** Online funnel progression — the streaming twin of
    * [[graft.operators.Funnel.funnel]]. Input rows are `(user, eventType,
    * tsMs)`; per user the state is two numbers — the furthest step reached
    * (0-based; -1 = none) and its completion time — and a row advances the
    * funnel iff it is the NEXT step and lands within `withinMs` of the
    * previous completion (None = unbounded). Emits `(user, stepReached,
    * tsMs)` on every advance (OutputMode.Update).
    *
    * Ordering contract (same as [[tokenBudgetStream]]): the greedy
    * transition consumes events in arrival order within each batch — the
    * batch operator's min-time semantics are recovered when events arrive
    * in event-time order, the realistic ingest shape. A late-arriving
    * earlier step-1 CANNOT retroactively re-time step 2 (that would need
    * unbounded per-step event retention); the trade is documented, the
    * state stays two longs per user forever. */
  def funnelStream(events: Dataset[(Long, String, Long)], steps: Seq[String],
                   withinMs: Option[Long]): Dataset[(Long, Int, Long)] = {
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), (Long, Int, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[(Int, Long)]) =>
          var (reached, lastTs) = state.getOption.getOrElse((-1, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
          rows.foreach { case (_, tpe, ts) =>
            stepIdx.get(tpe) match {
              case Some(i) if i == reached + 1 &&
                  (reached == -1 ||
                    (ts > lastTs && withinMs.forall(w => ts <= lastTs + w))) =>
                reached = i; lastTs = ts
                out += ((user, i, ts))
              case _ => ()
            }
          }
          if (out.nonEmpty) state.update((reached, lastTs))
          out.iterator
      }
  }

  /** Streaming twin of [[graft.operators.Blocklist.matchReport]]'s match
    * core: matched `(idCol, phrase)` pairs from an incoming document
    * stream. The batch operator is per-row narrow work (shingle explode)
    * plus a broadcast join against the STATIC blocklist — both legal
    * streaming constructs unchanged, so this is the zero-state twin
    * ([[chunkStream]]'s contract): batch and stream matches are the same
    * plan per micro-batch. Distinct-ness is per micro-batch (a doc
    * re-sent across batches re-reports — dedupe downstream with
    * [[dedupStream]] if the source can repeat). */
  def blocklistStream(docs: DataFrame, idCol: String, textCol: String,
                      phrases: Seq[String]): DataFrame =
    graft.operators.Blocklist.phraseMatches(docs, idCol, textCol, phrases)

  /** Streaming twin of [[graft.operators.Decay.ewmaControlChart]]: per-key
    * dyadic EWMA out-of-control flags, state = the per-step
    * `(count, Σqv, Σqv²)` triples of the trailing `horizon` steps
    * (bounded: ≤ horizon+1 entries per key, exactly the
    * [[decayedScoreStream]] ring). Arithmetic runs in exact BigInt — the
    * single-JVM stand-in for the batch DECIMAL(38,0) algebra, same
    * integers, same strict-`>` test. Events inside one batch process in
    * `(step, id)` order; each event is judged against strictly PRIOR
    * steps only (same-step neighbors never count, matching the batch
    * operator), so an in-order feed reproduces the batch flags exactly
    * (spec-asserted). Emits `(key, id, step, qv, nPrior, isAnomaly)`. */
  def ewmaChartStream(rows: Dataset[(Long, Long, Long, Long)],
                      horizonSteps: Int = 20,
                      kNum: Long = 3L, kDen: Long = 1L)
      : Dataset[(Long, Long, Long, Long, Long, Boolean)] = {
    require(horizonSteps >= 1 && horizonSteps <= 20,
      s"horizonSteps must be in [1, 20], got $horizonSteps")
    require(kNum >= 1 && kDen >= 1, s"need positive kNum/kDen, got $kNum/$kDen")
    import rows.sparkSession.implicits._
    val h = horizonSteps
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, (Long, Long, Long)],
        (Long, Long, Long, Long, Long, Boolean)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[(Long, Long, Long, Long)],
         state: GroupState[Map[Long, (Long, Long, Long)]]) =>
          var steps = state.getOption.getOrElse(Map.empty[Long, (Long, Long, Long)])
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Long, Boolean)]
          // (key, id, step, qv) sorted so same-batch events see exactly
          // the predecessors an in-order feed would have shown them
          it.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, id, step, qv) =>
            val prior = steps.view.filterKeys(s => s < step && step - s <= h)
            var bW, bS, bSS = BigInt(0)
            var np = 0L
            prior.foreach { case (s, (cnt, sqv, sqv2)) =>
              val w = BigInt(1) << (h - (step - s)).toInt
              bW += w * cnt; bS += w * sqv; bSS += w * sqv2
              np += cnt
            }
            val dev = BigInt(qv) * bW - bS
            val flag = bW > 0 &&
              BigInt(kDen * kDen) * dev * dev >
                BigInt(kNum * kNum) * (bW * bSS - bS * bS)
            out += ((key, id, step, qv, np, flag))
            val (c0, s0, ss0) = steps.getOrElse(step, (0L, 0L, 0L))
            steps = steps.updated(step, (c0 + 1L, s0 + qv, ss0 + qv * qv))
          }
          if (steps.nonEmpty) {
            val ref = steps.keys.max
            steps = steps.filter { case (s, _) => ref - s <= h }
          }
          state.update(steps)
          out.iterator
      }
  }

  /** Streaming twin of [[graft.operators.Checks.psiDrift]] — the
    * frozen-bin design IS the streaming design: the reference
    * bins/counts are a MODEL trained once by the batch operator (edges +
    * per-bin counts), so the monitor needs no reference state at all.
    * Each event's bin is the same literal-array probe
    * (`1 + #{edges < v}`, stateless, scan-stage); per event-time window
    * ONE stateful aggregation carries all bins as conditional sums
    * (bins are static → no second stateful op, Append-mode clean), and
    * the PSI is a row-local projection: per-bin add-1 micro-nat terms in
    * the batch operator's exact order, summed over the fixed bin list.
    * Late rows drop at the watermark. Emits
    * `(window_start, window_end, tgt_total, psi_unats)` once per
    * finalized window. */
  def psiDriftStream(rows: DataFrame, valueCol: String, tsCol: String,
                     edges: Seq[Long], refCounts: Seq[Long],
                     windowDur: String, delay: String): DataFrame = {
    val bins = refCounts.length
    require(bins >= 2, s"need >= 2 reference bins, got $bins")
    require(edges.length == bins - 1,
      s"need bins-1 edges, got ${edges.length} for $bins bins")
    val refTotal = refCounts.sum
    val binCol = lit(1L) + size(filter(typedLit(edges),
      e => e < col(valueCol))).cast("long")
    val counts = (1 to bins).map(b =>
      sum(when(col("_bin") === b.toLong, 1L).otherwise(0L)).as(s"_n$b"))
    val base = rows
      .withColumn("_bin", binCol)
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(counts.head, counts.tail: _*)
    val tgtTotal = (1 to bins).map(b => col(s"_n$b")).reduce(_ + _)
    def term(b: Int): org.apache.spark.sql.Column = expr(
      s"""CAST(round(1e6 * (
            (CAST(${refCounts(b - 1)} + 1 AS DOUBLE) / CAST(${refTotal + bins} AS DOUBLE)
              - CAST(_n$b + 1 AS DOUBLE) / CAST(_tt + $bins AS DOUBLE))
            * ln((CAST(${refCounts(b - 1)} + 1 AS DOUBLE) / CAST(${refTotal + bins} AS DOUBLE))
                 / (CAST(_n$b + 1 AS DOUBLE) / CAST(_tt + $bins AS DOUBLE)))
          )) AS BIGINT)""")
    base
      .withColumn("_tt", tgtTotal)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("_tt").as("tgt_total"),
        (1 to bins).map(term).reduce(_ + _).as("psi_unats"))
  }

  /** Streaming KS drift against a FROZEN reference CDF — the
    * [[psiDriftStream]] design applied to
    * [[graft.operators.Eval.ksTestExact]]: the reference collapses to a
    * model `(refValues, refCum)` (sorted distinct grid values and the
    * reference's cumulative counts at them — trained once by the batch
    * operator), so the monitor carries NO reference state. Each event's
    * cell is a stateless literal-array probe (`1 + #{grid < v}`); per
    * event-time window ONE stateful aggregation carries the cell counts
    * as conditional sums, and the statistic is a row-local projection:
    * `ks_num = max_b |refCum_b·tgtTotal − tgtCum_b·refTotal|` with the
    * target cumulative at each grid point a prefix sum over the FIXED
    * cell list — exact cross-multiplied BIGINTs, no float CDF, the batch
    * operator's arithmetic verbatim.
    *
    * Semantics note: this is the sup over the REFERENCE grid. When every
    * target value lands on the grid it equals the exact two-sample KS
    * (spec-asserted against [[graft.operators.Eval.ksTestExact]]);
    * between grid points it is the frozen-reference monitor read — the
    * CDF gap sampled where the model has support, which is the only
    * stateless-reference evaluation possible without carrying the
    * target's full value histogram as a second stateful pass.
    *
    * Late rows drop at the watermark. Emits
    * `(window_start, window_end, tgt_total, ks_num, ks)` once per
    * finalized window, with `ks = ks_num / (refTotal·tgtTotal)` the
    * batch operator's readout — one IEEE division of exact integers. */
  def ksDriftStream(rows: DataFrame, valueCol: String, tsCol: String,
                    refValues: Seq[Long], refCum: Seq[Long],
                    windowDur: String, delay: String): DataFrame = {
    val b = refValues.length
    require(b >= 1, s"need >= 1 reference grid values, got $b")
    require(refCum.length == b, s"need one cumulative count per grid value")
    require(refValues.sameElements(refValues.sorted.distinct),
      "refValues must be sorted distinct")
    require(refCum.zip(refCum.tail).forall { case (x, y) => x <= y },
      "refCum must be non-decreasing")
    val refTotal = refCum.last
    // cell = 1 + #{grid values < v}; v <= grid_b  <=>  cell <= b
    val cellCol = lit(1L) + size(filter(typedLit(refValues),
      g => g < col(valueCol))).cast("long")
    val counts = (1 to b + 1).map(c =>
      sum(when(col("_cell") === c.toLong, 1L).otherwise(0L)).as(s"_n$c"))
    val base = rows
      .withColumn("_cell", cellCol)
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(counts.head, counts.tail: _*)
    val tgtTotal = (1 to b + 1).map(c => col(s"_n$c")).reduce(_ + _)
    def tgtCum(upTo: Int): org.apache.spark.sql.Column =
      (1 to upTo).map(c => col(s"_n$c")).reduce(_ + _)
    val gaps = (1 to b).map(i =>
      abs(lit(refCum(i - 1)) * col("_tt") - tgtCum(i) * lit(refTotal)))
    base
      .withColumn("_tt", tgtTotal)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("_tt").as("tgt_total"),
        greatest(gaps.head +: gaps.tail: _*).as("ks_num"))
      // the batch readout verbatim: one IEEE division of exact integers
      // (no ·10⁶ product that could overflow the BIGINT budget)
      .withColumn("ks",
        col("ks_num").cast("double") /
          (lit(refTotal) * col("tgt_total")).cast("double"))
  }

  /** Streaming KEYNESS drift for a WATCHED TERM LIST against a frozen
    * reference corpus — [[graft.operators.Colloc.keyness]]'s add-½
    * log-odds with the reference side a plan-time CONSTANT: the
    * reference collapses to `(refCounts_t, refTotal)` per watched term
    * (trained once), and each term's reference log-odds
    * `ln((a+½)/(N_A−a+½))` is ONE driver-side `math.log` — the same
    * java.lang.Math.log the batch operator's codegen calls on the same
    * doubles, so the quantized difference is bit-identical to the batch
    * score (spec-asserted against the batch operator itself).
    *
    * Per event-time window ONE stateful aggregation over the exploded
    * token stream carries per-term conditional counts + the window token
    * total; the per-term scores are a row-local projection exploded to
    * `(window, term)` rows — stateless after the single agg, Append-mode
    * clean. Late rows drop at the watermark. Emits
    * `(window_start, window_end, term, c_tgt, n_tgt, keyness_unats)`
    * per finalized window × watched term (A = frozen reference,
    * B = window: positive = term characterizes the reference, i.e. it
    * FADED in the stream; negative = it surged). */
  def keynessDriftStream(docs: DataFrame, textCol: String, tsCol: String,
                         terms: Seq[String], refCounts: Seq[Long],
                         refTotal: Long,
                         windowDur: String, delay: String): DataFrame = {
    require(terms.nonEmpty, "need >= 1 watched term")
    require(terms.distinct.length == terms.length, "watched terms must be distinct")
    require(refCounts.length == terms.length, "need one reference count per term")
    require(refCounts.forall(_ >= 0) && refTotal >= refCounts.max,
      "refTotal must bound every per-term reference count")
    val refLogOdds: Seq[Double] = refCounts.map(a =>
      math.log((a + 0.5) / (refTotal - a + 0.5)))
    val counts = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("_tok") === t, 1L).otherwise(0L)).as(s"_c$i")
    } :+ count(lit(1)).as("_nt")
    val base = docs
      .withColumn("_ts", col(tsCol))
      .select(col("_ts"), explode(graft.functions.Text.tokens(col(textCol))).as("_tok"))
      .withWatermark("_ts", delay)
      .groupBy(window(col("_ts"), windowDur))
      .agg(counts.head, counts.tail: _*)
    // batch shape: round((refLog − log((b+½)/(N_B−b+½))) · 1e6) — the
    // reference term folded in as a literal, target term the identical
    // left-associated double chain
    val scored = terms.indices.map { i =>
      struct(
        lit(terms(i)).as("term"),
        col(s"_c$i").as("c_tgt"),
        round((lit(refLogOdds(i)) -
          log((col(s"_c$i").cast("double") + lit(0.5)) /
            (col("_nt").cast("double") - col(s"_c$i").cast("double") + lit(0.5))))
          * lit(1e6)).cast("long").as("keyness_unats"))
    }
    base
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("_nt").as("n_tgt"),
        explode(array(scored: _*)).as("_s"))
      .select(col("window_start"), col("window_end"),
        col("_s.term").as("term"), col("_s.c_tgt").as("c_tgt"),
        col("n_tgt"), col("_s.keyness_unats").as("keyness_unats"))
  }

  /** Streaming BENFORD feed-integrity monitor —
    * [[graft.operators.Checks.benfordDeviation]] per event-time window:
    * the always-on "did an upstream start fabricating or truncating
    * magnitudes" alarm. The expected log₁₀(1+1/d) probabilities are
    * plan-time literals (nothing to train — Benford IS the frozen
    * reference); each row's leading digit is a stateless decimal-string
    * probe (never a float log); ONE stateful windowed aggregation
    * carries the nine conditional digit counts; the per-digit χ² micro
    * terms are the batch chain verbatim as a row-local post-projection,
    * summed in FIXED digit order into `chi2_micro` (exact — each term
    * was quantized at its site, the batch doctrine). Non-positive
    * values are excluded before the watermark, late rows drop at it.
    * Emits `(window_start, window_end, n_rows, o1..o9, chi2_micro)`
    * once per finalized window; `chi2_micro > 20.09·10⁶` rejects
    * Benford at α = 0.01 (8 degrees of freedom). */
  /** Streaming MANN–WHITNEY AUC drift against a FROZEN reference value
    * histogram — the rank-based sibling of [[ksDriftStream]] (KS reads
    * the sup CDF gap; AUC reads stochastic ordering: 0.5 = the window is
    * exchangeable with the reference, → 1 = the window's values run
    * HIGH, → 0 = low). The reference collapses to the model
    * `(refValues, refCounts)` (sorted distinct values + counts, trained
    * once); each event contributes `2·#{ref < v} + #{ref = v}` — a
    * stateless literal-array probe — so ONE stateful windowed agg
    * carries exactly two sums (the doubled U and the window count), and
    * `auc = 2U / (2·n·N_ref)` is one IEEE division of exact integers,
    * bit-identical to [[graft.operators.Eval.mannWhitney]]'s AUC on the
    * (window ∪ reference) slice (spec-asserted). Late rows drop at the
    * watermark. Emits `(window_start, window_end, n_tgt, u2, auc)` per
    * finalized window. */
  def mwDriftStream(rows: DataFrame, valueCol: String, tsCol: String,
                    refValues: Seq[Long], refCounts: Seq[Long],
                    windowDur: String, delay: String): DataFrame = {
    val b = refValues.length
    require(b >= 1, s"need >= 1 reference values, got $b")
    require(refCounts.length == b && refCounts.forall(_ >= 1L),
      "need one positive count per reference value")
    require(refValues.sameElements(refValues.sorted.distinct),
      "refValues must be sorted distinct")
    val refTotal = refCounts.sum
    val pairs = refValues.zip(refCounts)
    // 2·#{ref < v} + #{ref = v}: one fold over the b-entry model literal
    val contrib = pairs.map { case (g, c) =>
      when(lit(g) < col(valueCol), lit(2L * c))
        .when(lit(g) === col(valueCol), lit(c))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    rows
      .withColumn("_u", contrib)
      .where(col(valueCol).isNotNull)
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("n_tgt"), sum(col("_u")).as("u2"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_tgt"), col("u2"),
        // the batch AUC readout verbatim: one IEEE division of exact ints
        (col("u2").cast("double") /
          (lit(2L) * col("n_tgt") * lit(refTotal)).cast("double")).as("auc"))
  }

  def benfordDriftStream(rows: DataFrame, valueCol: String, tsCol: String,
                         windowDur: String, delay: String): DataFrame = {
    val digit = when(col(valueCol).cast("long") > 0L,
      substring(col(valueCol).cast("long").cast("string"), 1, 1).cast("long"))
    val counts = (1 to 9).map(d =>
      sum(when(col("_dg") === d.toLong, 1L).otherwise(0L)).as(s"_o$d"))
    val base = rows
      .withColumn("_dg", digit)
      .where(col("_dg").isNotNull)
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(counts.head, counts.tail: _*)
    val n = (1 to 9).map(d => col(s"_o$d")).reduce(_ + _)
    def term(d: Int): org.apache.spark.sql.Column = {
      // the batch benfordDeviation chain verbatim: e = n·p, then
      // floor((o − e)²/e · 1e6) — one deterministic double chain per site
      val e = col("_n").cast("double") * lit(math.log10(1.0 + 1.0 / d))
      floor((col(s"_o$d").cast("double") - e) *
        (col(s"_o$d").cast("double") - e) / e * lit(1e6)).cast("long")
    }
    base
      .withColumn("_n", n)
      .select(Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("_n").as("n_rows")) ++
        (1 to 9).map(d => col(s"_o$d").as(s"o$d")) :+
        (1 to 9).map(term).reduce(_ + _).as("chi2_micro"): _*)
  }

  private[streaming] case class CusumState(
    openStep: Long, openSum: Long, closed: Vector[(Long, Long)])

  private[streaming] case class PhState(
    openStep: Long, openSum: Long, nClosed: Long, m: Long, mn: Long,
    maxPh: Long, alarmI: Option[Long], alarmStep: Option[Long],
    alarmPh: Option[Long])

  /** Streaming PAGE–HINKLEY — the drift family's TRUE O(1)-state twin:
    * the carried state per key is EIGHT LONGS (open step + sum, closed
    * count, cumulative excess m, running min, max PH, and the
    * once-latched alarm triple) — not a histogram, not a series. Each
    * step CLOSE (an event for a later step arrives; late events for
    * closed steps drop) folds the step's value into
    * `m += 10⁶·y − mu0 − delta`, `mn = min(mn, m)`, `PH = m − mn`, with
    * BIT-IDENTICAL arithmetic to [[graft.operators.Anomaly.pageHinkley]]
    * (pure BIGINT micro — StreamingSpec asserts the last emission
    * equals the batch row on the same closed slice). The alarm latches
    * at the FIRST close with PH > lambda, exactly like the batch
    * `min(when(ph > λ, i))`. Emits the running summary
    * `(group, n_closed, max_ph_micro, alarm_i, alarm_step,
    * ph_alarm_micro)` once per close. */
  def pageHinkleyStream(events: Dataset[(String, Long, Long)], stepUs: Long,
                        mu0Micro: Long, deltaMicro: Long, lambdaMicro: Long)
      : Dataset[(String, Long, Long, Option[Long], Option[Long], Option[Long])] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[PhState,
        (String, Long, Long, Option[Long], Option[Long], Option[Long])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[PhState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
          var st = state.getOption.orNull
          def close(nextStep: Long, nextSum: Long): Unit = {
            val m2 = st.m + 1000000L * st.openSum - (mu0Micro + deltaMicro)
            val mn2 = if (st.nClosed == 0L) m2 else math.min(st.mn, m2)
            val ph = m2 - mn2
            val n2 = st.nClosed + 1L
            val (ai, as2, ap) =
              if (st.alarmI.isEmpty && ph > lambdaMicro)
                (Some(n2), Some(st.openStep), Some(ph))
              else (st.alarmI, st.alarmStep, st.alarmPh)
            st = PhState(nextStep, nextSum, n2, m2, mn2,
              math.max(st.maxPh, ph), ai, as2, ap)
            out += ((key, n2, st.maxPh, ai, as2, ap))
          }
          it.toSeq.sortBy(_._2).foreach { case (_, us, v) =>
            val h = Math.floorDiv(us, stepUs)
            if (st == null)
              st = PhState(h, v, 0L, 0L, 0L, 0L, None, None, None)
            else if (h == st.openStep) st = st.copy(openSum = st.openSum + v)
            else if (h > st.openStep) close(h, v)
            // h < openStep: late for a closed step — dropped
          }
          state.update(st)
          out.iterator
      }
  }

  private[streaming] case class JtDriftState(
    openStep: Long, cells: Vector[(Long, Long, Long)])

  /** Streaming JONCKHEERE–TERPSTRA drift — the ORDERED-trend monitor on
    * [[kwDriftStream]]'s carried-cell pattern: groups carry a numeric
    * ORDER (dose buckets, severity tiers), and each closed step asks
    * "did the value trend UP the ordered groups this step". State per
    * series key is ONLY the open step's (group, value) cell histogram;
    * the close emits the JT verdict with the SAME integers as
    * [[graft.operators.Eval.jonckheereTerpstra]] — 2J, num2 and the
    * variance cores are exact integers (any correct evaluation yields
    * the same values; here a pairwise fold over the model-sized cells),
    * and the z / z_tie chains replay the batch operator's IEEE order
    * verbatim (StreamingSpec asserts per-close equality). Late events
    * for closed steps drop. Emits `(series, step, n, k_groups, j2,
    * num2, z, z_tie)` per close. */
  def jtDriftStream(events: Dataset[(String, Long, Long, Long)], stepUs: Long)
      : Dataset[(String, Long, Long, Long, Double, Double,
          Option[Double], Option[Double])] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    import events.sparkSession.implicits._
    def verdict(series: String, step: Long, cells: Vector[(Long, Long, Long)])
        : (String, Long, Long, Long, Double, Double,
            Option[Double], Option[Double]) = {
      val gs = cells.map(_._1).distinct.sorted
      val byG = cells.groupBy(_._1)
      var s2 = BigInt(0)
      for {
        i <- gs.indices; j <- (i + 1) until gs.size
        (_, v1, c1) <- byG(gs(i)); (_, v2, c2) <- byG(gs(j))
      } {
        if (v1 < v2) s2 += BigInt(2) * c1 * c2
        else if (v1 == v2) s2 += BigInt(c1) * c2
      }
      val ngs = gs.map(g => byG(g).map(_._3).sum)
      val n = ngs.sum
      val k = gs.size.toLong
      val sn2 = ngs.map(x => BigInt(x) * x).sum
      val num2 = 2 * s2 - (BigInt(n) * n - sn2)
      val v72 = BigInt(n) * n * (2 * n + 3) -
        ngs.map(x => BigInt(x) * x * (2 * x + 3)).sum
      val z = if (k >= 2 && v72 > 0)
        Some(num2.toDouble / (4.0 * math.sqrt(v72.toDouble / 72.0))) else None
      val hist = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val a = BigInt(n) * (n - 1) * (2 * n + 5) -
        ngs.map(x => BigInt(x) * (x - 1) * (2 * x + 5)).sum -
        hist.values.map(t => BigInt(t) * (t - 1) * (2 * t + 5)).sum
      val vt = if (n >= 3)
        a.toDouble / 72.0 +
          ngs.map(x => BigInt(x) * (x - 1) * (x - 2)).sum.toDouble *
            hist.values.map(t => BigInt(t) * (t - 1) * (t - 2)).sum.toDouble /
            (36.0 * (BigInt(n) * (n - 1) * (n - 2)).toDouble) +
          ngs.map(x => BigInt(x) * (x - 1)).sum.toDouble *
            hist.values.map(t => BigInt(t) * (t - 1)).sum.toDouble /
            (8.0 * (BigInt(n) * (n - 1)).toDouble)
      else 0.0
      val zt = if (k >= 2 && n >= 3 && vt > 0)
        Some(num2.toDouble / (4.0 * math.sqrt(vt))) else None
      (series, step, n, k, s2.toDouble, num2.toDouble, z, zt)
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[JtDriftState,
        (String, Long, Long, Long, Double, Double,
          Option[Double], Option[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[JtDriftState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Double, Double,
              Option[Double], Option[Double])]
          var open = state.getOption.map(_.openStep).getOrElse(Long.MinValue)
          val cells = scala.collection.mutable.Map.empty[(Long, Long), Long]
          state.getOption.foreach(_.cells.foreach { case (g, v, c) =>
            cells((g, v)) = c })
          it.toSeq.sortBy(_._3).foreach { case (_, g, us, v) =>
            val h = Math.floorDiv(us, stepUs)
            if (open == Long.MinValue) { open = h; cells((g, v)) = 1L }
            else if (h == open)
              cells((g, v)) = cells.getOrElse((g, v), 0L) + 1L
            else if (h > open) {
              out += verdict(key, open,
                cells.toVector.map { case ((cg, cv), c) => (cg, cv, c) })
              cells.clear()
              open = h; cells((g, v)) = 1L
            } // h < open: late for a closed step — dropped
          }
          state.update(JtDriftState(open,
            cells.toVector.map { case ((cg, cv), c) => (cg, cv, c) }))
          out.iterator
      }
  }

  private[streaming] case class W1DriftState(
    openStep: Long, hist: Vector[(Long, Long)])

  /** Streaming WASSERSTEIN-1 drift — the drift monitor WITH UNITS
    * ([[mwDriftStream]] reads rank dominance, [[ksDriftStream]] the max
    * CDF gap; W₁ reads "how many score points has this step's
    * distribution moved from the frozen reference", the number a
    * retraining trigger thresholds on). Carried-histogram style: per
    * monitored key the state holds ONLY the OPEN step's value
    * histogram; the reference distribution is a FROZEN b-entry model
    * baked into the operator (the [[mwDriftStream]] contract). When an
    * event for a LATER step arrives the open step closes and the twin
    * emits W₁(ref, step) with BIT-IDENTICAL arithmetic to
    * [[graft.operators.Eval.wasserstein1]] on the same slice: exact
    * BigInt `Σ|n₂·C_ref − n₁·C_step|·gap` over the sorted union values,
    * then the one IEEE division (StreamingSpec asserts equality against
    * the batch operator with the reference as the positive cohort).
    *
    * State is BOUNDED by one step's distinct values plus the fixed
    * reference model: closed steps drop at close, a million events in
    * one step grow counts, not the state. Late events for closed steps
    * drop (the [[rateAnomalyStream]] convention). Emits
    * `(series, step, n_step, w1_num, w1)` per close; w1 None when the
    * step is empty. */
  def w1DriftStream(events: Dataset[(String, Long, Long)], stepUs: Long,
                    refValues: Seq[Long], refCounts: Seq[Long])
      : Dataset[(String, Long, Long, Double, Option[Double])] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    val b = refValues.length
    require(b >= 1, s"need >= 1 reference values, got $b")
    require(refCounts.length == b && refCounts.forall(_ >= 1L),
      "need one positive count per reference value")
    require(refValues.sameElements(refValues.sorted.distinct),
      "refValues must be sorted distinct")
    import events.sparkSession.implicits._
    val refMap = refValues.zip(refCounts).toMap
    val n1 = refCounts.sum
    def verdict(series: String, step: Long, cells: Vector[(Long, Long)])
        : (String, Long, Long, Double, Option[Double]) = {
      val cur = cells.toMap
      val n2 = cells.map(_._2).sum
      val vs = (refMap.keySet ++ cur.keySet).toSeq.sorted
      var c1 = 0L; var c2 = 0L
      var num = BigInt(0)
      vs.zip(vs.drop(1)).foreach { case (v, nxt) =>
        c1 += refMap.getOrElse(v, 0L); c2 += cur.getOrElse(v, 0L)
        num += (BigInt(n2) * c1 - BigInt(n1) * c2).abs * (nxt - v)
      }
      val w1 = if (n1 > 0 && n2 > 0)
        Some(num.toDouble / (n1.toDouble * n2.toDouble)) else None
      (series, step, n2, num.toDouble, w1)
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[W1DriftState,
        (String, Long, Long, Double, Option[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[W1DriftState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Double, Option[Double])]
          var open = state.getOption.map(_.openStep).getOrElse(Long.MinValue)
          val cells = scala.collection.mutable.Map.empty[Long, Long]
          state.getOption.foreach(_.hist.foreach { case (v, c) => cells(v) = c })
          it.toSeq.sortBy(_._2).foreach { case (_, us, v) =>
            val h = Math.floorDiv(us, stepUs)
            if (open == Long.MinValue) { open = h; cells(v) = 1L }
            else if (h == open) cells(v) = cells.getOrElse(v, 0L) + 1L
            else if (h > open) {
              out += verdict(key, open, cells.toVector)
              cells.clear()
              open = h; cells(v) = 1L
            } // h < open: late for a closed step — dropped
          }
          state.update(W1DriftState(open, cells.toVector))
          out.iterator
      }
  }

  private[streaming] case class AdwinState(
    openStep: Long, openSum: Long, openCnt: Long,
    window: Vector[(Long, Long)], alarmStep: Option[Long])

  /** Streaming ADWIN — the ADAPTIVE-window drift monitor (Bifet &
    * Gavaldà 2007's ADWIN0, the exact all-splits variant; the
    * exponential-bucket approximation is float-approximate by design
    * and stays out of exact scope): per key the state carries the
    * current window of closed-step means; each step CLOSE appends the
    * step's site-floored micro mean and then SHRINKS from the old end
    * while ANY split of the window violates the Hoeffding bound —
    * `2·Δs² ≥ 10⁶·Lq(n)·n₀·n₁·n` with `Lq(n) = round(10⁶·ln(4·
    * deltaInv·n))`, BIT-IDENTICAL to [[graft.operators.Anomaly
    * .hoeffdingSplitScan]]'s cross-multiplied integer condition. The
    * FIRST shrink cannot precede the scan's first violating prefix
    * (before any shrink the window IS the prefix), so the batch scan
    * gates the twin's alarm exactly — StreamingSpec asserts it.
    *
    * State is the window itself — CLOSED-STEP-universe sized (the
    * cusumStream contract: a million events inside one step grow the
    * open sum, not the state) and SELF-BOUNDING under drift: the whole
    * point of ADWIN is that the window drops the stale regime. A FLAT
    * series, however, never shrinks — textbook ADWIN0 grows forever —
    * so `maxSteps > 0` bounds state by keeping only the most recent
    * `maxSteps` closed-step means (a sliding retrospective horizon,
    * the [[cusumStream]] cap; the age-out is NOT a Hoeffding shrink —
    * it never sets `shrunk` or latches the alarm). Bit-equal to the
    * uncapped run while the window holds ≤ maxSteps steps; 0 (default)
    * = unbounded textbook ADWIN0. Values are micro units in [0, 10⁶]
    * (the Hoeffding range contract). Late events for closed steps
    * drop. Emits per close
    * `(key, step, window_n, window_mean_micro, shrunk, alarm_step)` —
    * `shrunk` 1 when this close dropped elements, `alarm_step` latches
    * at the first shrink ever. */
  def adwinStream(events: Dataset[(String, Long, Long)], stepUs: Long,
                  deltaInv: Long = 20L, maxSteps: Int = 0)
      : Dataset[(String, Long, Long, Long, Long, Option[Long])] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    require(deltaInv >= 1L, s"deltaInv must be >= 1, got $deltaInv")
    require(maxSteps >= 0, s"maxSteps must be >= 0, got $maxSteps")
    import events.sparkSession.implicits._
    def lq(n: Long): Long =
      Math.round(math.log(4.0 * deltaInv.toDouble * n.toDouble) * 1e6)
    def violates(win: Vector[(Long, Long)]): Boolean = {
      val n = win.length.toLong
      if (n < 2) false
      else {
        val total = win.map(v => BigInt(v._2)).sum
        var s0 = BigInt(0); var i = 0L; var viol = false
        val bound = BigInt(1000000L) * lq(n)
        while (i < n - 1 && !viol) {
          s0 += win(i.toInt)._2
          i += 1
          val n0 = i; val n1 = n - i
          val ds = s0 * n1 - (total - s0) * n0
          viol = 2 * ds * ds >= bound * n0 * n1 * n
        }
        viol
      }
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[AdwinState,
        (String, Long, Long, Long, Long, Option[Long])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[AdwinState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long, Option[Long])]
          var st = state.getOption.getOrElse(
            AdwinState(Long.MinValue, 0L, 0L, Vector.empty, None))
          def close(): Unit = {
            val v = st.openSum / st.openCnt // nonneg micro values: floor
            var win = st.window :+ ((st.openStep, v))
            // horizon cap ages out the oldest means BEFORE the bound
            // check; not a shrink — no alarm semantics attach to it
            if (maxSteps > 0 && win.length > maxSteps)
              win = win.takeRight(maxSteps)
            var shrunk = 0L
            while (violates(win)) { win = win.tail; shrunk = 1L }
            val alarm = st.alarmStep.orElse(
              if (shrunk == 1L) Some(st.openStep) else None)
            val meanW = (win.map(x => BigInt(x._2)).sum / win.length).toLong
            out += ((key, st.openStep, win.length.toLong, meanW, shrunk, alarm))
            st = AdwinState(st.openStep, 0L, 0L, win, alarm)
          }
          it.toSeq.sortBy(_._2).foreach { case (_, us, y) =>
            val h = Math.floorDiv(us, stepUs)
            if (st.openCnt == 0L && st.window.isEmpty && st.openStep == Long.MinValue)
              st = st.copy(openStep = h, openSum = y, openCnt = 1L)
            else if (h == st.openStep)
              st = st.copy(openSum = st.openSum + y, openCnt = st.openCnt + 1L)
            else if (h > st.openStep) {
              if (st.openCnt > 0L) close()
              st = st.copy(openStep = h, openSum = y, openCnt = 1L)
            } // h < open: late for a closed step — dropped
          }
          state.update(st)
          out.iterator
      }
  }

  private[streaming] case class KwDriftState(
    openStep: Long, cells: Vector[(String, Long, Long)])

  /** Streaming KRUSKAL–WALLIS drift — the k-GROUP generalization of
    * [[mwDriftStream]]'s rank-based drift read, carried-histogram style:
    * per monitored `series` key the state holds ONLY the OPEN step's
    * (group, value) cell histogram; when an event for a LATER step
    * arrives the open step closes and the twin emits the KW verdict over
    * the closed step's cells with BIT-IDENTICAL arithmetic to
    * [[graft.operators.Eval.kruskalWallis]] (doubled midrank sums from
    * the cell histogram, ⌊10⁶·(2R_g)²/n_g⌋ BigInt site floors, the same
    * trailing IEEE chain — StreamingSpec asserts equality on the same
    * slice). "Did the language mix's quality ranking shift this hour" is
    * one emission per closed hour, not a batch job.
    *
    * State is BOUNDED by one step's distinct cells (k·V_step — value
    * quantization is the caller's contract, same as the batch operator):
    * closed steps are DROPPED at close, nothing accumulates across
    * steps. A million events inside one step grow cell COUNTS, not the
    * state. Late events for closed steps drop (the
    * [[rateAnomalyStream]] convention). Per micro-batch the group's
    * events materialize once for the step-order sort — micro-batch-sized,
    * the shared flatMapGroupsWithState contract. Emits
    * `(series, step, n, k_groups, t_ties, h, h_tie)` per close; h/h_tie
    * None under the batch operator's NULL conditions. */
  def kwDriftStream(events: Dataset[(String, String, Long, Long)], stepUs: Long)
      : Dataset[(String, Long, Long, Long, Double, Option[Double], Option[Double])] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    import events.sparkSession.implicits._
    def verdict(series: String, step: Long, cells: Vector[(String, Long, Long)])
        : (String, Long, Long, Long, Double, Option[Double], Option[Double]) = {
      val hist: Map[Long, Long] = cells.groupBy(_._2)
        .view.mapValues(_.map(_._3).sum).toMap
      val sorted = hist.toSeq.sortBy(_._1)
      val cbOf = sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2).init).toMap
      val byG = cells.groupBy(_._1)
      val st = byG.values.map { m =>
        val ng = m.map(_._3).sum
        val r2 = m.map { case (_, v, c) =>
          BigInt(c) * (2L * cbOf(v) + hist(v) + 1L) }.sum
        val x = r2 * r2 * 1000000L
        (x - x.mod(BigInt(ng))) / ng
      }.sum
      val n = cells.map(_._3).sum
      val k = byG.size.toLong
      val tt = hist.values.map(t => BigInt(t) * t * t - t).sum
      // the batch chain verbatim: 3·(Σterm/10⁶)/(N(N+1)) − 3(N+1), then
      // the tie correction as the trailing division
      val h = if (k >= 2 && n >= 2)
        Some(3.0 * (st.toDouble / 1000000.0) / (BigInt(n) * (n + 1)).toDouble -
          3.0 * (n + 1).toDouble)
      else None
      val hTie = if (h.isDefined && BigInt(n) * n * n - n > tt)
        Some(h.get / (1.0 - tt.toDouble / (BigInt(n) * n * n - n).toDouble))
      else None
      (series, step, n, k, tt.toDouble, h, hTie)
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[KwDriftState,
        (String, Long, Long, Long, Double, Option[Double], Option[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[KwDriftState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Double, Option[Double], Option[Double])]
          var open = state.getOption.map(_.openStep).getOrElse(Long.MinValue)
          val cells = scala.collection.mutable.Map.empty[(String, Long), Long]
          state.getOption.foreach(_.cells.foreach { case (g, v, c) =>
            cells((g, v)) = c })
          it.toSeq.sortBy(_._3).foreach { case (_, g, us, v) =>
            val h = Math.floorDiv(us, stepUs)
            if (open == Long.MinValue) { open = h; cells((g, v)) = 1L }
            else if (h == open)
              cells((g, v)) = cells.getOrElse((g, v), 0L) + 1L
            else if (h > open) {
              out += verdict(key, open,
                cells.toVector.map { case ((cg, cv), c) => (cg, cv, c) })
              cells.clear()
              open = h; cells((g, v)) = 1L
            } // h < open: late for a closed step — dropped
          }
          state.update(KwDriftState(open,
            cells.toVector.map { case ((cg, cv), c) => (cg, cv, c) }))
          out.iterator
      }
  }

  /** Streaming CUSUM changepoint — the first stateful-TREND twin: unlike
    * the frozen-reference drift monitors ([[ksDriftStream]] /
    * [[benfordDriftStream]], whose models are plan literals), the
    * carried state here IS the per-key cumulative series — one
    * `(step, Σvalue)` pair per CLOSED step plus the open step's running
    * sum. That is STEP-UNIVERSE-sized (the day-universe contract the
    * batch operator already imposes on its input series:
    * [[graft.operators.Anomaly.cusumChangepoint]] consumes a series
    * "already aggregated to (group, step, y)"), never per-event: a
    * million events inside one day grow the open sum, not the state.
    *
    * Each time a step CLOSES (an event for a later step arrives — the
    * [[rateAnomalyStream]] convention; late events for closed steps
    * drop), the twin re-emits the retrospective changepoint verdict over
    * the closed series so far with BIT-IDENTICAL arithmetic to the batch
    * operator: stat = |n·S_i − i·S_n| on exact integers (BigInt — the
    * batch DECIMAL(38)), argmax tie-broken to the earliest step, split
    * means as `⌊10⁶·S/len⌋` floor divisions. StreamingSpec asserts the
    * last emission equals `cusumChangepoint` on the same closed slice.
    * Emits `(group, n_steps, split_step, split_i, cusum,
    * mean_before_micro, mean_after_micro)` per close with ≥ 2 closed
    * steps.
    *
    * ## Memory contract
    * Per micro-batch the group's events materialize once for the
    * step-order sort (micro-batch-sized — the shared
    * flatMapGroupsWithState contract). The carried state and the
    * per-close verdict scan both grow with the CLOSED-STEP count, so an
    * unbounded key pays O(steps) state and O(steps) work per close;
    * `maxSteps > 0` bounds both by keeping only the most recent
    * `maxSteps` closed steps (a sliding retrospective window — the
    * verdict is then the changepoint WITHIN that window, which is the
    * long-lived-monitor deployment shape; 0 keeps the full series and
    * exact whole-history batch parity). */
  def cusumStream(events: Dataset[(String, Long, Long)], stepUs: Long,
                  maxSteps: Int = 0)
      : Dataset[(String, Long, Long, Long, Double, Long, Long)] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    import events.sparkSession.implicits._
    def floorDiv6(s: BigInt, d: Long): Long = {
      val x = s * 1000000L
      ((x - x.mod(BigInt(d))) / d).toLong
    }
    def verdict(g: String, closed: Vector[(Long, Long)])
        : (String, Long, Long, Long, Double, Long, Long) = {
      val n = closed.length.toLong
      val sn = closed.foldLeft(BigInt(0))(_ + _._2)
      var si = BigInt(0)
      var bestStat = BigInt(-1); var bestI = 0L; var bestSi = BigInt(0)
      var i = 0L
      for ((_, y) <- closed.init) {
        i += 1; si += y
        val stat = (si * n - sn * i).abs
        if (stat > bestStat) { bestStat = stat; bestI = i; bestSi = si }
      }
      (g, n, closed((bestI - 1).toInt)._1, bestI, bestStat.toDouble,
        floorDiv6(bestSi, bestI), floorDiv6(sn - bestSi, n - bestI))
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState,
        (String, Long, Long, Long, Double, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[CusumState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Double, Long, Long)]
          var st = state.getOption.orNull
          it.toSeq.sortBy(_._2).foreach { case (_, us, v) =>
            val h = Math.floorDiv(us, stepUs)
            if (st == null) st = CusumState(h, v, Vector.empty)
            else if (h == st.openStep) st = st.copy(openSum = st.openSum + v)
            else if (h > st.openStep) {
              val all = st.closed :+ (st.openStep, st.openSum)
              val closed = if (maxSteps > 0) all.takeRight(maxSteps) else all
              if (closed.length >= 2) out += verdict(key, closed)
              st = CusumState(h, v, closed)
            } // h < openStep: late for a closed step — dropped
          }
          state.update(st)
          out.iterator
      }
  }

  private[streaming] case class CardState(
    openStep: Long, openSlots: Vector[Long], slots: Vector[Long])

  /** Streaming twin of the deterministic cardinality sketch
    * ([[graft.operators.CardinalitySketch]]) — the running
    * distinct-count monitor: per series key the carried state is the
    * linear-counting BITMAP itself (≤ m set slots) plus the open
    * step's new slots; each close unions the step's slots in (the
    * batch bit-union — bitwise rebuild-equal) and emits the running
    * bits-set count and the site-quantized linear-counting estimate.
    * Every emission is BIT-IDENTICAL to the batch
    * `groupBitmaps`+`estimates` over all closed values (StreamingSpec
    * asserts it per close) — the exact-integer cardinality monitor the
    * float HLL twin could never be. State ≤ m slots per key, saturating
    * at m (reported, never lied about). Late events for closed steps
    * drop. Emits per close `(key, step, bits_set, est_micro,
    * saturated)`. */
  def cardinalityStream(events: Dataset[(String, Long, String)],
                        stepUs: Long, m: Int)
      : Dataset[(String, Long, Long, Option[Long], Boolean)] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    require(m >= 2, s"m must be >= 2, got $m")
    import events.sparkSession.implicits._
    def slotOf(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % m.toLong
    }
    def estimate(bits: Long): Option[Long] =
      if (bits >= m) None
      else Some(math.round(
        math.log(m.toDouble / (m.toDouble - bits)) * m.toDouble * 1e6))
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[CardState,
        (String, Long, Long, Option[Long], Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[CardState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Option[Long], Boolean)]
          var st = state.getOption.getOrElse(
            CardState(Long.MinValue, Vector.empty, Vector.empty))
          val open = scala.collection.mutable.Set.empty[Long]
          st.openSlots.foreach(open += _)
          val bits = scala.collection.mutable.Set.empty[Long]
          st.slots.foreach(bits += _)
          def close(): Unit = {
            open.foreach(bits += _)
            val b = bits.size.toLong
            out += ((key, st.openStep, b, estimate(b), b >= m))
            open.clear()
          }
          it.toSeq.sortBy(_._2).foreach { case (_, us, v) =>
            val h = Math.floorDiv(us, stepUs)
            if (st.openStep == Long.MinValue) {
              st = st.copy(openStep = h); open += slotOf(v)
            } else if (h == st.openStep) open += slotOf(v)
            else if (h > st.openStep) {
              if (open.nonEmpty) close()
              st = st.copy(openStep = h); open += slotOf(v)
            } // h < open: late for a closed step — dropped
          }
          state.update(CardState(st.openStep, open.toVector.sorted,
            bits.toVector.sorted))
          out.iterator
      }
  }

  /** Streaming twin of the AUTO-RESIZING cardinality lifecycle
    * ([[graft.operators.CardinalitySketch.groupBitmapsAuto]] family) —
    * the running distinct-count monitor that re-sizes itself as a key's
    * universe grows: the carried state is the FINEST bitmap (slots at
    * m·2^maxLevel — still data-size-independent), and each close emits
    * the CANONICAL leveled read: level = smallest non-saturated fold
    * (maxLevel if none), bits/estimate at that level's size. Because
    * the fold is a pure function of the fine slot set, every emission
    * is BIT-IDENTICAL to the batch `groupBitmapsAuto` +
    * `estimatesLeveled` over all closed values (StreamingSpec asserts
    * it per close) — a key that starts tiny reads out 16-slot coarse
    * and climbs levels live as days accumulate, with `saturated` only
    * ever raised at the final size. Late events for closed steps drop.
    * Emits per close `(key, step, level, bits_set, est_micro,
    * saturated)`. */
  def cardinalityAutoStream(events: Dataset[(String, Long, String)],
                            stepUs: Long, m: Int, maxLevel: Int)
      : Dataset[(String, Long, Long, Long, Option[Long], Boolean)] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    require(m >= 2, s"m must be >= 2, got $m")
    // bound BEFORE shifting (the batch guard's overflow note)
    require(maxLevel >= 0 && maxLevel < 31 &&
        (m.toLong << maxLevel) <= Int.MaxValue,
      s"bad maxLevel=$maxLevel for m=$m")
    import events.sparkSession.implicits._
    val sizeL = m.toLong << maxLevel
    def slotOf(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % sizeL
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[CardState,
        (String, Long, Long, Long, Option[Long], Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[CardState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Option[Long], Boolean)]
          var st = state.getOption.getOrElse(
            CardState(Long.MinValue, Vector.empty, Vector.empty))
          val open = scala.collection.mutable.Set.empty[Long]
          st.openSlots.foreach(open += _)
          val bits = scala.collection.mutable.Set.empty[Long]
          st.slots.foreach(bits += _)
          def close(): Unit = {
            open.foreach(bits += _)
            // canonical level: smallest fold that is not saturated
            val lvl = (0 to maxLevel).find { j =>
              bits.map(_ % (m.toLong << j)).size < (m.toLong << j)
            }.getOrElse(maxLevel)
            val size = m.toLong << lvl
            val b = bits.map(_ % size).size.toLong
            val est = if (b >= size) None
              else Some(math.round(math.log(size.toDouble /
                (size.toDouble - b)) * size.toDouble * 1e6))
            out += ((key, st.openStep, lvl.toLong, b, est, b >= size))
            open.clear()
          }
          it.toSeq.sortBy(_._2).foreach { case (_, us, v) =>
            val h = Math.floorDiv(us, stepUs)
            if (st.openStep == Long.MinValue) {
              st = st.copy(openStep = h); open += slotOf(v)
            } else if (h == st.openStep) open += slotOf(v)
            else if (h > st.openStep) {
              if (open.nonEmpty) close()
              st = st.copy(openStep = h); open += slotOf(v)
            } // h < open: late for a closed step — dropped
          }
          state.update(CardState(st.openStep, open.toVector.sorted,
            bits.toVector.sorted))
          out.iterator
      }
  }

  private[streaming] case class HitterState(
    openStep: Long, openCells: Vector[(String, Long)],
    thr: Long, rows: Vector[(String, Long, Long)])

  /** Streaming twin of the mergeable heavy-hitter summary
    * ([[graft.operators.HitterSketch]]) — the running top-k monitor:
    * per series key the carried state is the canonical summary itself
    * (≤ cap `(item, lo, up)` rows + the threshold + the open step's
    * exact item counts); each step close canonicalizes the closed
    * step's exact histogram (top-cap by count desc/item asc, thr =
    * largest dropped count) and merges it into the carried summary by
    * the batch operator's EXACT rule, emitting the current top-k with
    * its [lo, up] bracket.
    *
    * In the exact regime (cap ≥ distinct items at every step — the q38
    * capacity doctrine) every emission is BIT-IDENTICAL to
    * `HitterSketch.topK(groupHitters(...))` over all closed values —
    * StreamingSpec asserts it per close; in the approximate regime the
    * carried thresholds add per step and true counts stay inside
    * [lo, up] by the batch merge's induction. State is ≤ cap summary
    * rows + one open step's distinct items. Late events for closed
    * steps drop. Emits per close `(key, step, rank, item, cnt_lo,
    * cnt_up)` for ranks 1..k by (lo desc, item asc). */
  def hitterStream(events: Dataset[(String, Long, String)], stepUs: Long,
                   cap: Int, k: Int)
      : Dataset[(String, Long, Long, String, Long, Long)] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    require(cap >= 1 && k >= 1 && k <= cap, s"bad cap=$cap k=$k")
    import events.sparkSession.implicits._
    // the batch build's canonical summary of one exact histogram
    def canon(cells: Map[String, Long]): (Vector[(String, Long, Long)], Long) = {
      val sorted = cells.toVector.sortBy { case (w, c) => (-c, w) }
      val kept = sorted.take(cap).map { case (w, c) => (w, c, c) }
      val thr = if (sorted.length > cap) sorted(cap)._2 else 0L
      (kept, thr)
    }
    // the batch merge rule: brackets add, absent sides bounded by thr
    def merge(a: (Vector[(String, Long, Long)], Long),
              b: (Vector[(String, Long, Long)], Long))
        : (Vector[(String, Long, Long)], Long) = {
      val (ra, ta) = a; val (rb, tb) = b
      val ma = ra.map(r => r._1 -> ((r._2, r._3))).toMap
      val mb = rb.map(r => r._1 -> ((r._2, r._3))).toMap
      val merged = (ma.keySet ++ mb.keySet).toVector.map { w =>
        val (loA, upA) = ma.getOrElse(w, (0L, ta))
        val (loB, upB) = mb.getOrElse(w, (0L, tb))
        (w, loA + loB, upA + upB)
      }
      val sorted = merged.sortBy { case (w, lo, up) => (-up, -lo, w) }
      // thr must also cover rows the cap evicts (their cnt_up can
      // exceed ta + tb), or chained merges break the absent-key bound
      val dropUp = sorted.drop(cap).foldLeft(0L)((m, r) => math.max(m, r._3))
      (sorted.take(cap), math.max(ta + tb, dropUp))
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[HitterState,
        (String, Long, Long, String, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[HitterState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, String, Long, Long)]
          var st = state.getOption.getOrElse(
            HitterState(Long.MinValue, Vector.empty, 0L, Vector.empty))
          val cells = scala.collection.mutable.Map.empty[String, Long]
          st.openCells.foreach { case (w, c) => cells(w) = c }
          def close(): Unit = {
            val (rows, thr) = merge((st.rows, st.thr), canon(cells.toMap))
            rows.sortBy { case (w, lo, _) => (-lo, w) }.take(k)
              .zipWithIndex.foreach { case ((w, lo, up), i) =>
                out += ((key, st.openStep, i + 1L, w, lo, up)) }
            cells.clear()
            st = HitterState(st.openStep, Vector.empty, thr, rows)
          }
          it.toSeq.sortBy(_._2).foreach { case (_, us, w) =>
            val h = Math.floorDiv(us, stepUs)
            if (st.openStep == Long.MinValue) {
              st = st.copy(openStep = h); cells(w) = 1L
            } else if (h == st.openStep)
              cells(w) = cells.getOrElse(w, 0L) + 1L
            else if (h > st.openStep) {
              if (cells.nonEmpty) close()
              st = st.copy(openStep = h); cells(w) = 1L
            } // h < open: late for a closed step — dropped
          }
          state.update(st.copy(openCells = cells.toVector))
          out.iterator
      }
  }

  private[streaming] case class QSketchState(
    openStep: Long, openCells: Vector[(Long, Long)],
    k: Int, buckets: Vector[(Long, Long)])

  /** Streaming twin of the mergeable quantile sketch
    * ([[graft.operators.QuantileSketch]]) — the running percentile
    * monitor: per key the carried state is the SKETCH ITSELF (≤ cap
    * dyadic buckets + the open step's value cells); each step close
    * folds the closed step's exact value histogram into the sketch by
    * the SAME merge the batch operator uses, and emits the requested
    * percentiles over everything closed so far.
    *
    * Because the dyadic sketch's merge is BITWISE equal to a rebuild
    * (the multiset argument in the batch scaladoc), every emission is
    * bit-identical to `QuantileSketch.groupSketches` + `quantiles` over
    * ALL closed steps' values — the strongest streaming/batch parity in
    * the twin family, and StreamingSpec asserts it per close. State is
    * ≤ cap sketch buckets + one open step's cells (the cusumStream
    * contract — a million events inside a step grow the open histogram
    * by at most its distinct values, and the sketch never exceeds cap).
    * Late events for closed steps drop. Emits per close
    * `(key, step, n, k, p_lo...)` with one `p_lo` per requested
    * percentile (the bucket floor, = the exact quantile when k = 0). */
  def quantileSketchStream(events: Dataset[(String, Long, Long)],
                           stepUs: Long, cap: Int, percents: Seq[Int])
      : Dataset[(String, Long, Long, Int, Seq[Long])] = {
    require(stepUs >= 1L, s"stepUs must be >= 1, got $stepUs")
    require(cap >= 2, s"cap must be >= 2, got $cap")
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1, 100], got $percents")
    import events.sparkSession.implicits._
    // the batch operator's level rule, replayed on local state: smallest
    // k >= k0 whose distinct >> buckets fit the cap
    def coarsen(cells: Map[Long, Long], k0: Int): (Int, Vector[(Long, Long)]) = {
      var k = k0
      var cur = cells
      while (cur.size > cap && k < 63) {
        k += 1
        cur = cur.groupBy { case (b, _) => b >> 1 }
          .map { case (b, m) => b -> m.values.sum }
      }
      (k, cur.toVector.sortBy(_._1))
    }
    def fold(st: QSketchState): QSketchState = {
      val k0 = st.k
      val merged = scala.collection.mutable.Map.empty[Long, Long]
      st.buckets.foreach { case (b, c) => merged(b) = merged.getOrElse(b, 0L) + c }
      st.openCells.foreach { case (v, c) =>
        val b = v >> k0
        merged(b) = merged.getOrElse(b, 0L) + c
      }
      val (k2, bs) = coarsen(merged.toMap, k0)
      QSketchState(st.openStep, Vector.empty, k2, bs)
    }
    def read(k: Int, bs: Vector[(Long, Long)]): (Long, Seq[Long]) = {
      val n = bs.map(_._2).sum
      val qs = percents.map { p =>
        var cum = 0L; var out = 0L; var done = false
        bs.foreach { case (b, c) =>
          cum += c
          if (!done && cum * 100 >= p.toLong * n) { out = b << k; done = true }
        }
        out
      }
      (n, qs)
    }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[QSketchState,
        (String, Long, Long, Int, Seq[Long])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[QSketchState]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Int, Seq[Long])]
          var st = state.getOption.getOrElse(
            QSketchState(Long.MinValue, Vector.empty, 0, Vector.empty))
          val cells = scala.collection.mutable.Map.empty[Long, Long]
          st.openCells.foreach { case (v, c) => cells(v) = c }
          def close(): Unit = {
            val folded = fold(st.copy(openCells = cells.toVector))
            val (n, qs) = read(folded.k, folded.buckets)
            out += ((key, st.openStep, n, folded.k, qs))
            cells.clear()
            st = folded
          }
          it.toSeq.sortBy(_._2).foreach { case (_, us, v) =>
            val h = Math.floorDiv(us, stepUs)
            if (st.openStep == Long.MinValue) {
              st = st.copy(openStep = h); cells(v) = 1L
            } else if (h == st.openStep)
              cells(v) = cells.getOrElse(v, 0L) + 1L
            else if (h > st.openStep) {
              if (cells.nonEmpty) close()
              st = st.copy(openStep = h); cells(v) = 1L
            } // h < open: late for a closed step — dropped
          }
          state.update(st.copy(openCells = cells.toVector))
          out.iterator
      }
  }
}
