package graft

import graft.expr.Expr
import graft.functions.{Text, Vectors}
import graft.operators.{Accumulate, AsOf, Dedup, Sessionize, Similarity}
import graft.sources.Tables
import graft.stream.DataStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Assembly gate queries, split out of [[SparkEntry]] (round-10
  * hygiene); the `queries`/`oracleSql` maps in SparkEntry remain the
  * single registry — this trait only hosts the builders verbatim. */
private[graft] trait QueriesAssembly { this: SparkEntry.type =>

  /** Deterministic content-keyed sampling (md5-prefix threshold): the
    * sample is identical across runs, partitionings, and engines — unlike
    * seed-based df.sample(). Stratified: en downsampled to 20%, others 60%. */
  protected def q40(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
        Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 0.2), defaultRate = 0.6)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))


  /** Deterministic 80/10/10 train/val/test assignment — content-keyed, so
    * the split is identical on every rerun and engine (a seed-based split
    * silently contaminates eval on re-execution). */
  protected def q44(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.assignSplit(
        Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))


  /** Domain-mix temperature resampling (α=0.5, target fraction 0.5): the
    * standard LLM data-mix step — the dominant language's share is capped
    * and rare languages are upweighted relative to their natural mix, with
    * content-keyed (md5-threshold) membership so the resample is identical
    * across runs, partitionings, and engines. The oracle mirrors the
    * count → sqrt-weight → rate → threshold pipeline arithmetic exactly
    * (sqrt is IEEE correctly-rounded on both engines). */
  protected def q55(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureResample(
        Tables.documents(s, dir), "doc_id", "lang", alpha = 0.5, targetFraction = 0.5)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))


  /** Sequence packing (concat-then-chunk): documents concatenated in
    * doc_id order, token stream chunked into 256-token sequences; each doc
    * gets the (sequence, offset) where it starts and the sequence where it
    * ends. The engine runs the distributed prefix sum
    * ([[graft.operators.Packing]] — per-bucket windows + a tiny bucket-
    * offset broadcast, no global data window); the oracle computes the same
    * assignment with a plain global window cumsum. All-integer arithmetic —
    * hash-exact. */
  protected def q56(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packSequences(
        Tables.documents(s, dir).select(col("doc_id"), size(Text.tokens(col("text"))).as("n_toks")),
        "doc_id", "n_toks", budget = 256L, bucketWidth = 100L)
      .orderBy(col("doc_id"))


  /** [[q55]] with EXACT waterfill redistribution (`redistribute = true`,
    * f=0.85 so capping genuinely engages): capped domains' unused budget
    * re-allocates to uncapped ones, so the realized total hits f·N instead
    * of undershooting. The λ solve is closed-form window arithmetic over
    * the counts frame (domains saturate in n/w order — no iteration, no
    * driver collect); the oracle mirrors every double op including the
    * sentinel row and the candidate-validity CASE. */
  protected def q58(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureResample(
        Tables.documents(s, dir), "doc_id", "lang", alpha = 0.5,
        targetFraction = 0.85, redistribute = true)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))


  /** Greedy NEXT-FIT packing per domain, through the facade's keyed
    * accumulate: documents never straddle sequences — when the current
    * sequence can't fit the next document, a new one starts. The stateful
    * transition is a CONDITIONAL, the shape the window rewrite can't
    * express, so this exercises `mapAccumulateByKey`'s general path (hash-
    * partitioned by lang, sequential per key, the new [[Expr.If]] node on
    * the eval interpreter) — [[q56]] is the concat-then-chunk twin that
    * spans, [[q41]] the window-rewritable twin. Oracle: per-lang recursive
    * CTE computing the identical transition, all-BIGINT. */
  protected def q57(s: SparkSession, dir: String): DataFrame = {
    import Expr._
    val docs = Tables.documents(s, dir).select(
      col("doc_id").as("_1"), col("lang").as("_2"),
      size(Text.tokens(col("text"))).cast("long").as("_3"))
    val ds = DataStream.fromDF[(Long, String, Long)](docs)
    val budget = 128L
    val packed = ds.mapAccumulateByKey((0L, 0L))(t => t._2, t => t._1) { t =>
      val fill = t._1._1
      val seq = t._1._2
      val n = t._2._3
      val newSeq = (fill + n) > budget
      val fill2 = newSeq.ifElse(n, fill + n)
      val seq2 = newSeq.ifElse(seq + 1L, seq)
      val off = newSeq.ifElse[Long](LitLong(0L), fill)
      (fill2 &&& seq2) &&& (t._2._1 &&& (t._2._2 &&& (n &&& (seq2 &&& off))))
    }
    packed.toDF.select(
        col("value._1").as("doc_id"),
        col("value._2._1").as("lang"),
        col("value._2._2._1").as("n_tokens"),
        col("value._2._2._2._1").as("seq_idx"),
        col("value._2._2._2._2").as("seq_off"))
      .orderBy(col("doc_id"))
  }


  /** Per-language winsorization of document lengths: lengths below the
    * p05 / above the p95 of their language clamp to the bound — the
    * standard per-domain outlier clip before training. Exact percentile
    * (q46-proven interpolation parity) as the oracle-checkable baseline;
    * [[graft.operators.Outliers.winsorize]] takes `exact = false` for the
    * bounded-memory approx_percentile production path (q52 pattern). The
    * per-lang bounds table broadcasts; the document path never shuffles. */
  protected def q64(s: SparkSession, dir: String): DataFrame =
    graft.operators.Outliers.winsorize(
        Tables.documents(s, dir), "lang", "n_chars", lo = 0.05, hi = 0.95)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("v_lo"), col("v_hi"), col("n_chars_clipped"))
      .orderBy(col("doc_id"))


  /** Per-domain contribution cap: at most 50 docs per language, selected
    * by md5(id) order — content-keyed, so the kept set is identical on
    * both engines and across reruns/partitionings. */
  protected def q68(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerGroup(Tables.documents(s, dir), "lang", "doc_id", 50)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))


  /** Deterministic round-robin interleave across languages — the
    * data-mixing order for a training run (no long single-domain
    * stretches). Integer slot arithmetic over window ranks; the group
    * ranking rides a #groups-row broadcast frame, never a global window
    * over the data. */
  protected def q69(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.interleaveByGroup(Tables.documents(s, dir), "lang", "doc_id")
      .select(col("doc_id"), col("lang"), col("order_idx"))
      .orderBy(col("order_idx"))


  /** Deterministic shuffle-and-shard: the content-keyed global permutation
    * a training run applies before sharding the corpus across workers —
    * reproducible across runs, engines, and input partitionings. The only
    * wide work is a row_number window partitioned by SHARD (a shard's
    * slice, never the dataset; no global window). */
  protected def q74(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shuffleShard(
        Tables.documents(s, dir).select(col("doc_id")),
        "doc_id", nShards = 8, seed = "r5")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))


  /** Per-domain token-budget selection: greedy best-first mix assembly —
    * each source contributes its highest-n_chars docs while the kept
    * cumulative token count stays within budget; a doc that would cross
    * the budget is skipped but SCANNING CONTINUES (later smaller docs
    * still fit), which is why this is a per-domain sequential fold
    * (q57's distributed shape) and the oracle a recursive CTE, not a
    * window cumsum. */
  protected def q75(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.takeUntilBudget(
        // token counts computed IN THE SCAN: only metadata rides the
        // per-domain exchange and sort — document bodies never shuffle
        // (the operator's own scale note; q56 does the same at its scan)
        graft.operators.Enrich.enrichedDocuments(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("n_tokens").as("n_toks")),
        domainCol = "source", idCol = "doc_id",
        scoreCol = col("n_chars"), tokensCol = col("n_toks"),
        budget = 700L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"), col("kept"))
      .orderBy(col("doc_id"))


  /** Largest-remainder stratified quota: exactly 300 docs allocated across
    * sources within 1 of proportional, each stratum filled in md5(id)
    * order — the apportionment runs on a #strata-row broadcast frame. */
  protected def q78(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedQuota(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        stratumCol = "source", idCol = "doc_id", total = 300L)
      .select(col("doc_id"), col("source"), col("quota"), col("kept"))
      .orderBy(col("doc_id"))


  /** Deterministic weighted sampling without replacement: 80 documents
    * drawn proportional to n_chars, Efraimidis–Spirakis keys in integer
    * micro-nats ([[graft.operators.Sampling.weightedSample]]). */
  protected def q96(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 80, seed = "q96")
      .orderBy(col("key_unats"), col("doc_id"))


  /** Stratified weighted sampling: 20 documents per source, drawn
    * proportional to n_chars within each source — q96's keys ranked by a
    * per-stratum window ([[graft.operators.Sampling.weightedSamplePerGroup]]). */
  protected def q98(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSamplePerGroup(
        Tables.documents(s, dir).select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", "n_chars", k = 20, seed = "q98",
        // the exact two-level de-skew path (bucketed pre-thin → re-rank):
        // output is provably identical to the single-window form, so the
        // oracle — which mirrors the single window — gates the equivalence
        buckets = 8)
      .orderBy(col("source"), col("rank"))


  /** Length-bucketed training batches: 16-token-wide length buckets,
    * deterministic md5 shuffle within each, batches of 24 — the padding-
    * waste reduction for sequence training; within-bucket ranking is the
    * no-single-partition [[graft.operators.Ranking.groupedRank]]
    * ([[graft.operators.Batching.lengthBucketBatches]]). */
  protected def q107(s: SparkSession, dir: String): DataFrame =
    graft.operators.Batching.lengthBucketBatches(
        Tables.documents(s, dir), "doc_id", "text",
        bucketWidth = 16, batchSize = 24, seed = "batch")
      .orderBy(col("bucket"), col("batch_idx"), col("pos_in_batch"))


  /** The END-TO-END curation pipeline as ONE declarative plan: exact
    * dedup → containment dedup (q101's rule) → Gopher quality rules
    * (q104's thresholds), with a per-stage survival report — the
    * dashboard a curation run actually publishes (who dropped what). All
    * three stages compose the already-oracle-checked operators; the
    * report rows are exact BIGINT counts. The stage frames are
    * localCheckpointed at each fan-out: four count branches over a
    * shared lazy lineage re-ran exact dedup and the containment
    * shingle join once per downstream branch (18 full-width scans of
    * `documents` in the executed plan — at 100 TB that is reading the
    * corpus ~18× to emit 3 rows); checkpointing s1/s2 caps the plan at
    * the two scans the algebra needs. */
  protected def q112(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // spreadRead after each stage cut: the checkpointed stage frames
    // collapse to the (few) upstream partitions, and the next stage's
    // per-row shingle/token work would run that serially (r13: the
    // whole report ran its three text stages on one core each)
    val s1 = Tables.spreadRead(docs.join(
      graft.operators.Dedup.exact(docs, "doc_id", "text").select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint())
    val s2 = Tables.spreadRead(
      graft.operators.Dedup.containmentDedup(s1, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50)
      .localCheckpoint())
    val s3 = s2.join(
      graft.operators.QualityRules.gopherFilter(s2, "doc_id", "text",
          minTokens = 30, maxTokens = 80, minMeanLen = 4.0, maxMeanLen = 4.8,
          repN = 2, maxRepetition = 0.05,
          stopwords = Seq("the", "a", "of", "and", "is", "to", "in", "that"),
          minStopHits = 2)
        .where(col("keep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    def cnt(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as(name))
    cnt(docs, "_n0").crossJoin(cnt(s1, "_n1"))
      .crossJoin(cnt(s2, "_n2")).crossJoin(cnt(s3, "_n3"))
      .select(explode(array(
        struct(lit("1_exact_dedup").as("stage"), col("_n0").as("n_in"),
          (col("_n0") - col("_n1")).as("n_dropped"), col("_n1").as("n_out")),
        struct(lit("2_containment_dedup").as("stage"), col("_n1").as("n_in"),
          (col("_n1") - col("_n2")).as("n_dropped"), col("_n2").as("n_out")),
        struct(lit("3_quality_rules").as("stage"), col("_n2").as("n_in"),
          (col("_n2") - col("_n3")).as("n_dropped"), col("_n3").as("n_out"))))
        .as("_r"))
      .select(col("_r.stage"), col("_r.n_in"), col("_r.n_dropped"), col("_r.n_out"))
      .orderBy(col("stage"))
  }


  /** Leakage-safe train/val/test split: the 80/10/10 assignment keyed by
    * the NEAR-DUP CLUSTER representative (q39's components), so a
    * document and its near-duplicate twin can never straddle train and
    * test — q44's failure mode closed
    * ([[graft.operators.Sampling.leakageSafeSplit]]). */
  protected def q118(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.leakageSafeSplit(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50)
      .orderBy(col("id"))


  /** Contrastive negative sampling — four deterministic pseudo-random
    * negatives per anchor document, drawn from the content-keyed global
    * permutation ([[graft.operators.Sampling.contrastiveNegatives]]).
    * Distributed rank (no single-partition window) + one position
    * equi-join; fully hash-checkable (md5 arithmetic mirrored in SQL). */
  protected def q130(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.contrastiveNegatives(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        k = 4, seed = "q130")
      .orderBy(col("doc_id"), col("neg_rank"))


  /** The last mile of the training-data pipeline — batch ASSEMBLY:
    * route documents to 8 worker shards by the content-keyed permutation
    * (q74's assignment), then NEXT-FIT pack each shard's stream into
    * 512-token bins in shuffle order ([[graft.operators.Packing
    * .nextFitPack]]) and report per-bin occupancy. Packing parallelizes
    * across shards with zero global coordination — each worker packs its
    * own slice; token counts ride from the scan (bodies never shuffle). */
  protected def q134(s: SparkSession, dir: String): DataFrame = {
    val sharded = graft.operators.Enrich.enrichedDocuments(s, dir)
      .select(col("doc_id"),
      col("n_tokens").as("n_toks"),
      graft.operators.Sampling.shardCol(col("doc_id"), 8, "q134").cast("long").as("shard"),
      conv(substring(md5(concat(lit("q134:"), col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long").as("_skey"))
    graft.operators.Packing.nextFitPack(sharded, "shard", "_skey", "doc_id",
        "n_toks", cap = 512L)
      .groupBy(col("shard"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("fill_frac", col("n_tokens").cast("double") / lit(512.0))
      .orderBy(col("shard"), col("bin_id"))
  }


  /** RECENCY-weighted panel sampling — 50 users drawn without
    * replacement proportional to their exponentially decayed engagement:
    * q128's exact fixed-point scores feed q96's derandomized
    * Efraimidis–Spirakis keys (the eval-panel / active-user-selection
    * move: heavy-but-stale users decay out of the draw). Pure
    * composition — both stages already oracle-proven; the weight is an
    * exact BIGINT so the only float step is the one quantized ES key. */
  protected def q142(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
        graft.operators.Decay.decayedScore(
          Tables.events(s, dir), "user_id", "ts", "value",
          halfLifeHours = 4, horizonSteps = 20, valueScale = 100L)
          .select(col("user_id"), col("score")),
        "user_id", "score", k = 50, seed = "q142")
      .orderBy(col("key_unats"), col("user_id"))


  /** DATASET CARD: the one-glance corpus summary a dataset release
    * ships — doc/token/source/language counts, exact-dup rate, mean
    * length, source-concentration Gini — every number an exact count or
    * one division of exact counts, stacked to (metric, value) rows. */
  protected def q160(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val core = d.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum(size(Text.tokens(col("text"))).cast("long")).cast("double").as("n_tokens"),
      countDistinct(col("source")).cast("double").as("n_sources"),
      countDistinct(col("lang")).cast("double").as("n_langs"),
      countDistinct(Text.fingerprint(col("text"))).cast("double").as("n_unique"))
    val gini = graft.operators.Checks.giniConcentration(d, "source")
      .select(col("gini").as("source_gini"))
    core.crossJoin(gini)
      .select(explode(array(
        struct(lit("dup_rate").as("metric"),
          ((col("n_docs") - col("n_unique")) / col("n_docs")).as("value")),
        struct(lit("mean_tokens").as("metric"),
          (col("n_tokens") / col("n_docs")).as("value")),
        struct(lit("n_docs").as("metric"), col("n_docs").as("value")),
        struct(lit("n_langs").as("metric"), col("n_langs").as("value")),
        struct(lit("n_sources").as("metric"), col("n_sources").as("value")),
        struct(lit("n_tokens").as("metric"), col("n_tokens").as("value")),
        struct(lit("source_gini").as("metric"), col("source_gini").as("value")),
        struct(lit("unique_fp").as("metric"), col("n_unique").as("value"))))
        .as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
      .orderBy(col("metric"))
  }


  /** Temporal embargo split of the event stream — train on the earliest
    * 70% of the time range, 5%-of-range embargo gap, test after; the
    * profile reports per-(split, event_type) counts, user counts, and
    * exact time bounds so the gap is auditable
    * ([[graft.operators.Sampling.temporalEmbargoSplit]]). */
  protected def q167(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temporalEmbargoSplit(
        Tables.events(s, dir).select(col("event_type"), col("user_id"),
          unix_micros(col("ts")).as("ts_us")),
        "ts_us", trainNum = 7L, trainDen = 10L, embNum = 1L, embDen = 20L)
      .groupBy(col("split"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("ts_us")).as("ts_min"), max(col("ts_us")).as("ts_max"))
      .orderBy(col("split"), col("event_type"))


  /** Greedy MAX-COVERAGE selection — the 5 documents that together cover
    * the most distinct 3-shingles, picked by the submodular greedy
    * ((1−1/e)-optimal); the diversity-seeking complement of the dedup
    * family, oracle-replayed round by round over the shared hashed
    * shingle universe ([[graft.operators.Coverage.maxCoverageSelect]]). */
  protected def q168(s: SparkSession, dir: String): DataFrame =
    graft.operators.Coverage.maxCoverageSelect(s,
        Tables.documents(s, dir), "doc_id", "text", shingleLen = 3,
        rounds = 5)
      .orderBy(col("round"))


  /** MMR diversified top-5 around vec_id 0 — q168's greedy selection
    * doctrine on the dense-vector side: each round's pick maximizes
    * micro-unit `rel − max-sim-to-selected` (λ = ½), candidates never
    * pair with each other, only with the ≤ k broadcast selected vectors
    * ([[graft.operators.Mmr.mmrSelect]]). */
  protected def q179(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mmr.mmrSelect(s, Tables.embeddings(s, dir),
        "vec_id", "embedding", queryId = 0L, k = 5)
      .orderBy(col("round"))


  /** q179's MMR composed with an ANN PRE-THIN — the bounded-candidate
    * shape the Mmr scaladoc promises, demonstrated at the gate:
    * [[graft.operators.Similarity.lshTopK]] (plan-time hyperplanes,
    * exact-cosine re-rank — the q22 machinery, multiprobe 0) cuts the
    * corpus to the M = 32 bucket-mates most relevant to vec 0, and the
    * k = 5 greedy MMR rounds then run over ≤ M candidates with M a PLAN
    * CONSTANT — per-round work M·k instead of n·k, the difference
    * between a driver-round selector that scales and one that re-scans
    * the corpus per round. Hash-gated: the oracle replays bucket
    * construction, the top-M cut (cosine desc, id asc), and the same
    * five generated-CTE rounds. */
  protected def q270(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q0 = emb.where(col("vec_id") === 0)
    val cand = Similarity.lshTopK(q0, emb, "vec_id", "embedding", k = 32,
        planes = 6, tables = 4, dim = EmbeddingDim, multiprobe = 0)
      .select(col("neighbor_id").as("vec_id"))
    graft.operators.Mmr.mmrSelect(s,
        emb.join(cand, Seq("vec_id"), "left_semi").unionByName(q0),
        "vec_id", "embedding", queryId = 0L, k = 5)
      .orderBy(col("round"))
  }


  /** 2-D SKYLINE of documents — the Pareto front of (short, high-
    * quality): no surviving doc is beaten on both axes; histogram
    * prefix-max arithmetic, never an all-pairs dominance join
    * ([[graft.operators.Skyline.paretoFront2D]]). The oracle IS the
    * quadratic NOT EXISTS — mechanism vs semantics, like q182. */
  protected def q183(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Skyline.paretoFront2D(
        graft.operators.Enrich.enrichedDocuments(s, dir)
          .select(col("doc_id"), col("n_chars"),
            col("quality_micro").as("qu")),
        "doc_id", xCol = col("n_chars"), yCol = col("qu"),
        bucketOf = v => shiftright(v, 6))
      .orderBy(col("x"), col("doc_id"))
  }


  /** RENDEZVOUS (highest-random-weight) sharding stability — assign each
    * doc to its argmax-md5 shard under 8 and under 9 shards and measure
    * the reassignment: HRW's contract is that growing the ring moves
    * only ~1/(n+1) of keys (consistent-hashing economics, exactly
    * countable here). Per-row argmax over a literal shard array — zero
    * shuffle before the summary. */
  protected def q191(s: SparkSession, dir: String): DataFrame = {
    def shardOf(n: Int): Column =
      array_max(array((0 until n).map(sh => struct(
        md5(concat(col("doc_id").cast("string"), lit(s":$sh"))).as("h"),
        lit(sh.toLong).as("s"))): _*)).getField("s")
    Tables.documents(s, dir)
      .select(col("doc_id"), shardOf(8).as("s8"), shardOf(9).as("s9"))
      .groupBy(col("s8"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("n_moved"))
      .orderBy(col("s8"))
  }


  /** END-TO-END curation pipeline in ONE plan — canonical dedup
    * (keep-min per normalized fingerprint) → quality floor → md5
    * train/val/test split → per-(split, lang) doc and token counts:
    * the composition the individual operators exist FOR, materialized
    * as a single query whose oracle stitches the same verified
    * fragments (q61 + q24 + q44 + q01 shapes).
    *
    * The GOPHER stage reads the q261 persisted enrichment
    * ([[graft.operators.Enrich.enrichedDocuments]]): `quality` is the
    * bit-identical IEEE double the inline scorer produced and
    * `n_tokens` the same tokenizer count, so the re-point is
    * hash-neutral by the enrichment table's construction — the one
    * remaining text scan is the dedup fingerprint, which inherently
    * needs content. At 100 TB that turns the pipeline's quality+token
    * stages from two tokenizer passes over corpus bytes into a narrow
    * ~60-byte-row join. */
  protected def q192(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val enr = graft.operators.Enrich.enrichedDocuments(s, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
    val fp = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
    val kept = docs.select(col("doc_id"), fp.as("_fp"))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("_fp")).orderBy(col("doc_id"))))
      .where(col("_rk") === 1)
      .join(enr, Seq("doc_id"))
      .where(col("quality") >= lit(0.4))
    graft.operators.Sampling.assignSplit(kept, "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }


  /** SHARD-BALANCE χ² goodness-of-fit — are the md5 shuffle shards
    * uniform? `χ² = Σ_s (O_s·k − N)²/(k·N)` in exact DECIMAL(38)
    * micro-units over the FULL k-shard spine (empty shards contribute
    * their N/k deviation — the spine join is what makes the test
    * honest); q173's sparse-safe doctrine applied to goodness-of-fit,
    * closing the loop with q191's rendezvous stability. */
  protected def q204(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val o = Tables.documents(s, dir)
      .select(graft.operators.Sampling.shardCol(col("doc_id"), k, "shuffle")
        .cast("long").as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("o"))
    val spine = s.range(0, k).select(col("id").as("s"))
    val n = o.agg(sum(col("o")).as("_n"))
    spine.join(o, Seq("s"), "left")
      .select(col("s"), coalesce(col("o"), lit(0L)).as("o"))
      .crossJoin(n)
      .select(expr(s"(CAST(o * $k - _n AS DECIMAL(38,0)) * (o * $k - _n) * 1000000) " +
        s"DIV ($k * CAST(_n AS DECIMAL(38,0)))").as("_t"), col("_n"))
      .groupBy(col("_n"))
      .agg(sum(col("_t")).as("chi2_micro"))
      .select(lit(k.toLong).as("k"), col("_n").as("n"),
        col("chi2_micro").cast("long").as("chi2_micro"),
        (col("chi2_micro").cast("double") / lit(1e6)).as("chi2"))
  }


  /** DSIR importance selection: the 100 documents whose hashed-unigram
    * bag looks most like the English target slice, scored by exact
    * integer sums of site-quantized log ratios over a 4096-bucket
    * feature space; deterministic top-k stands in for the paper's
    * Gumbel resampling ([[graft.operators.Sampling.dsirSelect]]). */
  protected def q248(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Sampling.dsirSelect(
      raw = docs, target = docs.where(col("lang") === "en"),
      idCol = "doc_id", textCol = "text", features = 4096, k = 100)
  }

  /** Raking / iterative proportional fitting: multiplicative cell
    * weights driving the (language × length-bucket) table to uniform
    * marginals on both axes at once — the loss-weighting companion to
    * q55's drop-based resampling; 3 full IPF rounds, micro fixed-point
    * ([[graft.operators.Sampling.rakingWeights]]). */
  protected def q251(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.rakingWeights(
      Tables.documents(s, dir)
        .select(col("lang"), expr("least(n_chars DIV 200, 7)").as("bucket")),
      rowCol = "lang", colCol = "bucket", rounds = 3)

  /** Poisson-bootstrap 90% CIs for each language's mean quality score:
    * deterministic 60-bit Poisson(1) multiplicities (integer threshold
    * compares — no float randomness), exact floor replicate means,
    * order-statistic interval over B = 40 replicates
    * ([[graft.operators.Sampling.poissonBootstrapCi]]). */
  protected def q252(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Sampling.poissonBootstrapCi(
      graft.operators.Enrich.enrichedDocuments(s, dir)
        .select(col("lang"), col("doc_id"),
          col("quality_micro").as("qu")),
      groupCol = "lang", idCol = col("doc_id"), valueCol = col("qu"),
      b = 40, alphaPct = 10)
  }

  protected def oraclesAssembly: Map[String, String] = Map(
      // Raking/IPF: the 3-round alternate-scaling chain replayed as
      // generated CTEs (HUGEINT fixed-point, floor division, zero-marginal
      // CASE mirrored); targets pre-floored once
      "q251_raking" -> {
        val rounds = 3
        val chain = (1 to rounds).map { i =>
          s"""r$i AS (SELECT r, c, n,
               CASE WHEN sum(n * w) OVER (PARTITION BY r) > 0
                 THEN (w * tr) // (sum(n * w) OVER (PARTITION BY r))
                 ELSE w END AS w, tr, tc
             FROM ${if (i == 1) "w0" else s"c${i - 1}"}),
           c$i AS (SELECT r, c, n,
               CASE WHEN sum(n * w) OVER (PARTITION BY c) > 0
                 THEN (w * tc) // (sum(n * w) OVER (PARTITION BY c))
                 ELSE w END AS w, tr, tc
             FROM r$i)"""
        }.mkString(",\n           ")
        s"""WITH cells AS (
             SELECT lang AS r, CAST(least(n_chars // 200, 7) AS VARCHAR) AS c,
               CAST(count(*) AS BIGINT) AS n
             FROM documents GROUP BY 1, 2),
           tot AS (SELECT CAST(sum(n) AS HUGEINT) AS t,
                     CAST(count(DISTINCT r) AS HUGEINT) AS k,
                     CAST(count(DISTINCT c) AS HUGEINT) AS b
                   FROM cells),
           w0 AS (SELECT r, c, n, CAST(1000000 AS HUGEINT) AS w,
                    (t * 1000000) // k AS tr, (t * 1000000) // b AS tc
                  FROM cells CROSS JOIN tot),
           $chain
           SELECT r AS lang, c AS bucket, n,
             CAST(w AS BIGINT) AS w_micro,
             CAST(n * w AS BIGINT) AS weighted_micro
           FROM c$rounds
           ORDER BY lang, bucket"""
      },

      // Poisson bootstrap: the SAME driver-computed 60-bit CDF threshold
      // literals, md5 draws, floor replicate means, order-statistic CI
      "q252_bootstrap_ci" -> {
        val b = 40; val alphaPct = 10
        val lo = b * alphaPct / 100 / 2 + 1
        val hi = b - b * alphaPct / 100 / 2
        val wExpr = graft.operators.Sampling.poissonThresholds60
          .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH base AS (
             SELECT lang AS g, CAST(doc_id AS VARCHAR) AS id,
               CAST(floor(${qualitySql(toks)} * 1e6) AS BIGINT) AS y
             FROM documents),
           pt AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                    CAST((1000000 * CAST(sum(y) AS HUGEINT)
                      - ((1000000 * CAST(sum(y) AS HUGEINT)
                            % count(*) + count(*)) % count(*)))
                      // count(*) AS BIGINT) AS mean_micro
                  FROM base GROUP BY g),
           reps AS (SELECT g, id, y, unnest(range(1, ${b + 1})) AS b FROM base),
           uw AS (SELECT g, b, y,
                    ('0x' || substr(md5('boot:' || CAST(b AS VARCHAR) || ':' || id), 1, 15))::BIGINT AS u
                  FROM reps),
           ww AS (SELECT g, b, y, $wExpr AS w FROM uw),
           rm AS (SELECT g, b, CAST(sum(w) AS BIGINT) AS sw,
                    CAST(sum(w * y) AS BIGINT) AS swy
                  FROM ww GROUP BY g, b HAVING sum(w) > 0),
           mm AS (SELECT g,
                    CAST((1000000 * CAST(swy AS HUGEINT)
                      - ((1000000 * CAST(swy AS HUGEINT) % sw + sw) % sw))
                      // sw AS BIGINT) AS m
                  FROM rm),
           rk AS (SELECT g, m,
                    row_number() OVER (PARTITION BY g ORDER BY m) AS rk,
                    count(*) OVER (PARTITION BY g) AS bu
                  FROM mm),
           ci AS (SELECT g, CAST(max(bu) AS BIGINT) AS b_used,
                    max(CASE WHEN rk = $lo THEN m END) AS lo,
                    max(CASE WHEN rk = $hi THEN m END) AS hi
                  FROM rk GROUP BY g)
           SELECT pt.g AS lang, pt.n, pt.mean_micro,
             CASE WHEN b_used >= 2 THEN lo END AS ci_lo_micro,
             CASE WHEN b_used >= 2 THEN hi END AS ci_hi_micro,
             coalesce(b_used, 0) AS b_used
           FROM pt LEFT JOIN ci ON ci.g = pt.g
           ORDER BY lang"""
      },

      // DSIR: 4096-bucket hashed unigrams, add-1 smoothed micro-nat log
      // ratios quantized per feature, exact integer doc sums, top-100 by
      // (weight desc, id) — the ln chain mirrored verbatim
      "q248_dsir" ->
        s"""WITH rf AS (
             SELECT doc_id,
               ('0x' || substr(md5('dsir:' || w), 1, 15))::BIGINT % 4096 AS f
             FROM (SELECT doc_id, unnest($toks) AS w FROM documents)),
           tf AS (
             SELECT ('0x' || substr(md5('dsir:' || w), 1, 15))::BIGINT % 4096 AS f
             FROM (SELECT unnest($toks) AS w FROM documents WHERE lang = 'en')),
           rc AS (SELECT f, CAST(count(*) AS BIGINT) AS cr FROM rf GROUP BY f),
           tc AS (SELECT f, CAST(count(*) AS BIGINT) AS ct FROM tf GROUP BY f),
           mg AS (SELECT coalesce(rc.f, tc.f) AS f,
                    coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
                  FROM rc FULL OUTER JOIN tc ON rc.f = tc.f),
           tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
                     CAST(sum(ct) AS BIGINT) AS tt FROM mg),
           q AS (SELECT f,
                   CAST(round(ln(
                     (CAST(ct + 1 AS DOUBLE) * CAST(tr + 4096 AS DOUBLE)) /
                     (CAST(cr + 1 AS DOUBLE) * CAST(tt + 4096 AS DOUBLE)))
                     * 1e6) AS BIGINT) AS q
                 FROM mg CROSS JOIN tot),
           hist AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS cnt
                    FROM rf GROUP BY doc_id, f),
           sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_toks,
                    CAST(sum(cnt * q.q) AS BIGINT) AS logw_unats
                  FROM hist JOIN q USING (f) GROUP BY doc_id)
           SELECT doc_id, n_toks, logw_unats FROM sc
           ORDER BY logw_unats DESC, doc_id LIMIT 100""",


      "q40_det_sample" ->
        s"""SELECT doc_id, lang FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
             CASE WHEN lang = 'en' THEN '${graft.operators.Sampling.thresholdHex(0.2)}'
                  ELSE '${graft.operators.Sampling.thresholdHex(0.6)}' END
           ORDER BY doc_id""",

      "q44_split_assign" ->
        s"""SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.operators.Sampling.thresholdHex(0.8)}' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.operators.Sampling.thresholdHex(0.9)}' THEN 'val'
                ELSE 'test' END AS split
           FROM documents ORDER BY doc_id""",

      // identical arithmetic pipeline: per-domain count → sqrt weight →
      // rate (same left-to-right double op order) → md5-prefix threshold
      // compared as a 32-bit integer
      "q55_temperature_mix" ->
        """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
           tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nrows, sum(sqrt(CAST(n AS DOUBLE))) AS wsum FROM counts),
           rates AS (
             SELECT lang,
               CAST(round(least(1.0, 0.5 * nrows * sqrt(CAST(n AS DOUBLE)) / wsum / CAST(n AS DOUBLE))
                 * 4294967296.0) AS BIGINT) AS thr
             FROM counts CROSS JOIN tot)
           SELECT doc_id, lang FROM documents JOIN rates USING (lang)
           WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr
           ORDER BY doc_id""",

      // the exact waterfill, mirrored op for op: sentinel row for the
      // nothing-capped case, cumulative sums in saturation order, the
      // per-prefix lambda candidates with their validity window, min valid
      // lambda applied as min(1, lambda*w/n) — identical double arithmetic
      "q58_waterfill_mix" ->
        """WITH counts AS (
             SELECT lang AS d, CAST(count(*) AS DOUBLE) AS nd,
               sqrt(CAST(count(*) AS DOUBLE)) AS wd
             FROM documents GROUP BY lang),
           u AS (
             SELECT d, nd, wd, nd / wd AS lam FROM counts
             UNION ALL SELECT NULL, 0.0, 0.0, 0.0),
           o AS (
             SELECT d, nd, wd, lam,
               sum(nd) OVER (ORDER BY lam ASC, d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumN,
               sum(wd) OVER (ORDER BY lam ASC, d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumW,
               sum(nd) OVER () AS tot,
               sum(wd) OVER () AS wtot,
               lead(lam, 1) OVER (ORDER BY lam ASC, d ASC) AS nxt
             FROM u),
           lamt AS (
             SELECT d, nd, wd,
               coalesce(min(CASE WHEN (wtot - cumW > 0)
                       AND ((0.85 * tot - cumN) / (wtot - cumW)) >= lam
                       AND (nxt IS NULL OR ((0.85 * tot - cumN) / (wtot - cumW)) <= nxt)
                     THEN (0.85 * tot - cumN) / (wtot - cumW) END) OVER (), 1e18) AS lamstar
             FROM o),
           rates AS (
             SELECT d, CAST(round(least(1.0, lamstar * wd / nd) * 4294967296.0) AS BIGINT) AS thr
             FROM lamt WHERE nd > 0)
           SELECT doc_id, lang FROM documents JOIN rates ON lang = rates.d
           WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr
           ORDER BY doc_id""",

      // the same next-fit transition as the engine's keyed accumulate,
      // unrolled sequentially per lang by a recursive CTE. The anchor is
      // the transition applied to the initial state (fill=0, seq=0):
      // off = 0 and fill = n either way; seq = 1 only if a lone document
      // already overflows the budget (never on this corpus, but the
      // formula keeps the semantics aligned, not data-dependent).
      "q57_nextfit_packing" ->
        s"""WITH RECURSIVE sized AS (
             SELECT lang, doc_id, CAST(len($toks) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             FROM documents),
           packed AS (
             SELECT lang, doc_id, n, rn,
               CASE WHEN n > 128 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS seq_idx,
               CAST(0 AS BIGINT) AS seq_off,
               n AS fill
             FROM sized WHERE rn = 1
             UNION ALL
             SELECT s.lang, s.doc_id, s.n, s.rn,
               CASE WHEN p.fill + s.n > 128 THEN p.seq_idx + 1 ELSE p.seq_idx END,
               CASE WHEN p.fill + s.n > 128 THEN CAST(0 AS BIGINT) ELSE p.fill END,
               CASE WHEN p.fill + s.n > 128 THEN s.n ELSE p.fill + s.n END
             FROM sized s JOIN packed p ON s.lang = p.lang AND s.rn = p.rn + 1)
           SELECT doc_id, lang, n AS n_tokens, seq_idx, seq_off
           FROM packed ORDER BY doc_id""",

      // the engine's distributed prefix sum must equal this plain global
      // window cumsum — chunk assignment is pure integer arithmetic
      "q56_sequence_packing" ->
        s"""WITH sized AS (
             SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
           cum AS (
             SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) - n_tokens AS start
             FROM sized)
           SELECT doc_id, n_tokens, start // 256 AS seq_id, start % 256 AS seq_off,
             (start + CASE WHEN n_tokens > 0 THEN n_tokens - 1 ELSE 0 END) // 256 AS end_seq_id
           FROM cum ORDER BY doc_id""",

      // quantile_cont == Spark's percentile (linear interpolation — the
      // q46-established parity); the clip itself is least/greatest over
      // the same doubles
      "q64_outlier_clip" ->
        """WITH b AS (
             SELECT lang, quantile_cont(n_chars, 0.05) AS v_lo,
                    quantile_cont(n_chars, 0.95) AS v_hi
             FROM documents GROUP BY lang)
           SELECT doc_id, d.lang AS lang, n_chars, v_lo, v_hi,
             least(greatest(CAST(n_chars AS DOUBLE), v_lo), v_hi) AS n_chars_clipped
           FROM documents d JOIN b ON d.lang = b.lang
           ORDER BY doc_id""",

      // content-keyed permutation: identical 60-bit md5 key, shard = key
      // mod nShards, pos = rank within the shard (key order, id tiebreak)
      "q74_shuffle_shard" ->
        """WITH k AS (
             SELECT doc_id,
               CAST('0x' || substr(md5('r5:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS skey
             FROM documents)
           SELECT doc_id, CAST(skey % 8 AS INTEGER) AS shard,
             CAST(row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS BIGINT) - 1 AS pos
           FROM k ORDER BY shard, pos""",

      // the engine's per-domain greedy fold must equal this recursive-CTE
      // unroll of the same transition (skip-and-continue: a doc that would
      // cross the budget is dropped, scanning continues)
      "q75_token_budget" ->
        s"""WITH RECURSIVE sized AS (
             SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
               row_number() OVER (PARTITION BY source ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
             FROM documents),
           walked AS (
             SELECT source, doc_id, n_tokens, rn,
               CASE WHEN n_tokens <= 700 THEN n_tokens ELSE CAST(0 AS BIGINT) END AS cum_tokens,
               n_tokens <= 700 AS kept
             FROM sized WHERE rn = 1
             UNION ALL
             SELECT s.source, s.doc_id, s.n_tokens, s.rn,
               CASE WHEN w.cum_tokens + s.n_tokens <= 700
                 THEN w.cum_tokens + s.n_tokens ELSE w.cum_tokens END,
               w.cum_tokens + s.n_tokens <= 700
             FROM sized s JOIN walked w ON s.source = w.source AND s.rn = w.rn + 1)
           SELECT doc_id, source, n_tokens, cum_tokens, kept
           FROM walked ORDER BY doc_id""",

      // largest-remainder apportionment of exactly 300 slots across
      // sources (base ⌊300·cnt/T⌋ + remainder top-up, stratum ascending on
      // ties), stratum filled in md5(doc_id) order — all-integer arithmetic
      "q78_stratified_quota" ->
        """WITH c AS (
             SELECT source, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY source),
           a AS (
             SELECT source, cnt,
               (cnt * 300) // (sum(cnt) OVER ()) AS base,
               (cnt * 300) % (sum(cnt) OVER ()) AS rem
             FROM c),
           q AS (
             SELECT source,
               CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <=
                 300 - sum(base) OVER () THEN 1 ELSE 0 END AS BIGINT) AS quota
             FROM a)
           SELECT d.doc_id, d.source, q.quota,
             row_number() OVER (PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) <= q.quota AS kept
           FROM documents d JOIN q USING (source)
           ORDER BY doc_id""",

      "q68_group_cap" ->
        """SELECT doc_id, lang FROM (
             SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             FROM documents) t
           WHERE rn <= 50 ORDER BY doc_id""",

      "q69_interleave" ->
        """WITH g AS (
             SELECT lang, row_number() OVER (ORDER BY lang) AS grank,
               count(*) OVER () AS gn
             FROM (SELECT DISTINCT lang FROM documents)),
           r AS (
             SELECT doc_id, d.lang,
               row_number() OVER (PARTITION BY d.lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             FROM documents d)
           SELECT doc_id, r.lang AS lang,
             (rn - 1) * gn + (grank - 1) AS order_idx
           FROM r JOIN g ON r.lang = g.lang
           ORDER BY order_idx""",

      // Efraimidis-Spirakis keys over the identical 60-bit md5 u, quantized
      // to micro-nats before ranking (q81's exactness argument for ln)
      "q96_weighted_sample" ->
        """WITH kk AS (
             SELECT doc_id, n_chars,
               CAST(round(-ln((CAST('0x' || substr(md5('q96:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1.0)
                     / 1152921504606846976.0)
                   / n_chars * 1e6) AS BIGINT) AS key_unats
             FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
           SELECT doc_id, n_chars, key_unats FROM kk
           ORDER BY key_unats, doc_id LIMIT 80""",

      // q96's Efraimidis-Spirakis keys ranked within each source stratum
      "q98_group_weighted_sample" ->
        """WITH kk AS (
             SELECT source, doc_id, n_chars,
               CAST(round(-ln((CAST('0x' || substr(md5('q98:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1.0)
                     / 1152921504606846976.0)
                   / n_chars * 1e6) AS BIGINT) AS key_unats
             FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
           r AS (SELECT *, CAST(row_number() OVER (
                   PARTITION BY source ORDER BY key_unats, doc_id) AS BIGINT) AS rank
                 FROM kk)
           SELECT source, doc_id, n_chars, key_unats, rank FROM r
           WHERE rank <= 20 ORDER BY source, rank""",

      // both engines rank by the identical (md5 hex, id) order within each
      // length bucket; batch arithmetic is exact integer DIV/mod
      "q107_length_batching" ->
        s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok,
               md5('batch:' || CAST(doc_id AS VARCHAR)) AS okey FROM documents),
           b AS (SELECT doc_id, n_tok, n_tok // 16 AS bucket, okey FROM t),
           r AS (SELECT doc_id, n_tok, bucket,
               CAST(row_number() OVER (
                 PARTITION BY bucket ORDER BY okey, doc_id) AS BIGINT) AS rn
             FROM b)
           SELECT doc_id, n_tok, bucket,
             (rn - 1) // 24 AS batch_idx,
             (rn - 1) % 24 AS pos_in_batch
           FROM r ORDER BY bucket, batch_idx, pos_in_batch""",

      // the q17 + q101 + q104 CTEs chained over each stage's survivors;
      // stage names carry the pipeline order so ORDER BY stage is the
      // pipeline order
      "q112_pipeline_report" -> {
        val rep2 =
          s"CASE WHEN len(${shingles(2)}) <= 1 THEN 0.0 " +
          s"ELSE 1.0 - CAST(len(list_distinct(${shingles(2)})) AS DOUBLE) / CAST(len(${shingles(2)}) AS DOUBLE) END"
        s"""WITH s1 AS MATERIALIZED (
             SELECT d.* FROM documents d JOIN (
               SELECT min(doc_id) AS doc_id FROM (
                 SELECT doc_id, md5($norm) AS fp FROM documents) f
               GROUP BY fp) k USING (doc_id)),
           sh AS (SELECT doc_id AS id, unnest(${hashedShingles(3)}) AS s
                  FROM (SELECT doc_id, $toks AS toks FROM s1) dd),
           filtered AS (
             SELECT id, s FROM (
               SELECT id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) t
             WHERE df <= 50),
           sizes AS (SELECT id, count(*) AS n_sh FROM filtered GROUP BY id),
           pairs AS (
             SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
             FROM filtered a JOIN filtered b ON a.s = b.s AND a.id < b.id
             GROUP BY 1, 2),
           flagged AS (
             SELECT id_a, id_b, sa.n_sh AS na, sb.n_sh AS nb
             FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
             WHERE CAST(shared AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.5),
           victims AS (
             SELECT DISTINCT CASE WHEN na < nb OR (na = nb AND id_a > id_b)
               THEN id_a ELSE id_b END AS victim FROM flagged),
           s2 AS MATERIALIZED (
             SELECT * FROM s1 WHERE doc_id NOT IN (SELECT victim FROM victims)),
           m AS (SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CASE WHEN len(toks) > 0
                 THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) END AS mean_len,
               $rep2 AS rep,
               CAST(len(list_filter(['the','a','of','and','is','to','in','that'],
                 s -> list_contains(toks, s))) AS BIGINT) AS stop_hits
             FROM (SELECT doc_id, $toks AS toks FROM s2) q),
           s3 AS MATERIALIZED (
             SELECT doc_id FROM m
             WHERE n_tok BETWEEN 30 AND 80
               AND coalesce(mean_len BETWEEN 4.0 AND 4.8, false)
               AND rep <= 0.05 AND stop_hits >= 2),
           n AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n0,
             (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
             (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3)
           SELECT stage, n_in, n_dropped, n_out FROM (
             SELECT '1_exact_dedup' AS stage, n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM n
             UNION ALL
             SELECT '2_containment_dedup', n1, n1 - n2, n2 FROM n
             UNION ALL
             SELECT '3_quality_rules', n2, n2 - n3, n3 FROM n)
           ORDER BY stage"""
      },

      // q39's cluster closure + q44's md5 CASE, keyed by the cluster
      // representative — near-dup twins share the key, so they share the
      // split on both engines by construction
      "q118_leakage_safe_split" ->
        s"""WITH RECURSIVE
           ${clusterCtes(toks, hashedShingles(3))}
           SELECT doc_id AS id,
             coalesce(comp.component, doc_id) AS representative,
             CASE WHEN substr(md5(CAST(coalesce(comp.component, doc_id) AS VARCHAR)), 1, 8)
                    < '${graft.operators.Sampling.thresholdHex(0.8)}' THEN 'train'
                  WHEN substr(md5(CAST(coalesce(comp.component, doc_id) AS VARCHAR)), 1, 8)
                    < '${graft.operators.Sampling.thresholdHex(0.9)}' THEN 'val'
                  ELSE 'test' END AS split
           FROM documents LEFT JOIN comp ON comp.id = doc_id
           ORDER BY id""",

      // content-keyed global permutation (the q74 60-bit md5 recipe) +
      // per-(anchor, j) uniform draws mod N; self-draws step forward one
      // position wrapping — all BIGINT, join on position
      "q130_contrastive_negatives" ->
        """WITH r AS (
             SELECT doc_id,
               CAST(row_number() OVER (ORDER BY
                 CAST('0x' || substr(md5('q130:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                 doc_id) AS BIGINT) AS rnk
             FROM documents),
           n AS (SELECT CAST(max(rnk) AS BIGINT) AS cnt FROM r),
           j AS (SELECT unnest(range(1, 5)) AS neg_rank),
           d AS (
             SELECT r.doc_id, r.rnk, j.neg_rank, n.cnt,
               1 + (CAST('0x' || substr(md5('q130:neg:' || CAST(doc_id AS VARCHAR)
                 || ':' || CAST(neg_rank AS VARCHAR)), 1, 15) AS BIGINT) % n.cnt) AS cand
             FROM r CROSS JOIN n CROSS JOIN j),
           p AS (SELECT doc_id, neg_rank,
               CASE WHEN cand = rnk THEN 1 + (cand % cnt) ELSE cand END AS pos
             FROM d)
           SELECT p.doc_id, CAST(p.neg_rank AS BIGINT) AS neg_rank,
             t.doc_id AS neg_id
           FROM p JOIN r t ON t.rnk = p.pos
           WHERE t.doc_id <> p.doc_id
           ORDER BY p.doc_id, neg_rank""",

      // q74's permutation mirror + the q57 recursive next-fit transition
      // keyed by SHARD, aggregated to per-bin occupancy
      "q134_batch_assembly" ->
        s"""WITH RECURSIVE t AS (
             SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_toks,
               CAST('0x' || substr(md5('q134:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS skey
             FROM documents),
           s AS (
             SELECT doc_id, n_toks, skey % 8 AS shard,
               row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS rn
             FROM t),
           walked AS (
             SELECT doc_id, shard, n_toks, rn, CAST(0 AS BIGINT) AS bin,
               n_toks AS fill
             FROM s WHERE rn = 1
             UNION ALL
             SELECT s.doc_id, s.shard, s.n_toks, s.rn,
               CASE WHEN w.fill > 0 AND w.fill + s.n_toks > 512
                 THEN w.bin + 1 ELSE w.bin END,
               CASE WHEN w.fill > 0 AND w.fill + s.n_toks > 512
                 THEN s.n_toks ELSE w.fill + s.n_toks END
             FROM s JOIN walked w ON s.shard = w.shard AND s.rn = w.rn + 1)
           SELECT shard, bin AS bin_id, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             CAST(sum(n_toks) AS DOUBLE) / 512.0 AS fill_frac
           FROM walked GROUP BY shard, bin ORDER BY shard, bin_id""",

      // q128's decayed-score body feeding q96's ES-key recipe: weight =
      // exact BIGINT score, key quantized to integer micro-nats
      "q142_recency_sample" -> {
        s"""WITH sc AS ($decayedScoreSql),
           kk AS (
             SELECT user_id, score,
               CAST(round(-ln((CAST('0x' || substr(md5('q142:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) + 1.0)
                     / 1152921504606846976.0)
                   / CAST(score AS DOUBLE) * 1e6) AS BIGINT) AS key_unats
             FROM sc WHERE score IS NOT NULL AND score > 0)
           SELECT user_id, score, key_unats FROM kk
           ORDER BY key_unats, user_id LIMIT 50"""
      },

      // every metric an exact count or ONE division of exact counts;
      // fingerprint = md5 of the shared normalization (q35's md5_fp)
      "q160_dataset_card" ->
        s"""WITH t AS (SELECT source, lang, CAST(len($toks) AS BIGINT) AS n,
                        md5($norm) AS fp FROM documents),
           c AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   CAST(sum(n) AS DOUBLE) AS n_tokens,
                   CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
                   CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
                   CAST(count(DISTINCT fp) AS DOUBLE) AS n_unique FROM t),
           x AS (SELECT source, CAST(count(*) AS BIGINT) AS x
                 FROM documents GROUP BY source),
           ri AS (SELECT x, CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i,
                    CAST(count(*) OVER () AS BIGINT) AS g FROM x),
           gn AS (SELECT CAST(sum((2 * i - g - 1) * x) AS DOUBLE)
                    / CAST(max(g) * sum(x) AS DOUBLE) AS gini FROM ri)
           SELECT metric, value FROM (
             SELECT 'dup_rate' AS metric, (n_docs - n_unique) / n_docs AS value FROM c
             UNION ALL SELECT 'mean_tokens', n_tokens / n_docs FROM c
             UNION ALL SELECT 'n_docs', n_docs FROM c
             UNION ALL SELECT 'n_langs', n_langs FROM c
             UNION ALL SELECT 'n_sources', n_sources FROM c
             UNION ALL SELECT 'n_tokens', n_tokens FROM c
             UNION ALL SELECT 'source_gini', gini FROM gn
             UNION ALL SELECT 'unique_fp', n_unique FROM c) u
           ORDER BY metric""",

      // exact BIGINT boundary arithmetic over epoch micros: lo = min +
      // span·7 DIV 10, hi = lo + span DIV 20
      "q167_embargo_split" ->
        """WITH t AS (SELECT event_type, user_id, epoch_us(ts) AS ts_us FROM events),
           b AS (SELECT min(ts_us) AS tmin, max(ts_us) AS tmax FROM t),
           s AS (SELECT t.*,
                   CASE WHEN ts_us <= tmin + ((tmax - tmin) * 7) // 10 THEN 'train'
                        WHEN ts_us > tmin + ((tmax - tmin) * 7) // 10
                                      + (tmax - tmin) // 20 THEN 'test'
                        ELSE 'embargo' END AS split
                 FROM t CROSS JOIN b)
           SELECT split, event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(min(ts_us) AS BIGINT) AS ts_min,
             CAST(max(ts_us) AS BIGINT) AS ts_max
           FROM s GROUP BY split, event_type
           ORDER BY split, event_type""",

      // five generated greedy rounds over the shared hashed-shingle
      // universe: winner = (gain desc, doc_id), covered set grows by the
      // winner's shingles; a saturated doc has no surviving rows so it
      // can never be re-picked on either engine
      "q168_coverage_select" -> {
        val n = 5
        val roundCtes = (1 to n).map { r =>
          val prev = if (r == 1) "" else s" WHERE k NOT IN (SELECT k FROM c${r - 1})"
          val carry = if (r == 1) "" else s"SELECT k FROM c${r - 1} UNION "
          s""",
           r$r AS (SELECT d, CAST(count(*) AS BIGINT) AS g FROM inc$prev
                   GROUP BY d ORDER BY g DESC, d LIMIT 1),
           c$r AS (${carry}SELECT inc.k FROM inc JOIN r$r ON inc.d = r$r.d)"""
        }.mkString
        val rows = (1 to n).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS round, d AS doc_id, g AS gain,
             (SELECT CAST(count(*) AS BIGINT) FROM c$r) AS covered_total FROM r$r""")
          .mkString("\n           UNION ALL\n           ")
        s"""WITH inc AS (
             SELECT doc_id AS d, unnest(${hashedShingles(3)}) AS k
             FROM (SELECT doc_id, $toks AS toks FROM documents) t)$roundCtes
           $rows
           ORDER BY round"""
      },

      // 5 generated MMR rounds (the q168 replay pattern): q21's cosine
      // shape quantized to micro-units at each computation site, pure
      // BIGINT decisions thereafter
      "q179_mmr_select" -> {
        def cos(a: String, an: String, b: String, bn: String) =
          s"""CAST(round(CASE WHEN $an * $bn = 0 THEN 0.0
               ELSE list_sum(list_transform(range(1, len($a) + 1), i ->
                      CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / ($an * $bn)
               END * 1e6) AS BIGINT)"""
        val rounds = (2 to 5).map { r =>
          s""",
           p$r AS (SELECT c.id, c.rel_u,
                     max(${cos("s.v", "s.n", "c.v", "c.n")}) AS ms
                   FROM rel c, rel s
                   WHERE s.id IN (SELECT id FROM sel${r - 1})
                     AND c.id NOT IN (SELECT id FROM sel${r - 1})
                   GROUP BY c.id, c.rel_u),
           s$r AS (SELECT CAST($r AS BIGINT) AS round, id, rel_u, ms
                   FROM p$r ORDER BY rel_u - ms DESC, id LIMIT 1),
           sel$r AS (SELECT id FROM sel${r - 1} UNION ALL SELECT id FROM s$r)"""
        }.mkString
        val union = (1 to 5).map(r =>
          s"SELECT round, id, rel_u, ms FROM s$r").mkString("\n           UNION ALL\n           ")
        s"""WITH base AS (SELECT vec_id AS id, embedding AS v,
               sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
             FROM embeddings),
           q AS (SELECT v AS qv, n AS qn FROM base WHERE id = 0),
           rel AS (SELECT id, v, n, ${cos("qv", "qn", "v", "n")} AS rel_u
                   FROM base CROSS JOIN q WHERE id <> 0),
           s1 AS (SELECT CAST(1 AS BIGINT) AS round, id, rel_u, CAST(0 AS BIGINT) AS ms
                  FROM rel ORDER BY rel_u DESC, id LIMIT 1),
           sel1 AS (SELECT id FROM s1)$rounds
           SELECT round, id, rel_u AS rel_micro, ms AS maxsim_micro,
             CAST(rel_u - ms AS BIGINT) AS score2
           FROM ($union)
           ORDER BY round"""
      },

      // q179's MMR rounds replayed over the LSH-bucketed, exact-cosine
      // top-32 pre-thin: bucket bits from the same plan-time hyperplanes
      // (q22's scheme, multiprobe 0), the M-cut on the raw double cosine
      // (desc, id asc — the engine's row_number order), then the same
      // generated round CTEs over the 32-row rel table
      "q270_mmr_prethin" -> {
        def cos(a: String, an: String, b: String, bn: String) =
          s"""CAST(round(CASE WHEN $an * $bn = 0 THEN 0.0
               ELSE list_sum(list_transform(range(1, len($a) + 1), i ->
                      CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / ($an * $bn)
               END * 1e6) AS BIGINT)"""
        def hp(t: Int, p: Int): String =
          Vectors.hyperplane(t * 1000 + p, EmbeddingDim)
            .map(_.toString).mkString("[", ", ", "]")
        def proj(vec: String, t: Int, p: Int): String =
          s"list_sum(list_transform(range(1, ${EmbeddingDim + 1}), i -> " +
            s"CAST($vec[i] AS DOUBLE) * (${hp(t, p)})[i]))"
        def bit(vec: String, t: Int, p: Int): String =
          s"(CASE WHEN ${proj(vec, t, p)} >= 0 THEN '1' ELSE '0' END)"
        val variants = (0 until 4).map { t =>
          s"'$t:' || ${(0 until 6).map(p => bit("embedding", t, p)).mkString(" || ")}"
        }.mkString("[", ", ", "]")
        val rounds = (2 to 5).map { r =>
          s""",
           p$r AS (SELECT c.id, c.rel_u,
                     max(${cos("s.v", "s.n", "c.v", "c.n")}) AS ms
                   FROM rel c, rel s
                   WHERE s.id IN (SELECT id FROM sel${r - 1})
                     AND c.id NOT IN (SELECT id FROM sel${r - 1})
                   GROUP BY c.id, c.rel_u),
           s$r AS (SELECT CAST($r AS BIGINT) AS round, id, rel_u, ms
                   FROM p$r ORDER BY rel_u - ms DESC, id LIMIT 1),
           sel$r AS (SELECT id FROM sel${r - 1} UNION ALL SELECT id FROM s$r)"""
        }.mkString
        val union = (1 to 5).map(r =>
          s"SELECT round, id, rel_u, ms FROM s$r").mkString("\n           UNION ALL\n           ")
        s"""WITH cb AS (SELECT vec_id AS neighbor_id, unnest($variants) AS bucket
             FROM embeddings),
           qb AS (SELECT bucket FROM cb WHERE neighbor_id = 0),
           candAll AS (SELECT DISTINCT cb.neighbor_id
                       FROM cb JOIN qb USING (bucket)
                       WHERE cb.neighbor_id <> 0),
           base AS (SELECT vec_id AS id, embedding AS v,
               sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
             FROM embeddings),
           q AS (SELECT v AS qv, n AS qn FROM base WHERE id = 0),
           scored AS (SELECT c.id, c.v, c.n, ${cos("qv", "qn", "c.v", "c.n")} AS rel_u,
               CASE WHEN qn * c.n = 0 THEN 0.0
                 ELSE list_sum(list_transform(range(1, len(c.v) + 1), i ->
                        CAST(qv[i] AS DOUBLE) * CAST(c.v[i] AS DOUBLE))) / (qn * c.n)
               END AS cs
             FROM base c JOIN candAll ON c.id = candAll.neighbor_id
             CROSS JOIN q),
           rel AS MATERIALIZED (SELECT id, v, n, rel_u FROM scored
                   ORDER BY cs DESC, id LIMIT 32),
           s1 AS (SELECT CAST(1 AS BIGINT) AS round, id, rel_u, CAST(0 AS BIGINT) AS ms
                  FROM rel ORDER BY rel_u DESC, id LIMIT 1),
           sel1 AS (SELECT id FROM s1)$rounds
           SELECT round, id, rel_u AS rel_micro, ms AS maxsim_micro,
             CAST(rel_u - ms AS BIGINT) AS score2
           FROM ($union)
           ORDER BY round"""
      },

      // the quadratic NOT EXISTS dominance check the engine's histogram
      // prefix-max replaces
      "q183_skyline" ->
        s"""WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
                 CAST(floor(${qualitySql(toks)} * 1e6) AS BIGINT) AS y
               FROM documents)
           SELECT doc_id, x, y FROM d a
           WHERE NOT EXISTS (
             SELECT 1 FROM d b
             WHERE b.x <= a.x AND b.y >= a.y AND (b.x < a.x OR b.y > a.y))
           ORDER BY x, doc_id""",

      // argmax-md5 per (doc, shard) replayed by window; the Spark
      // array_max struct tiebreak (larger s on an md5 collision) is
      // mirrored by ORDER BY h DESC, s DESC
      "q191_rendezvous" ->
        """WITH a AS (SELECT doc_id, s,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS h
             FROM documents CROSS JOIN (SELECT unnest(range(0, 9)) AS s) sh),
           r8 AS (SELECT doc_id, s AS s8 FROM (
                    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                      ORDER BY h DESC, s DESC) AS rn
                    FROM a WHERE s < 8) x WHERE rn = 1),
           r9 AS (SELECT doc_id, s AS s9 FROM (
                    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                      ORDER BY h DESC, s DESC) AS rn
                    FROM a) x WHERE rn = 1)
           SELECT s8, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
           FROM r8 JOIN r9 USING (doc_id)
           GROUP BY s8 ORDER BY s8""",

      // the verified fragments stitched: q61 keep-min dedup, q24 quality
      // floor, q44 md5 split, q01-shape rollup
      "q192_pipeline_e2e" ->
        s"""WITH kept AS (
             SELECT doc_id, lang, text FROM (
               SELECT doc_id, lang, text,
                 row_number() OVER (PARTITION BY md5($norm) ORDER BY doc_id) AS rk
               FROM documents) k WHERE rk = 1),
           q AS (SELECT doc_id, lang, text FROM kept
                 WHERE ${qualitySql(toks)} >= 0.4),
           sp AS (SELECT lang, text,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.operators.Sampling.thresholdHex(0.8)}' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.operators.Sampling.thresholdHex(0.9)}' THEN 'val'
                    ELSE 'test' END AS split
             FROM q)
           SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len($toks)) AS BIGINT) AS n_tokens
           FROM sp GROUP BY 1, 2 ORDER BY split, lang""",

      // q173's sparse-safe χ² doctrine as goodness-of-fit over the FULL
      // shard spine (empty shards contribute their N/k deviation)
      "q204_shard_balance" ->
        """WITH o AS (SELECT ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 32 AS sh,
                 CAST(count(*) AS BIGINT) AS o
               FROM documents GROUP BY 1),
           spine AS (SELECT unnest(range(0, 32)) AS sh),
           nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
           t AS (SELECT (CAST(coalesce(o.o, 0) * 32 - n AS HUGEINT)
                   * (coalesce(o.o, 0) * 32 - n) * 1000000)
                   // (32 * CAST(n AS HUGEINT)) AS tm
                 FROM spine LEFT JOIN o USING (sh) CROSS JOIN nn)
           SELECT CAST(32 AS BIGINT) AS k, n,
             CAST(sum(tm) AS BIGINT) AS chi2_micro,
             CAST(CAST(sum(tm) AS BIGINT) AS DOUBLE) / 1e6 AS chi2
           FROM t CROSS JOIN nn GROUP BY n""",
  )
}
