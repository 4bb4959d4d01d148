package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample()` is seed-dependent per partition split — rerunning after a
  * repartition yields a different subset. Pipelines need CONTENT-keyed
  * sampling: whether a row is in the sample depends only on its id, so the
  * sample is stable across runs, partitionings, engines, and incremental
  * loads. Implemented as an md5-prefix threshold (uniform over ids,
  * engine-portable — the DuckDB oracle computes the identical predicate),
  * evaluated as a narrow per-row filter with zero shuffle. */
object Sampling {

  /** Hex threshold on the first 8 md5 digits for the given rate. Rate 1.0
    * returns the sentinel "g": md5 prefixes use only [0-9a-f], all of which
    * sort below 'g', so `prefix < 'g'` keeps EVERY row — a clamped
    * "ffffffff" threshold with a strict `<` would silently drop the ~2⁻³²
    * of rows whose prefix is exactly ffffffff. The sentinel keeps the
    * predicate one uniform string comparison across plain and stratified
    * paths and is mirrored verbatim by the SQL oracle. */
  private[graft] def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    if (rate >= 1.0) "g"
    else f"${math.round(rate * (1L << 32)).min((1L << 32) - 1)}%08x"
  }

  /** Membership predicate: row is sampled iff md5(id)[0,8) < threshold. */
  def samplePredicate(idCol: Column, rate: Double): Column =
    substring(md5(idCol.cast("string")), 1, 8) < lit(thresholdHex(rate))

  /** Keep ~`rate` of rows, keyed by `idCol` — stable under reruns and
    * repartitioning. */
  def deterministicSample(df: DataFrame, idCol: String, rate: Double): DataFrame =
    df.where(samplePredicate(col(idCol), rate))

  /** Deterministic train/val/test split assignment: each row lands in
    * exactly one named split, by md5 range partition on its id. Content-
    * keyed like [[deterministicSample]] — stable across runs, partitionings,
    * engines, and incremental loads, which is what makes a split SAFE for a
    * training pipeline (a seed-based split reshuffles rows between train and
    * test on every rerun — silent eval contamination). Narrow per-row
    * expression, zero shuffle.
    *
    * @param splits ordered (name, weight) list; weights must sum to 1. The
    *               LAST split takes the residual hash range, so rounding
    *               never drops a row. */
  def assignSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
                  as: String = "split"): DataFrame = {
    require(splits.nonEmpty, "assignSplit needs at least one split")
    require(splits.forall(_._2 >= 0.0), s"negative split weight in $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    // clamp: fp prefix-sums of weights that pass the 1e-9 total check can
    // still exceed 1.0 by an ulp, which thresholdHex would reject
    val cum = splits.init.scanLeft(0.0)(_ + _._2).tail.map(c => math.min(c, 1.0))
    val h = substring(md5(col(idCol).cast("string")), 1, 8)
    val assigned = splits.init.zip(cum).foldRight(lit(splits.last._1): Column) {
      case (((name, _), upper), rest) => when(h < lit(thresholdHex(upper)), lit(name)).otherwise(rest)
    }
    df.withColumn(as, assigned)
  }

  /** LEAKAGE-SAFE split assignment: [[assignSplit]] keyed by the NEAR-DUP
    * CLUSTER representative instead of the document's own id, so every
    * member of a duplicate family lands in the same split BY CONSTRUCTION.
    * Splitting on the raw doc id silently leaks: a train document's
    * near-duplicate twin falls into test with probability `1 − p_train`,
    * and the eval measures memorization — the contamination failure mode
    * train/test dedup papers (e.g. Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") exist to prevent.
    * Clusters come from [[Dedup.deduplicateNearDups]]'s connected
    * components over the n-gram Jaccard pair graph (singletons are their
    * own representative, so non-duplicated docs hash exactly as
    * [[assignSplit]] would hash them).
    *
    * ## Scale shape (100 TB)
    * Everything heavy is the clustering itself (q39's frontier-propagation
    * machinery — banded inverted index, never all-pairs); the split
    * assignment on top is one narrow md5-threshold expression over the
    * representative. Returns `(id, representative, split)`. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
                       splits: Seq[(String, Double)], shingleLen: Int = 3,
                       threshold: Double = 0.6, maxShingleDf: Int = 50): DataFrame =
    assignSplit(
      Dedup.deduplicateNearDups(docs, idCol, textCol, shingleLen, threshold,
        maxShingleDf).select(col("id"), col("representative")),
      "representative", splits)

  /** The batch-built routing model for
    * [[graft.streaming.Streams.splitRoutingStream]]: `(fp,
    * representative)` — each distinct content fingerprint in the corpus
    * mapped to its near-dup cluster representative. One row per DISTINCT
    * normalized content; if identical content ever lands in two clusters
    * (possible only when every shared shingle is over the df cap, so the
    * jaccard pair was never generated), the smaller representative wins
    * deterministically. Rebuild alongside the dedup index; serve it as a
    * table for the stream-static join. */
  def clusterFingerprintModel(docs: DataFrame, idCol: String, textCol: String,
                              shingleLen: Int = 3, threshold: Double = 0.6,
                              maxShingleDf: Int = 50): DataFrame =
    Dedup.deduplicateNearDups(docs, idCol, textCol, shingleLen, threshold,
        maxShingleDf)
      .join(docs.select(col(idCol).as("id"),
        graft.functions.Text.fingerprint(col(textCol)).as("fp")), Seq("id"))
      .groupBy(col("fp")).agg(min(col("representative")).as("representative"))

  /** Temperature-flattened domain mixing — the standard LLM data-mix
    * resampler: the target volume `targetFraction·N` is allocated across
    * domains ∝ n_d^α, so domain d is kept at rate
    * `r_d = min(1, f·N·n_d^α / (Σ_j n_j^α · n_d))`. α=1 reproduces the
    * natural mix (every rate = f); α→0 flattens toward equal per-domain
    * volume, upweighting rare domains; α=0.5 is the common sqrt mix.
    * Membership is content-keyed (the same md5 threshold as
    * [[deterministicSample]], compared as a 32-bit integer), so the
    * resample is stable across runs, partitionings, and engines.
    *
    * Scale shape: the rate table is one tiny partial-agg'd count per
    * domain plus window totals over that counts frame, broadcast back onto
    * the fact scan — the data path is a narrow per-row predicate with ZERO
    * extra shuffle.
    *
    * With `redistribute = false` the allocation is single-pass: a domain
    * whose proportional share exceeds its size is clipped at rate 1 and
    * the excess is LOST (the realized total undershoots f·N). With
    * `redistribute = true` the operator solves the exact waterfill
    * instead: rates are `min(1, λ·w_d/n_d)` with λ chosen so the realized
    * total EQUALS min(f·N, N). No iteration is needed — domains saturate
    * in increasing `n_d/w_d` order, so λ has a closed form per prefix of
    * that order, and the whole solve is window arithmetic over the
    * #domains-row counts frame (a sentinel row encodes the nothing-capped
    * case; still one domain-key exchange, still broadcast back).
    *
    * Engine-parity notes (for oracle-checked pipelines): α=0.5 and α=1
    * use `sqrt`/identity — IEEE-exact on every engine; other α go through
    * `pow`, whose last-ulp behavior is platform-specific (fine in
    * production, avoid where bit-parity is asserted). Rows with a NULL
    * domain have no defined rate and are dropped. */
  def temperatureResample(df: DataFrame, idCol: String, domainCol: String,
                          alpha: Double, targetFraction: Double,
                          redistribute: Boolean = false): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0,1], got $targetFraction")
    if (redistribute)
      return temperatureResampleWaterfill(df, idCol, domainCol, alpha, targetFraction)
    applyRates(df, idCol, domainCol,
      temperatureRates(df, domainCol, alpha, targetFraction))
  }

  /** The per-domain rate table behind [[temperatureResample]]:
    * (domainCol, _thr) with `_thr` = rate·2³² on the 32-bit md5 prefix.
    * Public so a STREAMING pipeline can compute it on a batch snapshot and
    * broadcast it into [[graft.streaming.Streams.temperatureResampleStream]]
    * — the rate table is #domains rows of model, not data. */
  def temperatureRates(df: DataFrame, domainCol: String,
                       alpha: Double, targetFraction: Double): DataFrame = {
    // same domain checks as temperatureResample — this is a public entry
    // point (the streaming path calls it directly), and alpha = 0 would
    // silently mean uniform weights, not an error
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0,1], got $targetFraction")
    val weight =
      if (alpha == 0.5) sqrt(col("_n").cast("double"))
      else if (alpha == 1.0) col("_n").cast("double")
      else pow(col("_n").cast("double"), lit(alpha))
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("_n"))
      .withColumn("_w", weight)
    // corpus totals via a window over the COUNTS frame (#domains rows) —
    // a separate .agg would make Spark recompute the counts subtree and
    // scan the fact table twice. The unpartitioned window is over the tiny
    // aggregate, never the data (ScaleSpec asserts exactly one domain-key
    // exchange in the plan).
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // threshold on the md5 prefix as a 32-bit integer: rate·2^32, the
    // numeric form of thresholdHex (rates here are data-derived, so the
    // hex-literal formatting path doesn't apply)
    counts
      .withColumn("_thr",
        round(least(lit(1.0),
          lit(targetFraction) * sum(col("_n")).over(wAll).cast("double") * col("_w")
            / sum(col("_w")).over(wAll) / col("_n").cast("double"))
          * lit(4294967296.0)).cast("long"))
      .select(col(domainCol), col("_thr"))
  }

  /** Membership filter for a rates table: broadcast join + md5 threshold,
    * original columns back out. Shared by the batch operator and the
    * streaming twin (the predicate is per-row and stateless). */
  private[graft] def applyRates(df: DataFrame, idCol: String, domainCol: String,
                                rates: DataFrame): DataFrame =
    df.join(broadcast(rates), Seq(domainCol))
      .where(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long") < col("_thr"))
      .select(df.columns.map(col): _*) // original column order, _thr dropped

  /** The exact-waterfill allocation behind `redistribute = true`. Solves
    * Σ_d min(n_d, λ·w_d) = f·N for λ in closed form: sort domains by the
    * saturation point λ_d = n_d/w_d ascending; if the first k domains are
    * capped, λ(k) = (f·N − Σ_{i≤k} n_i) / (W − Σ_{i≤k} w_i), and the true
    * λ is the unique λ(k) consistent with its own prefix (λ_k ≤ λ(k) ≤
    * λ_{k+1}). A sentinel row (λ=0, n=w=0) encodes k=0; if no candidate is
    * valid, f·N ≥ N and every rate is 1. All of it is window arithmetic
    * over the #domains-row counts frame — no driver collect, no iteration,
    * deterministic double ops mirrored exactly by the SQL oracle. */
  private def temperatureResampleWaterfill(df: DataFrame, idCol: String,
                                           domainCol: String, alpha: Double,
                                           targetFraction: Double): DataFrame = {
    val weight =
      if (alpha == 0.5) sqrt(col("_nd"))
      else if (alpha == 1.0) col("_nd")
      else pow(col("_nd"), lit(alpha))
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("_n"))
      .select(col(domainCol).as("_d"), col("_n").cast("double").as("_nd"))
      .withColumn("_wd", weight)
    val sentinel = df.sparkSession.range(1).select(
      lit(null).cast(df.schema(domainCol).dataType).as("_d"),
      lit(0.0).as("_nd"), lit(0.0).as("_wd"))
    // sentinel sorts first: real domains have λ_d = n/w ≥ min(n^(1-α)) > 0
    val u = counts.unionByName(sentinel)
      .withColumn("_lam", when(col("_wd") > 0, col("_nd") / col("_wd")).otherwise(lit(0.0)))
    val ord = Seq(col("_lam").asc, col("_d").asc)
    val wCum = Window.orderBy(ord: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wLead = Window.orderBy(ord: _*)
    val o = u.select(col("_d"), col("_nd"), col("_wd"), col("_lam"),
      sum(col("_nd")).over(wCum).as("_cumN"),
      sum(col("_wd")).over(wCum).as("_cumW"),
      sum(col("_nd")).over(wAll).as("_tot"),
      sum(col("_wd")).over(wAll).as("_wtot"),
      lead(col("_lam"), 1).over(wLead).as("_next"))
    // the division is guarded by when(), not just by the validity
    // conjunction: ANSI mode evaluates the whole expression tree, and the
    // last row's divisor (W − cumW) is exactly 0
    val lamK = when(col("_wtot") - col("_cumW") > 0,
      (lit(targetFraction) * col("_tot") - col("_cumN")) / (col("_wtot") - col("_cumW")))
    val valid = lamK.isNotNull && lamK >= col("_lam") &&
      (col("_next").isNull || lamK <= col("_next"))
    val rates = o
      .withColumn("_lamstar", coalesce(min(when(valid, lamK)).over(wAll), lit(1e18)))
      .where(col("_nd") > 0) // drop the sentinel
      .withColumn("_thr",
        round(least(lit(1.0), col("_lamstar") * col("_wd") / col("_nd"))
          * lit(4294967296.0)).cast("long"))
      .select(col("_d").as(domainCol), col("_thr"))
    df.join(broadcast(rates), Seq(domainCol))
      .where(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long") < col("_thr"))
      .select(df.columns.map(col): _*)
  }

  /** Per-stratum rates (e.g. downsample one language, keep another whole).
    * Strata absent from the map fall back to `defaultRate`. */
  /** Keep at most `k` rows per group, selected by md5(id) order — the
    * per-domain contribution CAP of a mixing recipe ("no domain contributes
    * more than k docs"), content-keyed like every sampler here: the kept
    * set is stable under reruns, partitionings, engines, and incremental
    * loads, and the md5 ordering makes it a uniform draw rather than a
    * head-of-table bias.
    *
    * Scale shape: one window sort per group partition. A pathologically
    * large single group makes that partition's sort a straggler; at that
    * scale, pre-thin the group with `samplePredicate(id, ~2k/n)` (the
    * threshold form needs no sort) and cap the survivors exactly — the
    * two-pass recipe this method's contract composes with. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"cap must be >= 1, got $k")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .drop("_rn")
  }

  /** Deterministic round-robin INTERLEAVE across groups: assigns each row a
    * global `order_idx` such that reading in that order cycles through the
    * groups — the data-mixing order a training run wants (no long
    * single-domain stretches), reproducible across engines and reruns.
    * Within each group, rows cycle in md5(id) order (position p takes slot
    * `p · G + rank(group)`, G = number of groups).
    *
    * Scale shape: the per-group position is a grouped window (one sort per
    * group); the group ranking lives on a #groups-row frame — ranked by a
    * window over THAT tiny frame, never a global window over the data —
    * and broadcast-joins back (the q55 rate-table pattern). */
  def interleaveByGroup(df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    val groups = df.select(col(groupCol)).distinct()
    val gw = Window.orderBy(col(groupCol))
    val ranked = groups
      .withColumn("_grank", row_number().over(gw))
      .withColumn("_g", max(col("_grank")).over(Window.partitionBy()))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(ranked), Seq(groupCol))
      .withColumn("order_idx",
        (row_number().over(w) - 1).cast("long") * col("_g").cast("long")
          + (col("_grank") - 1).cast("long"))
      .drop("_grank", "_g")
  }

  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val rateCol = rates.foldLeft(lit(thresholdHex(defaultRate))) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(thresholdHex(r))).otherwise(acc)
    }
    df.where(substring(md5(col(idCol).cast("string")), 1, 8) < rateCol)
  }

  /** Proportional stratified sampling with an EXACT global sample size:
    * allocate `total` slots across strata by the largest-remainder method
    * (Hamilton apportionment — base quota ⌊total·cntₛ/T⌋, the leftover
    * slots go to the strata with the largest remainders, stratum-name
    * ascending on ties), then fill each stratum's quota deterministically
    * in md5(id) order. Unlike [[stratifiedSample]] (a rate per stratum —
    * binomial-sized output) the kept count is exactly `min(total, T)` and
    * each stratum's share is within 1 of exactly proportional, which is
    * what a token-budgeted mixture run actually wants.
    *
    * Scale shape: the apportionment lives on a #strata-row frame (two tiny
    * windows over THAT frame — the q55 rate-table pattern) broadcast back
    * onto the data; the only data-sized wide work is the per-stratum
    * md5-order row_number, a grouped window. Integer arithmetic is exact
    * on BIGINT; requires total · max(cntₛ) < 2⁶³ (switch the products to
    * DECIMAL(38,0) beyond ~10¹⁸ — far past any real quota).
    *
    * Output: the input columns plus `quota` (the stratum's allocation) and
    * `kept`. */
  def stratifiedQuota(df: DataFrame, stratumCol: String, idCol: String,
                      total: Long): DataFrame = {
    require(total >= 0, s"total must be >= 0, got $total")
    val reserved = Seq("quota", "kept")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"stratifiedQuota reserves column names ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before calling")
    // #strata-row apportionment frame: global windows here range over the
    // stratum count, never the data
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_cnt"))
      .withColumn("_tot", sum(col("_cnt")).over(Window.partitionBy()))
      .withColumn("_base", expr(s"(_cnt * ${total}L) div _tot"))
      .withColumn("_rem", expr(s"(_cnt * ${total}L) % _tot"))
      .withColumn("_left", lit(total) - sum(col("_base")).over(Window.partitionBy()))
      .withColumn("_rrank",
        row_number().over(Window.orderBy(col("_rem").desc, col(stratumCol))))
      .select(col(stratumCol),
        (col("_base") + when(col("_rrank") <= col("_left"), 1L).otherwise(0L))
          .as("quota"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(counts), Seq(stratumCol))
      .withColumn("_rn", row_number().over(w))
      .withColumn("kept", col("_rn") <= col("quota"))
      .drop("_rn")
  }

  /** Deterministic shuffle-and-shard: the global reshuffle every training
    * run does before sharding the dataset across workers, made CONTENT-
    * keyed so the order is reproducible across runs, engines, and input
    * partitionings (a seeded RDD shuffle is neither engine-portable nor
    * stable under repartitioning). Each row's shuffle key is the first 15
    * md5 hex digits of `seed:id` as a 60-bit long — uniform and mirrored
    * exactly by the SQL oracle; `shard = key mod nShards`, `pos` = the
    * row's rank inside its shard (key order, id tiebreak). Reading shard
    * files in pos order replays one global pseudo-random permutation.
    *
    * Scale shape: shard assignment is a narrow projection; the only wide
    * work is one row_number window PARTITIONED BY shard — nShards is sized
    * to the training fleet (hundreds-thousands), so a window partition is
    * one shard's slice, never the dataset. No global window, no
    * single-reducer total order, one shuffle on the shard key. */
  /** [[shuffleShard]]'s 60-bit content-keyed shuffle key as a bare
    * column — shared with the shard column and the streaming twin so the
    * three stay bit-identical. */
  private[graft] def shuffleKey(idCol: Column, seed: String): Column =
    conv(substring(
      md5(concat(lit(seed), lit(":"), idCol.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** The shard id of [[shuffleShard]] as a bare per-row column (narrow,
    * stateless) — the streaming ingest twin routes arriving rows with the
    * IDENTICAL assignment. */
  def shardCol(idCol: Column, nShards: Int, seed: String = "shuffle"): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    pmod(shuffleKey(idCol, seed), lit(nShards.toLong)).cast("int")
  }

  def shuffleShard(df: DataFrame, idCol: String, nShards: Int,
                   seed: String = "shuffle"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("_skey"), col(idCol))
    df.withColumn("_skey", shuffleKey(col(idCol), seed))
      .withColumn("shard", pmod(col("_skey"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("_skey")
  }

  /** Materialize [[shuffleShard]]'s permutation as training shards on
    * disk: `path/shard=N/` directories, each shard's rows stored in `pos`
    * order so a training worker streams its shard sequentially with no
    * further sort. One shuffle total: repartition on the shard id puts
    * each shard in exactly one task, `sortWithinPartitions` orders it,
    * and the partitioned write splits directories without re-shuffling. */
  def writeShards(df: DataFrame, idCol: String, nShards: Int, path: String,
                  seed: String = "shuffle"): Unit =
    shuffleShard(df, idCol, nShards, seed)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Per-domain token-budget selection: order each domain's documents by
    * a quality score (descending; id ascending tiebreak) and keep the
    * best prefix whose CUMULATIVE token count stays within `budget` —
    * the greedy recipe for assembling a fixed-size training mix from an
    * oversized pool. A document that would cross the remaining budget is
    * dropped, but scanning continues: later (smaller) documents that
    * still fit are kept — i.e. the kept set is `{doc : cumsum(tokens of
    * kept docs up to and incl. doc) <= budget}` under the quality order,
    * computed as one conditional running sum per domain.
    *
    * The greedy skip-and-continue needs a SEQUENTIAL per-domain pass (a
    * plain window cumsum cannot skip), so it reuses the facade's
    * hash-partitioned per-key accumulate machinery shape: domains are
    * independent, each domain's docs visit one partition in quality
    * order. Scale: work per domain is linear; domains partition the
    * corpus — same shape as q57's next-fit packing. For the oracle, the
    * same transition unrolls as a recursive CTE.
    *
    * MEGA-DOMAIN ESCAPE HATCH: one domain holding most of the corpus
    * serializes its fold into a single task (ScaleSpec pins the
    * 80%-in-one-domain baseline: linear, seconds for 160k metadata rows).
    * When a domain outgrows what one task should scan, thin it FIRST:
    * (1) exact and free — drop rows with token count > budget (such a
    * row is never kept and never changes the fold state, so the kept
    * set is identical); (2) approximate — [[capPerGroup]]'s two-pass
    * recipe (samplePredicate pre-thin to ~2k/n, then the exact cap) with
    * k sized generously above budget/typical_tokens; the kept set then
    * comes from the thinned pool, which is the standard trade at
    * pathological skew.
    *
    * Output: the input columns plus `n_tokens` (the doc's token count),
    * `cum_tokens` (running kept-total INCLUDING this doc if kept, else
    * the unchanged kept-total), and `kept`. */
  def takeUntilBudget(df: DataFrame, domainCol: String, idCol: String,
                      scoreCol: Column, tokensCol: Column,
                      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    // n_tokens/cum_tokens/kept are this operator's OUTPUT columns and
    // _score its scratch column; a pre-existing column of the same name
    // would be silently replaced (or worse, duplicated in outSchema) —
    // fail loudly instead and let the caller rename.
    val reserved = Seq("n_tokens", "cum_tokens", "kept", "_score")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"takeUntilBudget reserves column names ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before calling")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    // NULL token counts are defined as 0 (free to keep) — normalized HERE
    // so the emitted n_tokens column agrees with the transition the fold
    // actually ran, rather than emitting NULL while charging 0.
    // SCALE NOTE for callers: everything in `df` rides the per-domain
    // exchange and sort below — pre-project to (id, domain, score, token
    // count) metadata and join payloads back by id afterwards; do not pass
    // document bodies through (q75 computes token counts in its scan).
    val base = df.withColumn("n_tokens", coalesce(tokensCol.cast("long"), lit(0L)))
      .withColumn("_score", scoreCol)
    // Greedy transition state = kept-so-far token total; per-domain
    // sequential pass in quality order — DataStream.mapAccumulateByKey's
    // general-path shape (repartition on the key, sort within partitions,
    // walk rows), done over Rows directly to keep the typed facade out of
    // an operator with a caller-supplied dynamic schema.
    // Null placement pinned EXPLICITLY (not engine defaults): a NULL score
    // sorts after every real score on both this path and the q75 DuckDB
    // oracle's `ORDER BY ... DESC NULLS LAST` — engine-default placement
    // differs across engines and would silently diverge on null scores.
    val ordered = base.repartition(col(domainCol))
      .sortWithinPartitions(col(domainCol), col("_score").desc_nulls_last, col(idCol))
      .drop("_score")
    val outSchema = StructType(ordered.schema.fields ++ Seq(
      StructField("cum_tokens", LongType, nullable = false),
      StructField("kept", BooleanType, nullable = false)))
    val domIdx = ordered.schema.fieldIndex(domainCol)
    val tokIdx = ordered.schema.fieldIndex("n_tokens")
    ordered.mapPartitions { rows =>
      var curDomain: Any = null
      var started = false
      var total = 0L
      rows.map { r =>
        val d = r.get(domIdx)
        if (!started || !java.util.Objects.equals(d, curDomain)) {
          total = 0L; curDomain = d; started = true
        }
        val t = r.getLong(tokIdx)
        val keep = total + t <= budget
        if (keep) total += t
        Row.fromSeq(r.toSeq :+ total :+ keep)
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic weighted sampling WITHOUT replacement — Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir" (IPL 2006):
    * each row draws `u ∈ (0, 1]` and the k rows with the largest
    * `u^(1/w)` form an exact without-replacement sample proportional to
    * the weights. Equivalently (monotone transform): keep the k SMALLEST
    * `-ln(u) / w` — one pass, no rejection loop, no sequential reservoir.
    *
    * Reproducibility over randomness: `u` is not a PRNG draw but the
    * row's own 60-bit md5 content key ([[shuffleKey]] seeded by `seed`)
    * scaled to (0, 1] — the same derandomization every sampler in this
    * file uses (q40/q44/q74), so reruns, retries, and both engines agree
    * row for row. The sort key is quantized to integer micro-nats BEFORE
    * ranking (round(-ln(u)/w · 10⁶) — LmScore's exactness scheme), so the
    * ranking compares exact BIGINTs; ties break on the id.
    *
    * Scale shape: the key is a narrow per-row projection; `ORDER BY key
    * LIMIT k` plans as TakeOrdered (per-partition top-k heaps + a k-row
    * driver merge) — no global sort, no single-partition window, nothing
    * resident beyond k rows per task. Weights must be positive; rows with
    * `w <= 0` or null are excluded (they have zero selection mass). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: String = "wsample"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("key_unats", esKeyUnats(col(idCol), col(weightCol), seed))
      .orderBy(col("key_unats").asc, col(idCol).asc)
      .limit(k)
  }

  /** The Efraimidis-Spirakis priority of one row as a bare column, in
    * integer micro-nats (smaller = better): `round(-ln(u)/w · 10⁶)` with
    * `u = (60-bit md5 key + 1) / 2⁶⁰ ∈ (0, 1]` — +1 keeps ln finite at
    * h = 0, and the BIGINT → DOUBLE rounding plus the power-of-two divide
    * are IEEE-identical on both engines. Shared by [[weightedSample]] and
    * [[weightedSamplePerGroup]] so the two stay bit-identical. */
  private def esKeyUnats(idCol: Column, weightCol: Column, seed: String): Column = {
    val u = (shuffleKey(idCol, seed).cast("double") + lit(1.0)) /
      lit(1152921504606846976.0) // 2^60
    round(-log(u) / weightCol.cast("double") * lit(1e6)).cast("long")
  }

  /** Per-stratum [[weightedSample]] — k rows per group, proportional to
    * the weights WITHIN each group: the document-level member of the
    * mixing family ([[temperatureResample]] reweights whole domains by
    * rate; this picks WHICH documents fill each domain's slots), and the
    * weighted generalization of [[capPerGroup]] (which is exactly this
    * with all weights equal — md5 order IS the Efraimidis-Spirakis order
    * for constant w).
    *
    * The de-skew is ON by default (`buckets = 8`); `buckets = 1` is the
    * opt-in naive path — one window partitioned by the group, where each
    * stratum ranks its own slice, the shuffle is the groupCol hash
    * partition, nothing is global, and a hot stratum pays a per-stratum
    * sort. `buckets = B > 1` runs the EXACT two-level de-skew: a
    * first pass ranks within `(group, md5-salt-bucket)` and keeps each
    * bucket's top-k (any row of the true per-group top-k ranks ≤ k
    * inside its own bucket, so nothing that matters is dropped), a
    * second window re-ranks the ≤ B·k survivors per group — the frames
    * become n/B and B·k, and the output (rank included) is IDENTICAL to
    * the single-window form because every row ranked above a true top-k
    * row also survives pass one (spec-asserted equality). Choose
    * B ≈ √(n_hot/k). Emits the sampled rows with `key_unats` and the
    * within-group `rank` (1-based). */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
                             weightCol: String, k: Int,
                             seed: String = "wsample",
                             buckets: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val keyed = df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("key_unats", esKeyUnats(col(idCol), col(weightCol), seed))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("key_unats").asc, col(idCol).asc)
    val thinned =
      if (buckets == 1) keyed
      else {
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol), col("_sb"))
          .orderBy(col("key_unats").asc, col(idCol).asc)
        keyed
          .withColumn("_sb", pmod(
            conv(substring(md5(concat(lit(s"$seed:salt:"),
              col(idCol).cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(buckets.toLong)))
          .withColumn("_brn", row_number().over(wb))
          .where(col("_brn") <= k)
          .drop("_sb", "_brn")
      }
    thinned
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Deterministic CONTRASTIVE NEGATIVE sampling — the training-pair
    * constructor for embedding/contrastive objectives (InfoNCE, triplet
    * loss): for every anchor row, `k` pseudo-random partners drawn
    * uniformly from the whole corpus, reproducible across runs, engines,
    * and input partitionings (a seeded per-task RNG is none of those).
    *
    * Construction: rank the corpus into one global pseudo-random
    * permutation by the 60-bit content key (the [[shuffleShard]] recipe,
    * distributed via [[Ranking.globalRankBy]]'s prefix-bucketed two-level
    * rank — no single-partition window); negative j of an anchor lives at
    * position `1 + (h60(seed:neg:id:j) mod N)`, stepping one position
    * forward (wrapping) when the draw lands on the anchor itself. Draws
    * are WITH replacement across j (two j's may collide — the standard
    * in-batch-negative trade; distinct-k needs k ≪ N rejection rounds and
    * buys little at corpus scale, documented not implemented).
    *
    * Scale shape (100 TB): position table and anchor-draw table both
    * carry (id, position)-sized rows only; the single data-wide join is
    * an equi-join on position — hash-partitioned, linear in N·k, bodies
    * never ride it. N is a 1-row broadcast. Requires N ≥ 2 (a singleton
    * corpus has no negatives — its self-draw is filtered, yielding zero
    * rows rather than a lie).
    *
    * Output: `(idCol, neg_rank ∈ [1..k], neg_id)`. */
  def contrastiveNegatives(df: DataFrame, idCol: String, k: Int,
                           seed: String = "contrast"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def h60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val keyed = df.select(col(idCol),
      h60(concat(lit(seed), lit(":"), col(idCol).cast("string"))).as("_skey"))
    // top-12-bit prefix bucket: monotone in the sort key, ~4k buckets
    val ranked = Ranking.globalRankBy(keyed,
      shiftright(col("_skey"), 48), col("_skey"), col(idCol))
    val n = ranked.agg(max(col("rank")).as("_n"))
    val draws = ranked.crossJoin(n)
      .select(col(idCol), col("rank"), col("_n"),
        explode(expr(s"sequence(1, $k)")).as("neg_rank"))
      .withColumn("_cand", lit(1) + pmod(
        h60(concat(lit(seed), lit(":neg:"), col(idCol).cast("string"),
          lit(":"), col("neg_rank").cast("string"))), col("_n")))
      // self-draw steps forward one position, wrapping past N
      .withColumn("_pos",
        when(col("_cand") === col("rank"), lit(1) + pmod(col("_cand"), col("_n")))
          .otherwise(col("_cand")))
    draws.join(
        ranked.select(col("rank").as("_pos"), col(idCol).as("neg_id")),
        Seq("_pos"))
      .where(col("neg_id") =!= col(idCol)) // only reachable at N = 1
      .select(col(idCol), col("neg_rank").cast("long").as("neg_rank"),
        col("neg_id"))
  }

  /** DSIR-style IMPORTANCE SELECTION (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — score every raw
    * document by how much more likely its HASHED-UNIGRAM bag is under
    * the TARGET corpus than under the raw pool, then keep the top k:
    * the cheap-feature stand-in for "select web data that looks like my
    * curated domain", the selection step a pretraining mixture runs
    * before any expensive model-based filter. Deterministic top-k by
    * `(weight, id)` replaces the paper's Gumbel resampling — same
    * ranking, reproducible across runs and engines (documented
    * variant).
    *
    * Per feature bucket `f = h60("dsir:"+token) mod F`, the add-1
    * smoothed log ratio
    * `q(f) = round(10⁶·ln(((cₜ+1)·(T_raw+F)) / ((c_raw+1)·(T_tgt+F))))`
    * quantizes ONCE at its site (the corpusDivergence scheme); a
    * document's importance is the exact BIGINT sum of `cnt·q(f)` over
    * its feature histogram — order-independent under any partitioning.
    *
    * ## Scale shape (100 TB)
    * One tokenize pass per corpus: raw collapses to the per-document
    * feature histogram `(id, f, cnt)` (partial-aggregable Generate →
    * groupBy), target to an F-row count table. The scoring model —
    * F rows of `q(f)` — is model-sized and BROADCAST onto the raw
    * histogram; per-doc sums partial-aggregate; the cut is a
    * distributed TakeOrdered heap (the q04 shape). Bodies never ride a
    * shuffle; nothing is data-sized except the one histogram pass.
    * Zero-token documents have no features and are never selected
    * (importance −∞ in the paper's terms). Returns k rows
    * `(idCol, n_toks, logw_unats)`, importance-descending. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, features: Int, k: Int): DataFrame = {
    require(features >= 2 && k >= 1, s"bad features=$features k=$k")
    def h60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    def feats(df: DataFrame, cols: Seq[Column]): DataFrame = df
      .select(cols :+ explode(graft.functions.Text.tokens(col(textCol))).as("_w"): _*)
      .withColumn("_f", pmod(h60(concat(lit("dsir:"), col("_w"))), lit(features.toLong)))
    // per-document raw feature histogram — the one data-sized frame,
    // reused by the pool counts and the scoring join
    val rawHist = feats(raw, Seq(col(idCol))).groupBy(col(idCol), col("_f"))
      .agg(count(lit(1)).as("_cnt")).localCheckpoint()
    val rawCnt = rawHist.groupBy(col("_f")).agg(sum(col("_cnt")).as("_cr"))
    val tgtCnt = feats(target, Seq.empty).groupBy(col("_f"))
      .agg(count(lit(1)).as("_ct"))
    val merged = rawCnt.join(tgtCnt, Seq("_f"), "full_outer")
      .select(col("_f"), coalesce(col("_cr"), lit(0L)).as("_cr"),
        coalesce(col("_ct"), lit(0L)).as("_ct"))
    val totals = merged.agg(sum(col("_cr")).as("_tr"), sum(col("_ct")).as("_tt"))
    val model = merged.crossJoin(totals)
      .select(col("_f"),
        round(log(
          ((col("_ct") + 1).cast("double") * (col("_tr") + lit(features.toLong)).cast("double")) /
            ((col("_cr") + 1).cast("double") * (col("_tt") + lit(features.toLong)).cast("double")))
          * lit(1e6)).cast("long").as("_q"))
    rawHist
      .join(broadcast(model), Seq("_f")) // F-row model onto the histogram
      .groupBy(col(idCol))
      .agg(sum(col("_cnt")).as("n_toks"),
        sum(col("_cnt") * col("_q")).as("logw_unats"))
      .orderBy(col("logw_unats").desc, col(idCol)) // TakeOrdered cut
      .limit(k)
  }

  /** RAKING / ITERATIVE PROPORTIONAL FITTING (Deming & Stephan 1940) —
    * the survey-weighting step a dataset-balancing pipeline runs when it
    * must hit TWO marginal targets at once (language mix AND length
    * mix) without resampling: multiplicative per-cell weights,
    * alternately scaled so weighted row then column marginals match the
    * uniform targets. [[temperatureResample]] reshapes ONE marginal by
    * dropping rows; raking reshapes both by WEIGHTING them — the
    * loss-weighting / mixture-dial input.
    *
    * ## Determinism / exactness
    * Micro fixed-point weights (`w₀ = 10⁶`); each half-round scales
    * `w ← ⌊w·T / m⌋` with `m` the exact integer weighted marginal
    * (BigInt — mirrors the oracle's HUGEINT) and `T = ⌊N·10⁶/k⌋` the
    * uniform target in the same units. Floor divisions on nonneg
    * integers — exact on both engines; a zero marginal (every weight in
    * the slice floored to 0 — extreme skew) leaves that slice's weights
    * unchanged, mirrored by the oracle's CASE. `rounds` full
    * row-then-column rounds; convergence is geometric when all cells
    * are positive and the residual gap is the caller's readout.
    *
    * ## Scale shape (100 TB)
    * The ONLY data-sized work is ONE partial-aggregable
    * `groupBy(row, col)` count; the IPF loop runs on the k·B cell model
    * — collected once and iterated driver-side (the trainLloyd
    * contract: model rows cross the driver, data never does). Returns
    * the k·B cell frame
    * `(rowCol, colCol, n, w_micro, weighted_micro)`, ordered. */
  def rakingWeights(df: DataFrame, rowCol: String, colCol: String,
                    rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df
      .where(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).cast("string").as("_r"),
        col(colCol).cast("string").as("_c"))
      .agg(count(lit(1)).as("_n"))
      .collect() // k·B model rows — the one driver transfer
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = cells.map(c => BigInt(c._3)).sum
    val ks = cells.map(_._1).distinct.length
    val bs = cells.map(_._2).distinct.length
    val tRow = total * 1000000 / ks // uniform row target, micro units
    val tCol = total * 1000000 / bs
    val nOf = cells.map(c => (c._1, c._2) -> BigInt(c._3)).toMap
    var w: Map[(String, String), BigInt] =
      cells.map(c => (c._1, c._2) -> BigInt(1000000)).toMap
    for (_ <- 1 to rounds) {
      val rowM = cells.groupBy(_._1).map { case (g, cs) =>
        g -> cs.map(c => nOf((c._1, c._2)) * w((c._1, c._2))).sum }
      w = w.map { case (k, x) =>
        k -> (if (rowM(k._1) > 0) x * tRow / rowM(k._1) else x) }
      val colM = cells.groupBy(_._2).map { case (b, cs) =>
        b -> cs.map(c => nOf((c._1, c._2)) * w((c._1, c._2))).sum }
      w = w.map { case (k, x) =>
        k -> (if (colM(k._2) > 0) x * tCol / colM(k._2) else x) }
    }
    cells.map { case (g, b, n) =>
      (g, b, n, w((g, b)).toLong, (BigInt(n) * w((g, b))).toLong) }.toSeq
      .toDF("_r", "_c", "n", "w_micro", "weighted_micro")
      .select(col("_r").as(rowCol), col("_c").as(colCol), col("n"),
        col("w_micro"), col("weighted_micro"))
      .orderBy(col(rowCol), col(colCol))
  }

  /** Poisson(1) CDF thresholds in 60-bit units — `⌊P(X≤j)·2⁶⁰⌋` for
    * j = 0..7, computed once from libm on the DRIVER and inlined as
    * literals into both the plan and the oracle (the nDCG weight-table
    * scheme: engine math never runs, only integer compares do). */
  private[graft] lazy val poissonThresholds60: Seq[Long] = {
    val scale = math.pow(2.0, 60)
    val probs = (0 to 7).scanLeft(0.0) { case (acc, j) =>
      acc + math.exp(-1.0) / (1 to j).map(_.toDouble).product
    }.tail // P(X<=0), P(X<=1), ... P(X<=7)
    probs.map(p => math.floor(p * scale).toLong)
  }

  /** POISSON BOOTSTRAP confidence intervals (Chamandy et al. 2012 — the
    * production bootstrap at data scale): classic n-of-n resampling
    * needs global multinomial coordination a distributed corpus cannot
    * give; independent Poisson(1) multiplicities per (row, replicate)
    * converge to the same CIs and run as ONE pass with partial
    * aggregation. The draws here are DETERMINISTIC: u = h60(seed:b:id)
    * is a 60-bit integer and the multiplicity is the count of CDF
    * thresholds [[poissonThresholds60]] at or below u — integer
    * compares against plan literals, no float randomness, reproducible
    * across runs, partitionings, and engines (capped at 8 copies;
    * P(X > 8) < 1e-6 — documented truncation).
    *
    * Per (group, replicate) the bootstrap mean is the exact floor
    * `⌊10⁶·Σw·y / Σw⌋` (pmod-subtract — y may be negative; the
    * 10⁶-scaled sums ride DECIMAL(38,0), exact to n·|y| ≈ 10³² per
    * group — no BIGINT wrap at corpus scale); the CI is
    * ORDER STATISTICS over each group's B replicate means (ascending
    * rank ⌊B·α/100⌋+1 and B−⌊B·α/100⌋) — exact integers end to end.
    *
    * ## Scale shape (100 TB)
    * The ×B fan-out is a Generate over the NARROW (group, id, y)
    * projection — bodies never replicate; (group, replicate) sums
    * partial-aggregate before the one exchange; the rank window runs
    * over ≤ B rows per group (model-sized). Returns one row per group
    * `(groupCol, n, mean_micro, ci_lo_micro, ci_hi_micro, b_used)`;
    * a replicate whose weights all land 0 drops (b_used reports it —
    * vanishing probability beyond toy n; lo/hi NULL if fewer than 2
    * replicates survive). */
  def poissonBootstrapCi(df: DataFrame, groupCol: String, idCol: Column,
                         valueCol: Column, b: Int, alphaPct: Int = 5,
                         seed: String = "boot"): DataFrame = {
    require(b >= 4, s"need >= 4 replicates, got $b")
    require(alphaPct >= 1 && alphaPct < 50, s"bad alphaPct $alphaPct")
    def h60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val base = df
      .where(valueCol.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"), idCol.cast("string").as("_id"),
        valueCol.cast("long").as("_y"))
    // 10⁶-scaled sums ride DECIMAL(38,0): exact to n·|y| ≈ 10³² per
    // group — no silent BIGINT wrap at corpus scale (sibling-op convention)
    val point = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        expr("""CAST((CAST(sum(_y) AS DECIMAL(38,0)) * 1000000 -
                  pmod(CAST(sum(_y) AS DECIMAL(38,0)) * 1000000, count(1)))
                / count(1) AS BIGINT)""").as("mean_micro"))
    val u = h60(concat(lit(s"$seed:"), col("_b").cast("string"),
      lit(":"), col("_id")))
    val w = poissonThresholds60.map(t =>
      when(col("_u") >= t, 1L).otherwise(0L)).reduce(_ + _)
    val repMeans = base
      .select(col("_g"), col("_id"), col("_y"),
        explode(expr(s"sequence(1, $b)")).as("_b"))
      .withColumn("_u", u)
      .withColumn("_w", w)
      .groupBy(col("_g"), col("_b"))
      .agg(sum(col("_w")).as("_sw"), sum(col("_w") * col("_y")).as("_swy"))
      .where(col("_sw") > 0L)
      .select(col("_g"),
        expr("""CAST((CAST(_swy AS DECIMAL(38,0)) * 1000000 -
                  pmod(CAST(_swy AS DECIMAL(38,0)) * 1000000, _sw))
                / _sw AS BIGINT)""").as("_m"))
    val loRank = b * alphaPct / 100 / 2 + 1 // floor(B*alpha/2)+1, 1-based
    val hiRank = b - b * alphaPct / 100 / 2
    val wAsc = Window.partitionBy(col("_g")).orderBy(col("_m"))
    val ci = repMeans
      .withColumn("_rk", row_number().over(wAsc))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("b_used"),
        max(when(col("_rk") === loRank, col("_m"))).as("ci_lo_micro"),
        max(when(col("_rk") === hiRank, col("_m"))).as("ci_hi_micro"))
      .select(col("_g"), col("b_used"),
        when(col("b_used") >= lit(2L), col("ci_lo_micro")).as("ci_lo_micro"),
        when(col("b_used") >= lit(2L), col("ci_hi_micro")).as("ci_hi_micro"))
    point.join(ci, Seq("_g"), "left")
      .select(col("_g").as(groupCol), col("n"), col("mean_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"),
        coalesce(col("b_used"), lit(0L)).as("b_used"))
      .orderBy(col(groupCol))
  }

  /** TEMPORAL split with an EMBARGO gap (the financial-ML leakage
    * pattern — Lopez de Prado's purged split applied to pipeline data):
    * train is the earliest `trainNum/trainDen` of the observed time
    * range, test starts `embNum/embDen` of the range AFTER train ends,
    * and rows inside the gap get `"embargo"` — dropped from both sides
    * so any feature computed over trailing windows of train can never
    * overlap a test label's window. [[leakageSafeSplit]] guards against
    * CONTENT leakage (near-dups straddling the split); this guards
    * against TIME leakage — a pipeline wants both.
    *
    * All boundary arithmetic is exact BIGINT over epoch-micros
    * (`lo = min + span·num DIV den`), the bounds are ONE 1-row
    * aggregate attached by broadcast crossJoin, and the assignment is a
    * pure scan-stage expression — no shuffle, no data-sized state.
    * Adds `split ∈ {train, embargo, test}`. */
  def temporalEmbargoSplit(df: DataFrame, tsMicrosCol: String,
                           trainNum: Long, trainDen: Long,
                           embNum: Long, embDen: Long): DataFrame = {
    require(trainNum > 0 && trainNum < trainDen,
      s"train fraction must lie in (0, 1), got $trainNum/$trainDen")
    require(embNum >= 0 && embDen > 0 &&
        trainNum * embDen + embNum * trainDen < trainDen * embDen,
      s"train + embargo must leave room for test, got $trainNum/$trainDen + $embNum/$embDen")
    val bounds = df.agg(
      min(col(tsMicrosCol)).as("_tmin"), max(col(tsMicrosCol)).as("_tmax"))
    df.crossJoin(bounds)
      .withColumn("_lo", col("_tmin") +
        expr(s"((_tmax - _tmin) * ${trainNum}L) DIV ${trainDen}L"))
      .withColumn("_hi", col("_lo") +
        expr(s"((_tmax - _tmin) * ${embNum}L) DIV ${embDen}L"))
      .withColumn("split",
        when(col(tsMicrosCol) <= col("_lo"), lit("train"))
          .when(col(tsMicrosCol) > col("_hi"), lit("test"))
          .otherwise(lit("embargo")))
      .drop("_tmin", "_tmax", "_lo", "_hi")
  }
}
