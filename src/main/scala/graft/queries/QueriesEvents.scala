package graft

import graft.expr.Expr
import graft.functions.{Text, Vectors}
import graft.operators.{Accumulate, AsOf, Dedup, Sessionize, Similarity}
import graft.sources.Tables
import graft.stream.DataStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Events gate queries, split out of [[SparkEntry]] (round-10
  * hygiene); the `queries`/`oracleSql` maps in SparkEntry remain the
  * single registry — this trait only hosts the builders verbatim. */
private[graft] trait QueriesEvents { this: SparkEntry.type =>

  /** CDC MERGE: the events stream read as a changelog over the customer
    * snapshot (latest event per user wins; a trailing 'error' deletes the
    * key, anything else upserts name/balance/segment). Latest-wins is one
    * partial-aggregable max_by, the merge one key-sized full-outer join
    * ([[graft.operators.Cdc]]). */
  protected def q85(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_name"),
      cents(col("c_acctbal")).as("acctbal_c"), col("c_mktsegment"))
    val changelog = Tables.events(s, dir).select(
      col("user_id").as("c_custkey"),
      unix_millis(col("ts")).as("ms"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("_op"),
      concat(lit("cdc_"), col("user_id")).as("c_name"),
      cents(col("value")).as("acctbal_c"),
      col("event_type").as("c_mktsegment"))
    val latest = graft.operators.Cdc
      .latestState(changelog, "c_custkey", Seq("ms", "event_id"))
      .drop("ms", "event_id")
    graft.operators.Cdc.merge(base, latest, "c_custkey")
      .orderBy(col("c_custkey"))
  }


  /** SCD-2 history build: each user's event-type change stream compressed
    * to runs and unrolled into versioned validity intervals (valid_to null
    * = open current version) — one per-key window pass
    * ([[graft.operators.Cdc.scd2]]). */
  protected def q86(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cdc.scd2(
        Tables.events(s, dir).select(col("user_id"),
          unix_millis(col("ts")).as("ms"), col("event_id"), col("event_type")),
        keyCol = "user_id", seqCol = "ms",
        stateCols = Seq("event_type"), tieCols = Seq("event_id"))
      .orderBy(col("user_id"), col("version"))


  /** Ordered conversion funnel signup → click → purchase, each step
    * within 6 hours of the previous ([[graft.operators.Funnel]]). */
  protected def q91(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnel(
      Tables.events(s, dir), "user_id", "event_type", "ts",
      steps = Seq("signup", "click", "purchase"),
      withinMs = Some(6L * 3600 * 1000))
      .orderBy(col("step"))


  /** Weekly cohort retention: users bucketed by the week of their first
    * event, distinct-active counts per (cohort, offset)
    * ([[graft.operators.Retention]]). */
  protected def q92(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retention.cohortRetention(Tables.events(s, dir), "user_id", "ts")
      .orderBy(col("cohort_bucket"), col("bucket_offset"))


  /** Per-user hourly ingestion-rate control chart: z-score vs the
    * trailing 24 non-empty hours, 3σ flag, cold users never alarm
    * ([[graft.operators.Anomaly.hourlyRateAnomalies]]). Every column
    * down to the flagged booleans hash-matches — the sums are exact
    * BIGINTs, the z-arithmetic a fixed IEEE sequence over them. */
  protected def q110(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.hourlyRateAnomalies(
        Tables.events(s, dir), "user_id", "ts",
        sigmas = 3.0, window = 24, minPrior = 6)
      .orderBy(col("user_id"), col("hour"))


  /** Exponentially time-decayed per-user engagement score in EXACT
    * fixed point — the freshness signal of feed ranking / trending
    * detection, with the libm-pow hazard designed out: dyadic weights
    * `2^(horizon − age)` in half-life steps, BIGINT-only, hard expiry
    * past the horizon ([[graft.operators.Decay.decayedScore]]). One
    * map-side-combinable groupBy, no window, no sequential fold. */
  protected def q128(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decay.decayedScore(
        Tables.events(s, dir), "user_id", "ts", "value",
        halfLifeHours = 4, horizonSteps = 20, valueScale = 100L)
      .orderBy(col("user_id"))


  /** TTL re-crawl suppression over a simulated 3-round crawl log (round
    * r at +6r hours carries the docs with doc_id ≡ 0 mod r+1): greedy
    * per-fingerprint admission with a 10-hour TTL — round-1 re-crawls
    * suppressed, round-2 re-admitted and the clock reset
    * ([[graft.operators.Recrawl.suppress]]). */
  protected def q132(s: SparkSession, dir: String): DataFrame = {
    val crawls = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, 2)")).as("r"))
      .where(pmod(col("doc_id"), col("r") + 1) === 0)
      .select((col("doc_id") * 10 + col("r")).cast("long").as("crawl_id"),
        col("doc_id"), graft.functions.Text.fingerprint(col("text")).as("fp"),
        (col("r").cast("long") * lit(21600000000L)).as("ts_us"))
    graft.operators.Recrawl.suppress(crawls, "fp", "crawl_id", "ts_us",
        ttlMicros = 10L * 3600000000L)
      .orderBy(col("crawl_id"))
  }


  /** Trending report: q128's decayed scores with a TakeOrdered tail —
    * per-partition top-k heaps + a 20-row driver merge, no global sort
    * (the composition the Decay operator exists for). */
  protected def q137(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decay.decayedScore(
        Tables.events(s, dir), "user_id", "ts", "value",
        halfLifeHours = 4, horizonSteps = 20, valueScale = 100L)
      .orderBy(col("score").desc, col("user_id"))
      .limit(20)


  /** Dyadic EWMA control chart over per-user event values — the
    * roadmap-blocked operator landed via DECIMAL(38,0): every term of
    * `kDen²·(x·W−S)² > kNum²·(W·SS−S²)` is an exact integer that DuckDB
    * reproduces in HUGEINT, settling the cross-engine parity the BIGINT
    * form overflowed on. No window function: per-step sums fan out
    * ≤ horizon rows each and partial-aggregate back
    * ([[graft.operators.Decay.ewmaControlChart]]). */
  protected def q149(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decay.ewmaControlChart(
        Tables.events(s, dir), "user_id", "ts", "value", "event_id",
        halfLifeHours = 4, horizonSteps = 20, valueScale = 100L,
        kNum = 3L, kDen = 1L)
      .orderBy(col("event_id"))


  /** First-order MARKOV transition matrix over per-user event sequences
    * — which event_type follows which, with exact micro-unit
    * row-normalized probabilities; the behavioral fingerprint next to
    * q91's funnel and q16's sessions ([[graft.operators.Markov
    * .transitionMatrix]]). Order is the deterministic (ms, event_id)
    * total order both engines share. */
  protected def q175(s: SparkSession, dir: String): DataFrame =
    graft.operators.Markov.transitionMatrix(
        Tables.events(s, dir),
        keyCol = col("user_id"), stateCol = col("event_type"),
        orderCols = Seq(unix_millis(col("ts")), col("event_id")))
      .orderBy(col("from_state"), col("to_state"))


  /** AUTOCORRELATION of 4-hour total event value at lag 6 (= 24 h) —
    * "does traffic repeat daily?", the seasonality probe a capacity
    * planner and an anomaly baseline both start from; q172's exact
    * Pearson machinery composed over the aggregated series' shifted
    * self-join ([[graft.operators.Eval.autocorrAtLag]]). */
  protected def q176(s: SparkSession, dir: String): DataFrame = {
    val series = Tables.events(s, dir)
      .groupBy(expr("unix_millis(ts) DIV 14400000").as("step"))
      .agg(sum(cents(col("value"))).as("v"))
    graft.operators.Eval.autocorrAtLag(series, col("step"), col("v"),
      lagSteps = 6L)
  }


  /** INTERVAL-OVERLAP counting with NO pair join: for each even-user
    * session, how many odd-user sessions were concurrently active — the
    * session-concurrency curve (load, contention, coordinated-traffic
    * detection) that the naive range-join formulation makes quadratic in
    * per-moment concurrency. Two endpoint merge-sweeps (two-level prefix
    * sums over 2²⁶-ms buckets), exact closed-interval BIGINT counts
    * ([[graft.operators.Intervals.overlapCounts]]). */
  protected def q178(s: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.summarize(Tables.events(s, dir), "user_id", "ts", 1800000L)
      .select(col("user_id"), col("session_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"))
    val a = sess.where(col("user_id") % 2 === 0)
      .select((col("user_id") * lit(1000000L) + col("session_id")).as("sid"),
        col("start_ms"), col("end_ms"))
    val b = sess.where(col("user_id") % 2 === 1)
    graft.operators.Intervals.overlapCounts(
        a, "sid", "start_ms", "end_ms", b, "start_ms", "end_ms",
        bucketOf = v => shiftright(v, 26))
      .select(expr("sid DIV 1000000").as("user_id"),
        col("start_ms"), col("end_ms"), col("n_overlap"))
      .orderBy(col("user_id"), col("start_ms"))
  }


  /** KAPLAN-MEIER signup→purchase conversion curve with right-censoring
    * at observation end — the time-to-event read a naive mean-time
    * query gets wrong; log-space micro-nat survival, exact BIGINT
    * running sum, day-universe-sized curve
    * ([[graft.operators.Survival.kaplanMeier]]). */
  protected def q190(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signup = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(unix_millis(col("ts"))).as("s_ms"))
    val endMs = ev.agg(max(unix_millis(col("ts"))).as("end_ms"))
    val purchase = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("p_ms"))
    val subjects = signup
      .join(purchase, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("s_ms"))
      .agg(min(when(col("p_ms") >= col("s_ms"), col("p_ms"))).as("first_p"))
      .crossJoin(endMs)
      .select(
        when(col("first_p").isNotNull,
          expr("(first_p - s_ms) DIV 86400000"))
          .otherwise(expr("(end_ms - s_ms) DIV 86400000")).as("dur"),
        col("first_p").isNotNull.as("ev"))
    graft.operators.Survival.kaplanMeier(subjects, col("dur"), col("ev"))
      .orderBy(col("day"))
  }


  /** ROLLING 7-day distinct active users WITHOUT a window-distinct (not
    * decomposable): each (day, user) membership explodes to the ≤ 7
    * window days it serves, then one partial-aggregable distinct count
    * per window day — the dashboard metric computed the way it scales. */
  protected def q195(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(expr("unix_millis(ts) DIV 86400000").as("m"), col("user_id"))
      .distinct()
    val mx = du.agg(max(col("m")).as("_mx"))
    du.select(explode(sequence(col("m"), col("m") + lit(6L))).as("day"),
        col("user_id"))
      .crossJoin(mx)
      .where(col("day") <= col("_mx"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_active_7d"))
      .orderBy(col("day"))
  }


  /** COHORT LTV accumulation — signup-week cohorts × weeks-since-signup
    * cumulative purchase revenue (exact cents): the revenue companion
    * to q92's retention triangle; per-cohort running sums over the
    * weeks-universe window. */
  protected def q197(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signup = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(expr("unix_millis(ts) DIV 86400000")).as("s_day"))
    val rev = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_millis(ts) DIV 86400000").as("p_day"),
        cents(col("value")).as("c"))
    val cells = signup.join(rev, Seq("user_id"))
      .where(col("p_day") >= col("s_day"))
      .groupBy(expr("s_day DIV 7").as("cohort_week"),
        expr("(p_day - s_day) DIV 7").as("weeks_since"))
      .agg(sum(col("c")).as("rev_c"))
    val wCum = Window.partitionBy(col("cohort_week")).orderBy(col("weeks_since"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_rev_c", sum(col("rev_c")).over(wCum))
      .orderBy(col("cohort_week"), col("weeks_since"))
  }


  /** ACTIVITY STREAKS (gaps-and-islands) — per user: active-day count,
    * number of contiguous streaks, longest streak: the classic
    * `day − row_number` island key over per-user bounded windows, exact
    * integers end to end. */
  protected def q201(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts) DIV 86400000").as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    days
      .withColumn("_isl", col("d") - row_number().over(w))
      .groupBy(col("user_id"), col("_isl"))
      .agg(count(lit(1)).as("_len"))
      .groupBy(col("user_id"))
      .agg(sum(col("_len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"), max(col("_len")).as("max_streak"))
      .orderBy(col("user_id"))
  }


  /** WEEK-OVER-WEEK revenue change per nation — lag over the per-nation
    * weeks universe, delta as one IEEE division of exact cents (the BI
    * period-over-period staple on the star schema). */
  protected def q202(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        // o_orderdate is parquet NTZ; the session is pinned UTC, so the
        // cast is the identity the oracle's epoch_ms computes
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 604800000").as("week"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_c"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("week"))
    weekly
      .withColumn("prev_c", lag(col("rev_c"), 1).over(w))
      .withColumn("wow_pct",
        when(col("prev_c").isNotNull && col("prev_c") =!= 0L,
          (col("rev_c") - col("prev_c")).cast("double") / col("prev_c").cast("double")))
      .orderBy(col("n_name"), col("week"))
  }


  /** FILTER ATTRIBUTION — per Gopher rule (q104's exact parameters):
    * how many docs it fails, and how many it UNIQUELY kills (the docs
    * recovered if the rule were dropped) — the "which filter is doing
    * the work / which is redundant" read a curation dashboard leads
    * with. One flags pass, one stacked aggregate. */
  protected def q203(s: SparkSession, dir: String): DataFrame = {
    val f = graft.operators.QualityRules.gopherFilter(
      Tables.documents(s, dir), "doc_id", "text",
      minTokens = 30, maxTokens = 80, minMeanLen = 4.0, maxMeanLen = 4.8,
      repN = 2, maxRepetition = 0.05,
      stopwords = Seq("the", "a", "of", "and", "is", "to", "in", "that"),
      minStopHits = 2)
    val rules = Seq("r_len", "r_wlen", "r_rep", "r_stop")
    f.select(explode(array(rules.map { r =>
        val others = rules.filterNot(_ == r).map(col).reduce(_ && _)
        struct(lit(r).as("rule"), (!col(r)).as("fails"),
          (!col(r) && others).as("unique_fail"))
      }: _*)).as("p"))
      .select(col("p.rule").as("rule"), col("p.fails").as("fails"),
        col("p.unique_fail").as("unique_fail"))
      .groupBy(col("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("fails"), 1L).otherwise(0L)).as("n_fail"),
        sum(when(col("unique_fail"), 1L).otherwise(0L)).as("n_unique_fail"))
      .withColumn("fail_rate",
        col("n_fail").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("rule"))
  }


  /** SESSION-BASKET co-occurrence lift — which event types co-occur in
    * a 30-min session beyond chance (association discovery; q91 checks
    * a funnel you know, this finds candidates): exact session-count
    * supports, integer micro-lift ([[graft.operators.Basket
    * .coOccurrenceLift]] over q16's sessions). */
  protected def q205(s: SparkSession, dir: String): DataFrame =
    graft.operators.Basket.coOccurrenceLift(
        Sessionize.assign(Tables.events(s, dir), "user_id", "ts", 1800000L),
        sessionKey = concat_ws(":", col("user_id"), col("session_id")),
        itemCol = col("event_type"))
      .orderBy(col("item_a"), col("item_b"))


  /** ORDERED precedence within sessions — for co-present type pairs,
    * how often a's first occurrence strictly precedes b's (funnel
    * DISCOVERY; ties count to neither side)
    * ([[graft.operators.Basket.precedence]]). */
  protected def q206(s: SparkSession, dir: String): DataFrame =
    graft.operators.Basket.precedence(
        Sessionize.assign(Tables.events(s, dir), "user_id", "ts", 1800000L),
        sessionKey = concat_ws(":", col("user_id"), col("session_id")),
        itemCol = col("event_type"), tsCol = unix_millis(col("ts")))
      .orderBy(col("item_a"), col("item_b"))


  /** TEMPORAL DRIFT REPORT — exact KS per feature across the 70% time
    * split (q167's embargo boundary arithmetic, q196's KS machinery,
    * stacked): does the value distribution or the hour-of-day profile
    * shift between the train era and the test era — the one-table drift
    * answer a split sign-off reads. */
  protected def q207(s: SparkSession, dir: String): DataFrame = {
    val bounds = Tables.events(s, dir)
      .agg(min(unix_micros(col("ts"))).as("_mn"), max(unix_micros(col("ts"))).as("_mx"))
      .select(expr("_mn + ((_mx - _mn) * 7) DIV 10").as("_mid"))
    val stamped = Tables.events(s, dir)
      .select(unix_micros(col("ts")).as("us"), cents(col("value")).as("vc"),
        expr("(unix_millis(ts) DIV 3600000) % 24").as("hod"))
      .crossJoin(bounds)
      .localCheckpoint() // fans into 2 features x 2 sides
    def ks(name: String, c: String): DataFrame =
      graft.operators.Eval.ksTestExact(
          stamped.where(col("us") <= col("_mid")).select(col(c)), col(c),
          stamped.where(col("us") > col("_mid")).select(col(c)), col(c),
          bucketOf = v => shiftright(v, 6))
        .select(lit(name).as("feature"), col("n_a"), col("n_b"),
          col("ks_num"), col("ks"))
    ks("hour_of_day", "hod").unionByName(ks("value_cents", "vc"))
      .orderBy(col("feature"))
  }


  /** CUSUM changepoint per event type — WHICH DAY did daily volume
    * shift ([[graft.operators.Anomaly.cusumChangepoint]]): q110 flags
    * odd buckets, this dates the regime change; exact cross-multiplied
    * statistic over the per-type day series. */
  protected def q215(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    graft.operators.Anomaly.cusumChangepoint(daily, "event_type",
        col("day"), col("y"))
      .orderBy(col("event_type"))
  }


  /** Page–Hinkley sequential drift per event type — WHEN would an
    * online monitor watching daily volume have fired, the sequential
    * complement to q215's retrospective changepoint
    * ([[graft.operators.Anomaly.pageHinkley]]). The gate derives the
    * frozen reference mean from the global per-step average (exact
    * floor division, mirrored by the oracle CTE); production freezes a
    * trained value. */
  protected def q241(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint() // fans into the mu0 scalar and the PH scan
    val head = daily.agg(sum(col("y")).as("s"), count(lit(1)).as("n")).head()
    val (sTot, nTot) = (head.getLong(0), head.getLong(1))
    val mu0 = 1000000L * sTot / nTot // nonneg → truncate == floor
    graft.operators.Anomaly.pageHinkley(daily, "event_type",
        col("day"), col("y"), mu0Micro = mu0, deltaMicro = mu0 / 10,
        lambdaMicro = mu0 * 3)
      .orderBy(col("event_type"))
  }

  /** Hoeffding split scan (ADWIN's batch face) over each event type's
    * daily TRAFFIC SHARE series: did any old|recent split of the share
    * series ever clear the Hoeffding bound at δ = 1/20 — the
    * bound-calibrated alarm where q215's CUSUM gives the argmax split
    * ([[graft.operators.Anomaly.hoeffdingSplitScan]]). Shares are
    * site-floored micro fractions, inside the bound's [0, 10⁶] range
    * contract by construction. */
  protected def q253(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val tot = daily.groupBy(col("day")).agg(sum(col("c")).as("ct"))
    val series = daily.join(tot, Seq("day"))
      .select(col("event_type"), col("day"),
        expr("(1000000 * c - pmod(1000000 * c, ct)) DIV ct").as("share"))
    graft.operators.Anomaly.hoeffdingSplitScan(series, "event_type",
      col("day"), col("share"))
  }

  /** Runs test per event type's daily-volume series: does the volume
    * clump around its median (drift/autocorrelation → z ≪ 0) or
    * alternate randomly — the i.i.d. sanity check before q215/q241
    * style monitors ([[graft.operators.Anomaly.runsTest]]). */
  protected def q256(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.runsTest(
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("y")),
      "event_type", col("day"), col("y"))

  /** Cox–Stuart trend test on the same daily series: the sign test on
    * first-half/second-half pairs — the assumption-free monotone-trend
    * read next to q212's Theil–Sen slope
    * ([[graft.operators.Anomaly.coxStuart]]). */
  protected def q257(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.coxStuart(
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("y")),
      "event_type", col("day"), col("y"))

  protected def oraclesEvents: Map[String, String] = Map(
      // Runs test: grand lower median per group, ± signs, lag-window run
      // count, exact run moments; chain mirrored verbatim
      "q256_runs_test" ->
        """WITH d AS (
             SELECT event_type AS g, epoch_us(ts) // 86400000000 AS t,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
           c AS (SELECT g, t, y,
                   CAST(row_number() OVER (PARTITION BY g ORDER BY y, t)
                     AS BIGINT) AS cum,
                   CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
                 FROM d),
           med AS (SELECT g, min(y) AS m FROM c
                   WHERE cum >= (n + 1) // 2 GROUP BY g),
           sg AS (SELECT d.g, d.t,
                    CASE WHEN d.y > med.m THEN 1 ELSE 0 END AS s
                  FROM d JOIN med ON med.g = d.g
                  WHERE d.y <> med.m),
           rr AS (SELECT g, s,
                    lag(s) OVER (PARTITION BY g ORDER BY t) AS prev
                  FROM sg),
           ag0 AS (SELECT g, CAST(count(*) AS BIGINT) AS nn,
                    CAST(sum(s) AS BIGINT) AS n1,
                    CAST(sum(CASE WHEN prev IS NULL OR prev <> s
                      THEN 1 ELSE 0 END) AS BIGINT) AS r
                  FROM rr GROUP BY g),
           -- degenerate groups (every step = median) keep their row
           ag AS (SELECT med.g, coalesce(nn, 0) AS nn,
                    coalesce(n1, 0) AS n1, coalesce(r, 0) AS r
                  FROM med LEFT JOIN ag0 USING (g))
           SELECT g AS event_type, nn AS n_steps, n1 AS n_above,
             nn - n1 AS n_below, r AS n_runs,
             CASE WHEN n1 > 0 AND nn - n1 > 0 AND nn >= 2
                 AND (2 * CAST(n1 AS HUGEINT) * (nn - n1) - nn) > 0 THEN
               CAST(CAST(nn AS HUGEINT) * (r - 1)
                 - 2 * CAST(n1 AS HUGEINT) * (nn - n1) AS DOUBLE) /
                 sqrt(CAST((2 * CAST(n1 AS HUGEINT) * (nn - n1))
                     * (2 * CAST(n1 AS HUGEINT) * (nn - n1) - nn) AS DOUBLE) /
                   CAST(nn - 1 AS DOUBLE))
             END AS z
           FROM ag
           ORDER BY event_type""",

      // Cox-Stuart: pair i with i + ceil(n/2), later-half wins vs losses,
      // binomial z; chain mirrored verbatim
      "q257_cox_stuart" ->
        """WITH d AS (
             SELECT event_type AS g, epoch_us(ts) // 86400000000 AS t,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
           ix AS (SELECT g, y,
                    CAST(row_number() OVER (PARTITION BY g ORDER BY t)
                      AS BIGINT) AS i,
                    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
                  FROM d),
           pr AS (SELECT a.g,
                    CAST(count(*) AS BIGINT) AS n_pairs,
                    CAST(sum(CASE WHEN b.y > a.y THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_up,
                    CAST(sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_down
                  FROM ix a JOIN ix b
                    ON b.g = a.g AND b.i = a.i + (a.n + 1) // 2
                  WHERE a.i <= a.n // 2
                  GROUP BY a.g)
           SELECT g AS event_type, n_pairs, n_up, n_down,
             CASE WHEN n_up + n_down > 0 THEN
               CAST(2 * n_up - (n_up + n_down) AS DOUBLE) /
                 sqrt(CAST(n_up + n_down AS DOUBLE))
             END AS z
           FROM pr
           ORDER BY event_type""",

      // Hoeffding split scan: daily share series (site-floored micro),
      // triangular (split, prefix) pairs, the cross-multiplied integer
      // bound with Lq = round(1e6*ln(4*20*n)) quantized per prefix length
      "q253_hoeffding_scan" ->
        """WITH d AS (
             SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS c
             FROM events GROUP BY 1, 2),
           t AS (SELECT day, CAST(sum(c) AS BIGINT) AS ct FROM d GROUP BY day),
           ser AS (SELECT event_type AS g, d.day,
                     (1000000 * c - ((1000000 * c % ct + ct) % ct)) // ct AS y
                   FROM d JOIN t USING (day)),
           pre AS (SELECT g, day, CAST(row_number() OVER w AS BIGINT) AS i,
                     CAST(sum(y) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS s
                   FROM ser WINDOW w AS (PARTITION BY g ORDER BY day)),
           n AS (SELECT g, max(i) AS n FROM pre GROUP BY g),
           pairs AS (SELECT l.g, l.i AS n0, r.i - l.i AS n1, r.i AS t2,
                       CAST(l.s AS HUGEINT) * (r.i - l.i)
                         - CAST(r.s - l.s AS HUGEINT) * l.i AS ds,
                       CAST(round(ln(4.0 * 20.0 * CAST(r.i AS DOUBLE)) * 1e6)
                         AS BIGINT) AS lq
                     FROM pre l JOIN pre r ON l.g = r.g AND l.i < r.i),
           bp AS (SELECT g, t2,
                    max(CASE WHEN 2 * ds * ds >=
                      CAST(1000000 AS HUGEINT) * lq * (n0 + n1) * n0 * n1
                      THEN 1 ELSE 0 END) AS v
                  FROM pairs GROUP BY g, t2),
           ag AS (SELECT g, CAST(sum(v) AS BIGINT) AS n_alarm_prefixes,
                    min(CASE WHEN v = 1 THEN t2 END) AS fi
                  FROM bp GROUP BY g)
           SELECT n.g AS event_type, n.n AS n_steps,
             ag.fi AS first_alarm_i, p2.day AS first_alarm_step,
             coalesce(ag.n_alarm_prefixes, 0) AS n_alarm_prefixes
           FROM n LEFT JOIN ag USING (g)
           LEFT JOIN pre p2 ON p2.g = n.g AND p2.i = ag.fi
           ORDER BY event_type""",


      // Page–Hinkley: cumulative micro excess against the derived global
      // mean, running min, first PH > lambda latches the alarm
      "q241_page_hinkley" ->
        """WITH d AS (
             SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
           par AS (SELECT CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS mu0
                   FROM d),
           pp AS (SELECT mu0, mu0 // 10 AS delta, mu0 * 3 AS lambda FROM par),
           c AS (SELECT d.g, d.day, pp.lambda,
                   CAST(row_number() OVER w AS BIGINT) AS i,
                   CAST(sum(1000000 * d.y - (pp.mu0 + pp.delta))
                     OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS m
                 FROM d CROSS JOIN pp
                 WINDOW w AS (PARTITION BY d.g ORDER BY d.day)),
           p2 AS (SELECT g, day, lambda, i, m,
                    CAST(min(m) OVER (PARTITION BY g ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS mn
                  FROM c),
           ph AS (SELECT g, day, lambda, i, m - mn AS ph FROM p2),
           ag AS (SELECT g, CAST(count(*) AS BIGINT) AS n_steps,
                    CAST(max(ph) AS BIGINT) AS max_ph_micro,
                    min(CASE WHEN ph > lambda THEN i END) AS alarm_i
                  FROM ph GROUP BY g)
           SELECT ag.g AS event_type, n_steps, max_ph_micro,
             CAST(alarm_i AS BIGINT) AS alarm_i, p.day AS alarm_step,
             CAST(p.ph AS BIGINT) AS ph_alarm_micro
           FROM ag LEFT JOIN ph p ON p.g = ag.g AND p.i = ag.alarm_i
           ORDER BY event_type""",

      // CUSUM: cumulative daily counts per type, |n·S_i − i·S_n| in
      // HUGEINT, argmax tie-broken to the earliest day, split means via
      // the nonneg-mod floor division
      "q215_cusum" ->
        """WITH d AS (
             SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
           c AS (SELECT event_type, day,
                   CAST(row_number() OVER w AS BIGINT) AS i,
                   CAST(sum(y) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS si,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                   CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS sn
                 FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
           st AS (SELECT event_type, day, i, si, n, sn,
                    abs(CAST(n AS HUGEINT) * si - CAST(i AS HUGEINT) * sn) AS stat
                  FROM c WHERE i < n),
           mx AS (SELECT event_type, day, i, si, n, sn, stat,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY stat DESC, day ASC) AS rn
                  FROM st)
           SELECT event_type, n AS n_steps, day AS split_step, i AS split_i,
             CAST(stat AS DOUBLE) AS cusum,
             CAST((1000000 * si - ((1000000 * si % i + i) % i)) // i
               AS BIGINT) AS mean_before_micro,
             CAST((1000000 * (sn - si)
                 - ((1000000 * (sn - si) % (n - i) + (n - i)) % (n - i)))
               // (n - i) AS BIGINT) AS mean_after_micro
           FROM mx WHERE rn = 1
           ORDER BY event_type""",

      // latest event per user (ms desc, event_id desc) merged into the
      // customer snapshot: trailing 'error' deletes, else upsert
      "q85_cdc_merge" ->
        """WITH base AS (
             SELECT c_custkey, c_name,
               CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c, c_mktsegment
             FROM customer),
           ch AS (
             SELECT user_id AS k, event_type, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
             FROM events),
           latest AS (
             SELECT k,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               'cdc_' || CAST(k AS VARCHAR) AS c_name,
               CAST(round(value * 100) AS BIGINT) AS acctbal_c,
               event_type AS c_mktsegment
             FROM ch WHERE rn = 1)
           SELECT coalesce(l.k, b.c_custkey) AS c_custkey,
             CASE WHEN l.k IS NOT NULL THEN l.c_name ELSE b.c_name END AS c_name,
             CASE WHEN l.k IS NOT NULL THEN l.acctbal_c ELSE b.acctbal_c END AS acctbal_c,
             CASE WHEN l.k IS NOT NULL THEN l.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
           FROM base b FULL OUTER JOIN latest l ON b.c_custkey = l.k
           WHERE l.op IS NULL OR l.op <> 'D'
           ORDER BY c_custkey""",

      // runs of equal event_type per user -> versioned validity intervals
      "q86_scd2_history" ->
        """WITH e AS (
             SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type FROM events),
           o AS (
             SELECT *, lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ms, event_id) AS prev
             FROM e),
           b AS (SELECT user_id, ms, event_id, event_type FROM o
                 WHERE prev IS NULL OR prev <> event_type)
           SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS version,
             ms AS valid_from,
             lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to,
             event_type
           FROM b ORDER BY user_id, version""",

      // conversion funnel: min-timestamp chaining, strict >, 6h window
      // via exact interval arithmetic on microsecond timestamps
      "q91_funnel" ->
        """WITH a AS (SELECT user_id, min(ts) AS t FROM events
             WHERE event_type = 'signup' GROUP BY 1),
           b AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN a USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > a.t AND e.ts <= a.t + INTERVAL 6 HOUR GROUP BY 1),
           c AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN b USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > b.t AND e.ts <= b.t + INTERVAL 6 HOUR GROUP BY 1)
           SELECT * FROM (
             SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
                    CAST((SELECT count(*) FROM a) AS BIGINT) AS users
             UNION ALL SELECT 2, 'click', (SELECT count(*) FROM b)
             UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM c))
           ORDER BY step""",

      // weekly cohorts via integer division of epoch millis — exact
      // BIGINT bucket arithmetic on both engines, no date formatting
      "q92_cohort_retention" ->
        """WITH x AS (SELECT user_id,
             epoch_ms(ts) // 604800000 AS wk,
             (min(epoch_ms(ts)) OVER (PARTITION BY user_id)) // 604800000 AS cohort
           FROM events)
           SELECT cohort AS cohort_bucket, wk - cohort AS bucket_offset,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS users
           FROM x GROUP BY 1, 2 ORDER BY 1, 2""",

      // exact-integer trailing sums over a value-RANGE frame; mu/sigma/flag
      // are a fixed IEEE sequence over them (sqrt is correctly rounded per
      // IEEE-754 on both engines); cold users (< 6 prior buckets) have NULL
      // mu/sigma and a false flag
      "q110_rate_anomaly" ->
        """WITH c AS (
             SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
               CAST(count(*) AS BIGINT) AS cnt
             FROM events GROUP BY 1, 2),
           w AS (
             SELECT user_id, hour, cnt,
               CAST(count(*) OVER win AS BIGINT) AS n_prior,
               sum(cnt) OVER win AS s,
               sum(cnt * cnt) OVER win AS ss
             FROM c WINDOW win AS (PARTITION BY user_id ORDER BY hour
               RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
           m AS (
             SELECT user_id, hour, cnt, n_prior,
               CASE WHEN n_prior >= 6 THEN CAST(s AS DOUBLE) / n_prior END AS mu,
               CASE WHEN n_prior >= 6 THEN sqrt(greatest(
                 (ss - CAST(s AS DOUBLE) * s / n_prior) / n_prior, 0.0)) END AS sigma
             FROM w)
           SELECT user_id, hour, cnt, n_prior, mu, sigma,
             coalesce(cnt > mu + 3.0 * sigma, false) AS is_anomaly
           FROM m ORDER BY user_id, hour""",

      // dyadic fixed-point decay: weight = qv << (20 - age) in half-life
      // steps (4h), hard expiry past 20 steps — BIGINT shifts and sums
      // only, so the score is order-independent and engine-exact
      "q128_decayed_score" -> (decayedScoreSql + " ORDER BY user_id"),

      // same scores, TakeOrdered tail: the trending report
      "q137_trending" ->
        (decayedScoreSql + " ORDER BY score DESC, user_id LIMIT 20"),

      // greedy TTL admission per fingerprint unrolled as a recursive CTE
      // (the q57/q75 transition pattern): kept resets the clock, 10h TTL
      // over a 3-round +6h crawl log
      "q132_recrawl_suppress" ->
        s"""WITH RECURSIVE crawls AS (
             SELECT CAST(doc_id * 10 + r AS BIGINT) AS crawl_id, doc_id,
               md5($norm) AS fp, CAST(r * 21600000000 AS BIGINT) AS ts_us
             FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS r) t
             WHERE doc_id % (r + 1) = 0),
           seq AS (
             SELECT crawl_id, doc_id, fp, ts_us,
               row_number() OVER (PARTITION BY fp ORDER BY ts_us, crawl_id) AS rn
             FROM crawls),
           walked AS (
             SELECT crawl_id, doc_id, fp, ts_us, rn, TRUE AS kept,
               ts_us AS last_kept
             FROM seq WHERE rn = 1
             UNION ALL
             SELECT s.crawl_id, s.doc_id, s.fp, s.ts_us, s.rn,
               s.ts_us - w.last_kept >= 36000000000,
               CASE WHEN s.ts_us - w.last_kept >= 36000000000
                 THEN s.ts_us ELSE w.last_kept END
             FROM seq s JOIN walked w ON s.fp = w.fp AND s.rn = w.rn + 1)
           SELECT crawl_id, doc_id, fp, ts_us, kept
           FROM walked ORDER BY crawl_id""",

      // the DECIMAL(38) algebra in HUGEINT: identical integer terms,
      // identical dyadic weights, k² = 9/1 cross-multiplied
      "q149_ewma_chart" ->
        """WITH s AS (
             SELECT user_id, event_id, epoch_us(ts) // 14400000000 AS step,
               CAST(floor(greatest(value, 0.0) * 100.0) AS BIGINT) AS qv
             FROM events),
           ps AS (SELECT user_id, step, CAST(sum(qv) AS HUGEINT) AS sqv,
                    CAST(sum(CAST(qv AS HUGEINT) * qv) AS HUGEINT) AS sqv2,
                    CAST(count(*) AS BIGINT) AS cnt
                  FROM s GROUP BY 1, 2),
           f AS (SELECT user_id, step + d AS t,
                   CAST(1 << CAST(20 - d AS INTEGER) AS HUGEINT) AS w,
                   sqv, sqv2, cnt
                 FROM ps CROSS JOIN (SELECT unnest(range(1, 21)) AS d) r),
           st AS (SELECT user_id, t, sum(w * cnt) AS ww, sum(w * sqv) AS ss,
                    sum(w * sqv2) AS sss, CAST(sum(cnt) AS BIGINT) AS np
                  FROM f GROUP BY 1, 2)
           SELECT s.user_id, s.event_id, s.step, s.qv,
             COALESCE(st.np, CAST(0 AS BIGINT)) AS n_prior,
             COALESCE(st.ww > 0 AND
               (CAST(s.qv AS HUGEINT) * ww - ss) * (CAST(s.qv AS HUGEINT) * ww - ss)
                 > 9 * (ww * sss - ss * ss), FALSE) AS is_anomaly
           FROM s LEFT JOIN st ON s.user_id = st.user_id AND s.step = st.t
           ORDER BY s.event_id""",

      // one lag window per user over the shared (ms, event_id) total
      // order; probabilities by truncating integer division
      "q175_markov_transitions" ->
        """WITH e AS (SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_ms(ts), event_id) AS prev
               FROM events),
           c AS (SELECT prev AS from_state, event_type AS to_state,
                   CAST(count(*) AS BIGINT) AS c
                 FROM e WHERE prev IS NOT NULL GROUP BY 1, 2),
           t AS (SELECT from_state, CAST(sum(c) AS BIGINT) AS c_from
                 FROM c GROUP BY 1)
           SELECT from_state, to_state, c, c_from,
             CAST(CAST(c AS HUGEINT) * 1000000 // c_from AS BIGINT) AS p_micro
           FROM c JOIN t USING (from_state)
           ORDER BY from_state, to_state""",

      // q172's moment chain over the 4h-step series joined to its
      // 6-steps-later self (pairs exist only where both steps do)
      "q176_autocorrelation" ->
        """WITH s AS (SELECT epoch_ms(ts) // 14400000 AS t,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
               FROM events GROUP BY 1),
           j AS (SELECT a.v AS x, b.v AS y FROM s a JOIN s b ON b.t = a.t + 6),
           m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx,
                   sum(CAST(y AS HUGEINT) * y) AS syy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy
                 FROM j),
           c AS (SELECT n, n * sxy - sx * sy AS covn,
                   n * sxx - sx * sx AS vxn, n * syy - sy * sy AS vyn
                 FROM m)
           SELECT CAST(6 AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
             CAST(covn AS DOUBLE) AS cov_n,
             CAST(vxn AS DOUBLE) AS var_xn, CAST(vyn AS DOUBLE) AS var_yn,
             CASE WHEN vxn > 0 AND vyn > 0
               THEN CAST(covn AS DOUBLE) / (sqrt(CAST(vxn AS DOUBLE)) * sqrt(CAST(vyn AS DOUBLE))) END AS r
           FROM c""",

      // q16's session CTEs, then a plain closed-interval overlap join —
      // semantically identical to the engine's pair-free endpoint sweep
      "q178_interval_overlap" ->
        """WITH flagged AS (
             SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000 THEN 1 ELSE 0 END AS ns
             FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
           sessions AS (
             SELECT user_id, ts,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM flagged),
           sess AS (SELECT user_id, sid, CAST(min(epoch_ms(ts)) AS BIGINT) AS start_ms,
                      CAST(max(epoch_ms(ts)) AS BIGINT) AS end_ms
                    FROM sessions GROUP BY user_id, sid),
           a AS (SELECT * FROM sess WHERE user_id % 2 = 0),
           b AS (SELECT * FROM sess WHERE user_id % 2 = 1)
           SELECT a.user_id, a.start_ms, a.end_ms,
             CAST(count(b.user_id) AS BIGINT) AS n_overlap
           FROM a LEFT JOIN b ON b.start_ms <= a.end_ms AND b.end_ms >= a.start_ms
           GROUP BY a.user_id, a.sid, a.start_ms, a.end_ms
           ORDER BY a.user_id, a.start_ms""",

      // per-day termination histogram, risk set = N − cum_before, the
      // Colloc ln site once per event day, BIGINT running ln-survival
      "q190_survival" ->
        """WITH su AS (SELECT user_id, min(epoch_ms(ts)) AS s_ms
               FROM events WHERE event_type = 'signup' GROUP BY 1),
           en AS (SELECT max(epoch_ms(ts)) AS end_ms FROM events),
           pu AS (SELECT user_id, epoch_ms(ts) AS p_ms
                  FROM events WHERE event_type = 'purchase'),
           subj AS (SELECT su.user_id, su.s_ms,
                      min(CASE WHEN pu.p_ms >= su.s_ms THEN pu.p_ms END) AS first_p
                    FROM su LEFT JOIN pu ON pu.user_id = su.user_id
                    GROUP BY 1, 2),
           dd AS (SELECT CASE WHEN first_p IS NOT NULL THEN (first_p - s_ms) // 86400000
                    ELSE (end_ms - s_ms) // 86400000 END AS t,
                    first_p IS NOT NULL AS e
                  FROM subj CROSS JOIN en),
           h AS (SELECT t, CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS de,
                   CAST(count(*) AS BIGINT) AS tot
                 FROM dd GROUP BY t),
           nn AS (SELECT CAST(sum(tot) AS BIGINT) AS n FROM h),
           r AS (SELECT t, de, tot,
                   n - coalesce(sum(tot) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
                 FROM h CROSS JOIN nn),
           c AS (SELECT t, n_risk, de,
                   CAST(round(ln(CAST(n_risk - de AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT) AS term_micro
                 FROM r WHERE de > 0 AND n_risk > de)
           SELECT t AS day, CAST(n_risk AS BIGINT) AS n_risk, de AS d_events,
             term_micro,
             CAST(sum(term_micro) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ln_s_micro
           FROM c ORDER BY day""",

      // membership-day explosion instead of a window distinct (which
      // does not decompose); partial windows at the left edge are real
      "q195_rolling_distinct" ->
        """WITH du AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS m, user_id FROM events),
           mx AS (SELECT max(m) AS mxd FROM du),
           ex AS (SELECT unnest(range(m, m + 7)) AS day, user_id FROM du)
           SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_7d
           FROM ex CROSS JOIN mx WHERE day <= mxd
           GROUP BY day ORDER BY day""",

      // per-cohort running revenue over the weeks-universe window
      "q197_cohort_ltv" ->
        s"""WITH su AS (SELECT user_id, min(epoch_ms(ts) // 86400000) AS s_day
               FROM events WHERE event_type = 'signup' GROUP BY 1),
           rv AS (SELECT user_id, epoch_ms(ts) // 86400000 AS p_day,
                    ${C.format("value")} AS c
                  FROM events WHERE event_type = 'purchase'),
           cells AS (SELECT s_day // 7 AS cohort_week,
                       (p_day - s_day) // 7 AS weeks_since,
                       CAST(sum(c) AS BIGINT) AS rev_c
                     FROM su JOIN rv USING (user_id)
                     WHERE p_day >= s_day
                     GROUP BY 1, 2)
           SELECT cohort_week, weeks_since, rev_c,
             CAST(sum(rev_c) OVER (PARTITION BY cohort_week ORDER BY weeks_since
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_c
           FROM cells ORDER BY cohort_week, weeks_since""",

      // the day − row_number island key, per-user bounded windows
      "q201_streaks" ->
        """WITH du AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS d FROM events),
           isl AS (SELECT user_id,
                     d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS i
                   FROM du),
           g AS (SELECT user_id, i, CAST(count(*) AS BIGINT) AS len
                 FROM isl GROUP BY 1, 2)
           SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
             CAST(count(*) AS BIGINT) AS n_streaks,
             CAST(max(len) AS BIGINT) AS max_streak
           FROM g GROUP BY user_id ORDER BY user_id""",

      // per-nation weekly lag; the delta is one IEEE division of cents
      "q202_wow_change" ->
        s"""WITH weekly AS (SELECT n_name,
               epoch_ms(o_orderdate) // 604800000 AS week,
               CAST(sum(${C.format("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS rev_c
             FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
             GROUP BY 1, 2)
           SELECT n_name, week, rev_c, lag(rev_c) OVER w AS prev_c,
             CASE WHEN lag(rev_c) OVER w IS NOT NULL AND lag(rev_c) OVER w <> 0
               THEN CAST(rev_c - lag(rev_c) OVER w AS DOUBLE) / CAST(lag(rev_c) OVER w AS DOUBLE)
             END AS wow_pct
           FROM weekly WINDOW w AS (PARTITION BY n_name ORDER BY week)
           ORDER BY n_name, week""",

      // q104's flag CTE + a stacked per-rule aggregate; unique kills =
      // fails while every other rule passes
      "q203_rule_attribution" -> {
        val rep2 =
          s"CASE WHEN len(${shingles(2)}) <= 1 THEN 0.0 " +
          s"ELSE 1.0 - CAST(len(list_distinct(${shingles(2)})) AS DOUBLE) / CAST(len(${shingles(2)}) AS DOUBLE) END"
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           m AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tok,
             CASE WHEN len(toks) > 0
               THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE) END AS mean_len,
             $rep2 AS rep,
             CAST(len(list_filter(['the','a','of','and','is','to','in','that'],
               s -> list_contains(toks, s))) AS BIGINT) AS stop_hits
           FROM t),
           fl AS (SELECT
             n_tok BETWEEN 30 AND 80 AS r_len,
             coalesce(mean_len BETWEEN 4.0 AND 4.8, false) AS r_wlen,
             rep <= 0.05 AS r_rep,
             stop_hits >= 2 AS r_stop
           FROM m),
           st AS (
             SELECT 'r_len' AS rule, NOT r_len AS fails,
               (NOT r_len) AND r_wlen AND r_rep AND r_stop AS uq FROM fl
             UNION ALL
             SELECT 'r_rep', NOT r_rep, (NOT r_rep) AND r_len AND r_wlen AND r_stop FROM fl
             UNION ALL
             SELECT 'r_stop', NOT r_stop, (NOT r_stop) AND r_len AND r_wlen AND r_rep FROM fl
             UNION ALL
             SELECT 'r_wlen', NOT r_wlen, (NOT r_wlen) AND r_len AND r_rep AND r_stop FROM fl)
           SELECT rule, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN fails THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
             CAST(sum(CASE WHEN uq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_fail,
             CAST(sum(CASE WHEN fails THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS fail_rate
           FROM st GROUP BY rule ORDER BY rule"""
      },

      // q16's session CTEs → distinct membership → within-session pair
      // join; the q194 micro-lift integer shape
      "q205_basket_lift" ->
        """WITH flagged AS (
             SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000 THEN 1 ELSE 0 END AS ns
             FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
           sessions AS (
             SELECT user_id, event_type,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS sid
             FROM flagged),
           m AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || ':' || CAST(sid AS VARCHAR) AS s,
                   event_type AS i
                 FROM sessions),
           nn AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n FROM m),
           it AS (SELECT i, CAST(count(*) AS BIGINT) AS si FROM m GROUP BY i),
           p AS (SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS n_both
                 FROM m a JOIN m b ON b.s = a.s AND a.i < b.i
                 GROUP BY 1, 2)
           SELECT item_a, item_b, n_both, ia.si AS n_a, ib.si AS n_b,
             n AS n_sessions,
             CAST(CAST(n_both AS HUGEINT) * n * 1000000
               // (CAST(ia.si AS HUGEINT) * ib.si) AS BIGINT) AS lift_micro
           FROM p
             JOIN it ia ON ia.i = p.item_a
             JOIN it ib ON ib.i = p.item_b
             CROSS JOIN nn
           ORDER BY item_a, item_b""",

      // per-session first occurrences, strict-inequality precedence
      "q206_precedence" ->
        """WITH flagged AS (
             SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000 THEN 1 ELSE 0 END AS ns
             FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
           sessions AS (
             SELECT user_id, event_type, epoch_ms(ts) AS tms,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS sid
             FROM flagged),
           f AS (SELECT CAST(user_id AS VARCHAR) || ':' || CAST(sid AS VARCHAR) AS s,
                   event_type AS i, CAST(min(tms) AS BIGINT) AS ft
                 FROM sessions GROUP BY 1, 2)
           SELECT a.i AS item_a, b.i AS item_b,
             CAST(count(*) AS BIGINT) AS n_both,
             CAST(sum(CASE WHEN a.ft < b.ft THEN 1 ELSE 0 END) AS BIGINT) AS n_a_first,
             CAST(sum(CASE WHEN a.ft < b.ft THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS first_ratio
           FROM f a JOIN f b ON b.s = a.s AND a.i <> b.i
           GROUP BY 1, 2 ORDER BY item_a, item_b""",

      // q167's exact boundary + two q196 KS chains stacked
      "q207_drift_report" -> {
        def ksBlock(name: String, vExpr: String) =
          s"""SELECT '$name' AS feature, n_a, n_b, ks_num, ks FROM (
             WITH st AS (SELECT epoch_us(ts) AS us, $vExpr AS v FROM events),
               bd AS (SELECT min(us) + ((max(us) - min(us)) * 7) // 10 AS mid FROM st),
               h AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ha, CAST(sum(cb) AS BIGINT) AS hb FROM (
                       SELECT v, 1 AS ca, 0 AS cb FROM st CROSS JOIN bd WHERE us <= mid
                       UNION ALL
                       SELECT v, 0 AS ca, 1 AS cb FROM st CROSS JOIN bd WHERE us > mid) u
                     GROUP BY v),
               nn AS (SELECT CAST(sum(ha) AS BIGINT) AS na, CAST(sum(hb) AS BIGINT) AS nb FROM h),
               c AS (SELECT
                       CAST(sum(ha) OVER w AS BIGINT) AS cuma,
                       CAST(sum(hb) OVER w AS BIGINT) AS cumb
                     FROM h WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               g AS (SELECT max(abs(cuma * nb - cumb * na)) AS ks_num FROM c CROSS JOIN nn)
             SELECT na AS n_a, nb AS n_b, CAST(ks_num AS BIGINT) AS ks_num,
               CAST(ks_num AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks
             FROM g CROSS JOIN nn) z"""
        s"""${ksBlock("hour_of_day", "(epoch_ms(ts) // 3600000) % 24")}
           UNION ALL
           ${ksBlock("value_cents", C.format("value"))}
           ORDER BY feature"""
      },
  )
}
