package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exponentially time-decayed per-key scores in EXACT fixed-point
  * arithmetic — the freshness-weighted engagement/recency signal every
  * feed-ranking and trending-detection pipeline keeps next to its raw
  * counts (the exponential window of Cormode et al., "Exponentially
  * decayed aggregates on data streams", ICDE 2008 — here the forward
  * variant with a hard horizon).
  *
  * ## Why fixed point (the roadmap blocker this dissolves)
  * The textbook form `Σ v_i · λ^(T−t_i)` with λ = 0.5^(1/halfLife) runs
  * through `pow`, whose libm rounding differs across engines — a decayed
  * sum of doubles is not cross-engine hash-checkable, and float addition
  * is not even order-independent. This operator quantizes time into
  * half-life STEPS and weights each event by the dyadic rational
  * `2^(horizon − age)` (age in steps), all in BIGINT:
  *
  *   score(key) = Σ_{events, age ≤ horizon} floor(v · valueScale) << (horizon − age)
  *
  * Every term is an exact integer (left shifts only — no truncation
  * anywhere), BIGINT addition is associative, so the aggregate is
  * ORDER-INDEPENDENT and partial-aggregable: `score` is in units of
  * `2^-horizon / valueScale`, i.e. `score / (valueScale · 2^horizon)` is
  * exactly `Σ v_i_quantized · 2^(−age_i)`. Events older than `horizon`
  * steps contribute exactly 0 (hard expiry — the decayed weight would be
  * below the fixed-point resolution anyway).
  *
  * ## Scale shape (100 TB)
  * One map-side-combinable groupBy on the key — the single exchange
  * carries (key, partialSum, partialCount) only; no window, no sort, no
  * sequential fold (contrast the naive running-decay recurrence, whose
  * floor-shift state is path-dependent and would force a per-key ordered
  * scan). The reference step (default: the corpus' max event step) is a
  * 1-row broadcast. Overflow headroom: a term is at most
  * `maxQuantizedValue · 2^horizon`; with the defaults (scale 100,
  * horizon 20) a per-key sum stays inside BIGINT below ~8.8e8
  * max-weight events per key — raise `halfLifeHours` rather than
  * `horizon` to widen the time window at constant headroom.
  *
  * Streaming twin: [[graft.streaming.Streams.decayedScoreStream]] keeps
  * per key only the per-step partial sums inside the horizon (≤ horizon+1
  * longs) and emits bit-identical scores (parity spec'd with
  * `refPerKey = true`).
  */
object Decay {

  /** Decayed score per key: `(keyCol, score, n_live, ref_step)`.
    *
    *  - `score`: Σ floor(value·valueScale) << (horizon − age) over events
    *    with 0 ≤ age ≤ horizon (BIGINT, exact).
    *  - `n_live`: events inside the horizon (contributing terms).
    *  - `ref_step`: the "now" step ages are measured from — the global
    *    max step over the input (default), or the key's own max step when
    *    `refPerKey = true` (the streaming twin's per-key view).
    *
    * `valueCol` values are clamped at 0 (decayed engagement is a
    * non-negative signal; two's-complement shifts of negative quantized
    * values are not portable across engines). Keys whose every event has
    * expired still appear, with score 0 and n_live 0. */
  def decayedScore(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, halfLifeHours: Int = 4,
                   horizonSteps: Int = 20, valueScale: Long = 100L,
                   refPerKey: Boolean = false): DataFrame = {
    require(halfLifeHours >= 1, s"halfLifeHours must be >= 1, got $halfLifeHours")
    require(horizonSteps >= 0 && horizonSteps <= 40,
      s"horizonSteps must be in [0, 40] (BIGINT headroom), got $horizonSteps")
    require(valueScale >= 1, s"valueScale must be >= 1, got $valueScale")
    val stepped = events.select(
      col(keyCol),
      stepExpr(tsCol, halfLifeHours).as("_step"),
      quantize(col(valueCol), valueScale).as("_qv"))
    val withRef =
      if (refPerKey) {
        // per-key reference: one extra partial-aggregable max riding the
        // same exchange (computed in the same groupBy below via max)
        stepped
      } else {
        // global reference: 1-row aggregate broadcast-joined onto the scan
        val ref = stepped.agg(max(col("_step")).as("_ref"))
        stepped.crossJoin(ref)
      }
    if (refPerKey) {
      // two-phase: per-key (step, Σqv) partials first, then the key's own
      // max step weights them — both phases partial-aggregable, the
      // second exchange carries ≤ horizon+1 rows per key
      val perStep = withRef.groupBy(col(keyCol), col("_step"))
        .agg(sum(col("_qv")).as("_sqv"), count(lit(1)).as("_n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
      perStep
        .withColumn("_ref", max(col("_step")).over(w))
        .groupBy(col(keyCol))
        .agg(
          sum(weighted(col("_sqv"), col("_ref") - col("_step"), horizonSteps)).as("score"),
          sum(when(col("_ref") - col("_step") <= horizonSteps, col("_n"))
            .otherwise(lit(0L))).as("n_live"),
          max(col("_ref")).as("ref_step"))
    } else {
      withRef.groupBy(col(keyCol))
        .agg(
          sum(weighted(col("_qv"), col("_ref") - col("_step"), horizonSteps)).as("score"),
          sum(when(col("_ref") - col("_step") <= horizonSteps, 1L)
            .otherwise(0L)).as("n_live"),
          max(col("_ref")).as("ref_step"))
    }
  }

  /** Epoch half-life step — `unix_micros(ts) DIV (halfLifeHours · 3600e6)`
    * (the q110 hour-bucket arithmetic, coarsened; integer DIV, exact). */
  def stepExpr(tsCol: String, halfLifeHours: Int): Column =
    expr(s"unix_micros($tsCol) DIV ${halfLifeHours * 3600000000L}L")

  /** `floor(greatest(v, 0) · valueScale)` as BIGINT — exact on both
    * engines (floor of a double is exact; the product's rounding is the
    * same correctly-rounded IEEE multiply everywhere). */
  def quantize(v: Column, valueScale: Long): Column =
    floor(greatest(v.cast("double"), lit(0.0)) * lit(valueScale.toDouble)).cast("long")

  /** `qv << (horizon − age)` inside the horizon, else 0 — left shifts
    * only, every term exact. */
  private def weighted(qv: Column, age: Column, horizon: Int): Column =
    // call_function: the Scala shiftleft wrapper only takes a literal
    // shift; the SQL function accepts a column — still codegen'd
    when(age <= horizon && age >= 0,
        call_function("shiftleft", qv, (lit(horizon) - age).cast("int")))
      .otherwise(lit(0L))

  /** Dyadic EWMA CONTROL CHART — per-event anomaly flags against the
    * exponentially-weighted mean/variance of the key's PRIOR activity:
    * event `x` at step `t` is out-of-control iff
    * `|x − μ| > k·σ` over the dyadic-decayed prior window, tested in the
    * cross-multiplied square-free-of-division form
    * `kDen²·(x·W − S)² > kNum²·(W·SS − S²)` with
    * `W = Σ 2^(h−d)·n_s`, `S = Σ 2^(h−d)·Σx_s`, `SS = Σ 2^(h−d)·Σx_s²`
    * over prior steps `s = t−d`, `d ∈ [1, h]` — the deviation test every
    * term of which is an exact integer. BIGINT overflows this algebra at
    * realistic horizons (SS alone carries qv² ≤ 10¹⁰ per event times
    * 2²⁰ weights), so the sums and the comparison run in DECIMAL(38,0):
    * exact integer arithmetic to 10³⁸, which a DuckDB HUGEINT (2¹²⁷)
    * oracle reproduces bit-for-bit — the cross-engine parity this
    * operator was blocked on, settled by bounding every term. Digit
    * budget (documented contract): with `h ≤ 20`, `qv ≤ 10⁶` and per-key
    * in-horizon event counts ≤ 10⁶, the largest term
    * `kDen²·(qv·W − S)²` stays ≤ 10⁻⁶·10³⁸ — six orders of headroom;
    * exceeding the budget nulls the Spark side (decimal overflow) and
    * fails the gate rather than lying.
    *
    * Zero prior variance flags ANY deviation (strict `>` keeps exact
    * repeats in-control); events with no prior window (W = 0 or first
    * step) are in-control by definition.
    *
    * ## Scale shape (100 TB)
    * No window function anywhere: events collapse to per-(key, step)
    * sums (partial-aggregable), each step row fans out to its ≤ h
    * following steps through one `explode(sequence)` (bounded 1→h, scan
    * stage), the fan-out partial-aggregates back to (key, step) stats,
    * and one co-partitioned equi-join attaches stats to events. Hot keys
    * cost h extra rows per ACTIVE STEP, not per event.
    *
    * Returns the event grain: `(keyCol, idCol, step, qv, n_prior,
    * is_anomaly)` — `n_prior` the raw in-horizon prior event count. */
  def ewmaControlChart(events: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, idCol: String,
                       halfLifeHours: Int = 4, horizonSteps: Int = 20,
                       valueScale: Long = 100L,
                       kNum: Long = 3L, kDen: Long = 1L): DataFrame = {
    require(halfLifeHours >= 1, s"halfLifeHours must be >= 1, got $halfLifeHours")
    require(horizonSteps >= 1 && horizonSteps <= 20,
      s"horizonSteps must be in [1, 20] (DECIMAL(38) headroom), got $horizonSteps")
    require(valueScale >= 1, s"valueScale must be >= 1, got $valueScale")
    require(kNum >= 1 && kDen >= 1, s"need positive kNum/kDen, got $kNum/$kDen")
    val dec = "decimal(38,0)"
    val h = horizonSteps
    val stepped = events.select(
      col(keyCol), col(idCol),
      stepExpr(tsCol, halfLifeHours).as("step"),
      quantize(col(valueCol), valueScale).as("qv"))
    val perStep = stepped
      .groupBy(col(keyCol), col("step"))
      .agg(sum(col("qv")).as("_sqv"),
        sum(col("qv").cast(dec) * col("qv")).as("_sqv2"),
        count(lit(1)).as("_cnt"))
    val fan = perStep
      .select(col(keyCol), col("step").as("_s"), col("_sqv"), col("_sqv2"),
        col("_cnt"), explode(sequence(col("step") + 1, col("step") + h)).as("_t"))
      .withColumn("_w", call_function("shiftleft", lit(1L),
        (lit(h) - (col("_t") - col("_s"))).cast("int")))
    val stats = fan
      .groupBy(col(keyCol), col("_t"))
      .agg(sum(col("_w").cast(dec) * col("_cnt")).as("_W"),
        sum(col("_w").cast(dec) * col("_sqv")).as("_S"),
        sum(col("_w").cast(dec) * col("_sqv2")).as("_SS"),
        sum(col("_cnt")).as("_np"))
    val dev = col("qv").cast(dec) * col("_W") - col("_S")
    stepped
      .join(stats.withColumnRenamed("_t", "step"), Seq(keyCol, "step"), "left")
      .select(col(keyCol), col(idCol), col("step"), col("qv"),
        coalesce(col("_np"), lit(0L)).as("n_prior"),
        coalesce(
          col("_W") > 0 &&
            lit(kDen * kDen).cast(dec) * dev * dev >
              lit(kNum * kNum).cast(dec) *
                (col("_W") * col("_SS") - col("_S") * col("_S")),
          lit(false)).as("is_anomaly"))
  }
}
