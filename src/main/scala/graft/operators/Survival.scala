package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KAPLAN-MEIER survival estimation (product-limit, 1958) — "how long
  * until a signup converts / a crawl URL goes stale / a shard fails",
  * with right-CENSORING handled correctly (users still unconverted at
  * observation end inform the risk set without faking an event — the
  * mistake a naive mean-time-to-X query always makes).
  *
  * ## Determinism / exactness
  * The KM estimator is a PRODUCT `S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)`, so
  * the micro-quantization doctrine moves to log space: each event day
  * contributes `term = round(ln((n−d)/n)·10⁶)` computed ONCE per
  * distinct day (the [[Colloc]] site — day-universe-sized), and
  * `ln S` is the exact BIGINT running sum of terms. No float product
  * ever accumulates; `exp` is deliberately NOT taken (libm exp drift
  * across engines — consumers exponentiate at the edge if they want
  * the probability).
  *
  * ## Scale shape (100 TB)
  * Per-subject terminations collapse to the (day, d, total) histogram
  * in one partial-aggregable pass; the risk set is `N − cum_before`
  * over that histogram, and the only windows ride the DAY-UNIVERSE
  * table — bounded by the study length in days (model-sized by
  * nature), never by subjects. Days where the whole risk set
  * terminates (n = d, survival exactly 0) end the curve — emission
  * stops there, documented. Returns
  * `(day, n_risk, d_events, term_micro, ln_s_micro)` for event days,
  * day ascending. */
object Survival {

  /** KM curve over `(durationCol: days, eventCol: true = event,
    * false = censored)` subject rows. */
  def kaplanMeier(df: DataFrame, durationCol: Column, eventCol: Column): DataFrame = {
    val base = df.select(durationCol.cast("long").as("_t"),
      eventCol.as("_e"))
    val hist = base.groupBy(col("_t"))
      .agg(sum(when(col("_e"), 1L).otherwise(0L)).as("_d"),
        count(lit(1)).as("_tot"))
      .localCheckpoint() // day-universe-sized; fans into N and the curve
    val n = hist.agg(sum(col("_tot")).as("_n"))
    val wBefore = Window.orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .crossJoin(n)
      .withColumn("n_risk", col("_n") - coalesce(sum(col("_tot")).over(wBefore), lit(0L)))
      .where(col("_d") > 0L && col("n_risk") > col("_d"))
      // fixed shape: ln((n-d)/n) quantized once per event day
      .withColumn("term_micro",
        round(log((col("n_risk") - col("_d")).cast("double") /
          col("n_risk").cast("double")) * lit(1e6)).cast("long"))
      .withColumn("ln_s_micro", sum(col("term_micro")).over(wCum))
      .select(col("_t").as("day"), col("n_risk"), col("_d").as("d_events"),
        col("term_micro"), col("ln_s_micro"))
  }

  /** LOG-RANK TEST (Mantel–Cox) — "do these two cohorts convert/decay at
    * the same rate?", the significance companion to two [[kaplanMeier]]
    * curves drawn side by side (eyeballing curves flatters any split;
    * log-rank weighs every event day by its risk sets). At each event
    * day: observed group-A events `d_Aj` vs expected `d_j·n_Aj/n_j`
    * under the null, variance
    * `d_j·(n_Aj/n_j)·(n_Bj/n_j)·(n_j−d_j)/(n_j−1)`;
    * `χ² = (O_A − E_A)² / V` with 1 degree of freedom (> 3.84 rejects
    * at α = 0.05, > 6.63 at 0.01).
    *
    * ## Determinism / exactness
    * Counts and risk sets are exact BIGINTs off the merged day
    * histogram; each day's E and V terms are ONE deterministic double
    * chain over those integers quantized to micro at the site (the
    * [[kaplanMeier]] / PSI doctrine), so the sums are exact and the χ²
    * readout is a single mirrored IEEE chain. Days with one subject at
    * risk contribute to E but have zero variance (the 0/0 convention,
    * pinned).
    *
    * ## Scale shape (100 TB)
    * Both cohorts collapse to day histograms in one partial-aggregable
    * pass each, full-outer merged on the day; every window rides the
    * DAY-UNIVERSE table (study-length-bounded, model-sized by nature).
    * Returns ONE row `(n_a, n_b, o_a, e_a_micro, v_micro, chi2)`; χ² is
    * NULL when V = 0 (no comparable event days — e.g. an empty
    * cohort). */
  def logRank(a: DataFrame, b: DataFrame, durationCol: Column,
              eventCol: Column): DataFrame = {
    def hist(df: DataFrame, d: String, tot: String): DataFrame = df
      .select(durationCol.cast("long").as("_t"), eventCol.as("_e"))
      .groupBy(col("_t"))
      .agg(sum(when(col("_e"), 1L).otherwise(0L)).as(d),
        count(lit(1)).as(tot))
    val merged = hist(a, "_da", "_ta").join(hist(b, "_db", "_tb"),
        Seq("_t"), "full_outer")
      .select(col("_t"),
        coalesce(col("_da"), lit(0L)).as("_da"),
        coalesce(col("_ta"), lit(0L)).as("_ta"),
        coalesce(col("_db"), lit(0L)).as("_db"),
        coalesce(col("_tb"), lit(0L)).as("_tb"))
      .localCheckpoint() // day-universe-sized; fans into totals + terms
    val n = merged.agg(sum(col("_ta")).as("_na"), sum(col("_tb")).as("_nb"))
    val wBefore = Window.orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    merged
      .crossJoin(n)
      .withColumn("_ra",
        col("_na") - coalesce(sum(col("_ta")).over(wBefore), lit(0L)))
      .withColumn("_rb",
        col("_nb") - coalesce(sum(col("_tb")).over(wBefore), lit(0L)))
      .withColumn("_dj", col("_da") + col("_db"))
      .withColumn("_nj", col("_ra") + col("_rb"))
      .where(col("_dj") > 0L)
      .withColumn("_em", round(col("_dj").cast("double") *
        col("_ra").cast("double") / col("_nj").cast("double") * lit(1e6))
        .cast("long"))
      .withColumn("_vm", when(col("_nj") > 1L,
        round(col("_dj").cast("double") * col("_ra").cast("double") /
          col("_nj").cast("double") * col("_rb").cast("double") /
          col("_nj").cast("double") *
          (col("_nj") - col("_dj")).cast("double") /
          (col("_nj") - lit(1L)).cast("double") * lit(1e6)).cast("long"))
        .otherwise(lit(0L)))
      .groupBy(col("_na"), col("_nb"))
      .agg(sum(col("_da")).as("o_a"), sum(col("_em")).as("e_a_micro"),
        sum(col("_vm")).as("v_micro"))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"), col("o_a"),
        col("e_a_micro"), col("v_micro"),
        when(col("v_micro") > 0L,
          (col("o_a").cast("double") - col("e_a_micro").cast("double") / lit(1e6)) *
            (col("o_a").cast("double") - col("e_a_micro").cast("double") / lit(1e6)) /
            (col("v_micro").cast("double") / lit(1e6)))
          .as("chi2"))
  }
}
