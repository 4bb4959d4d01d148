package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MARKET-BASKET analytics over session baskets — which items co-occur
  * beyond chance ([[coOccurrenceLift]]) and which precede which
  * ([[precedence]]): the association-mining read a pipeline uses for
  * recommendation priors, funnel DISCOVERY (q91 checks a funnel you
  * already know; precedence finds candidate orderings), and
  * bot-pattern screening (mechanical traffic shows impossible lifts).
  *
  * Exactness: supports are session COUNTS (BIGINT off distinct
  * membership); `lift_micro = ⌊s_ab·N·10⁶/(s_a·s_b)⌋` is pure integer
  * arithmetic (the q194 micro-lift shape); precedence compares exact
  * per-session first-occurrence timestamps with strict inequality
  * (ties contribute to neither direction — deterministic).
  *
  * ## Scale shape (100 TB)
  * Baskets collapse to DISTINCT (session, item) membership first —
  * the only joins are within-session equi-joins on the session key,
  * so pair volume is bounded by Σ_sessions k_s² with k_s ≤ the item
  * UNIVERSE (event types, SKU families — model-sized per session by
  * construction, never raw event count); supports partial-aggregate
  * to the item/pair universe and totals attach by broadcast. */
object Basket {

  /** Unordered co-occurrence: `(item_a < item_b, n_both, n_a, n_b,
    * n_sessions, lift_micro)` per pair observed in ≥1 session. */
  def coOccurrenceLift(df: DataFrame, sessionKey: Column,
                       itemCol: Column): DataFrame = {
    val m = df.select(sessionKey.as("_s"), itemCol.as("_i")).distinct()
      .localCheckpoint() // fans into totals, per-item, and the pair join
    val n = m.agg(countDistinct(col("_s")).as("_n")) // 1-row scalar, broadcast
    val items = m.groupBy(col("_i")).agg(count(lit(1)).as("_si"))
    val pairs = m.join(m.select(col("_s"), col("_i").as("_j")), Seq("_s"))
      .where(col("_i") < col("_j"))
      .groupBy(col("_i").as("item_a"), col("_j").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
    // NO forced broadcast on the per-item supports: the item universe is
    // model-sized for the documented uses (event types, SKU families) and
    // AQE will broadcast it at runtime from its ACTUAL size — but a forced
    // hint would OOM the driver if a caller feeds a data-sized catalog
    // (10⁸ items), where this degrades safely to a shuffle join on the
    // item key instead. The 1-row totals crossJoin below stays hinted.
    pairs
      .join(items.select(col("_i").as("item_a"), col("_si").as("n_a")),
        Seq("item_a"))
      .join(items.select(col("_i").as("item_b"), col("_si").as("n_b")),
        Seq("item_b"))
      .crossJoin(n)
      // DECIMAL(38): s_ab·N·10⁶ is ~10²⁶ at 10¹⁰ sessions — far past 2⁶³
      .select(col("item_a"), col("item_b"), col("n_both"), col("n_a"), col("n_b"),
        col("_n").as("n_sessions"),
        expr("((CAST(n_both AS DECIMAL(38,0)) * _n * 1000000) DIV " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b))").cast("long").as("lift_micro"))
  }

  /** Ordered precedence: for each ordered pair (a ≠ b) present together
    * in ≥1 session, how often a's FIRST occurrence strictly precedes
    * b's: `(item_a, item_b, n_both, n_a_first, first_ratio)`. Ties
    * count to neither direction. */
  def precedence(df: DataFrame, sessionKey: Column, itemCol: Column,
                 tsCol: Column): DataFrame = {
    val firsts = df.select(sessionKey.as("_s"), itemCol.as("_i"),
        tsCol.cast("long").as("_t"))
      .groupBy(col("_s"), col("_i")).agg(min(col("_t")).as("_f"))
      .localCheckpoint()
    firsts
      .join(firsts.select(col("_s"), col("_i").as("_j"), col("_f").as("_g")),
        Seq("_s"))
      .where(col("_i") =!= col("_j"))
      .groupBy(col("_i").as("item_a"), col("_j").as("item_b"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("_f") < col("_g"), 1L).otherwise(0L)).as("n_a_first"))
      .withColumn("first_ratio",
        col("n_a_first").cast("double") / col("n_both").cast("double"))
  }
}
