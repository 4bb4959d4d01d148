package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-order MARKOV transition statistics over per-key ordered event
  * sequences — the behavioral fingerprint next to [[Funnel]]'s fixed
  * pattern and [[Sessionize]]'s gap structure: which state follows which,
  * how often, and with what row-normalized probability. A training-data
  * pipeline reads the matrix three ways: synthetic-traffic detection
  * (transition rows that are too uniform), session-model features, and
  * the transition prior a [[LmScore]]-style sequence scorer needs.
  *
  * Reference semantics ground: per-key sequential state is the
  * reference's MapAccumulate (DataStream.scala:45-52) specialized to
  * "previous element" — the lag(1) window is the per-key frame the
  * AccumulateRewrite already targets for running shapes.
  *
  * Exactness: counts are BIGINTs off one lag window; probabilities are
  * integer micro-units `p_micro = c·10⁶ DIV c_from` (truncating integer
  * division — exact, repartition-stable, oracle-identical).
  *
  * ## Scale shape (100 TB)
  * The only window is partitioned BY KEY and ordered within — frame size
  * is one user's event count (the q10/q11 running-shape bound), never a
  * data-wide sort; a celebrity key serializes only its own partition and
  * the documented defense is the same as q11's (per-key caps upstream).
  * Transition counts partial-aggregate to the state×state universe;
  * from-state totals DERIVE from the counts (state-universe-sized
  * reaggregation, no second data pass) and attach by broadcast. */
object Markov {

  /** Transition matrix `(from_state, to_state, c, c_from, p_micro)` over
    * per-key sequences ordered by `orderCols` (callers pass a
    * deterministic total order, e.g. (unix_millis(ts), event_id)).
    * Consecutive pairs only; each key's first event has no predecessor
    * and contributes nothing. */
  def transitionMatrix(df: DataFrame, keyCol: Column, stateCol: Column,
                       orderCols: Seq[Column]): DataFrame = {
    val named = orderCols.zipWithIndex.map { case (c, i) => c.as(s"_o$i") }
    val base = df.select(
      Seq(keyCol.as("_k"), stateCol.as("_s")) ++ named: _*)
    val w = Window.partitionBy(col("_k"))
      .orderBy(orderCols.indices.map(i => col(s"_o$i")): _*)
    // fans into the totals derivation below
    val counts = Lineage.cut(base
      .withColumn("_prev", lag(col("_s"), 1).over(w))
      .where(col("_prev").isNotNull)
      .groupBy(col("_prev").as("from_state"), col("_s").as("to_state"))
      .agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("from_state"))
      .agg(sum(col("c")).as("c_from"))
    counts
      .join(broadcast(totals), Seq("from_state"))
      // DECIMAL(38): c·10⁶ passes 2⁶³ once a pair count passes ~9·10¹²
      .select(col("from_state"), col("to_state"), col("c"), col("c_from"),
        expr("((CAST(c AS DECIMAL(38,0)) * 1000000) DIV c_from)")
          .cast("long").as("p_micro"))
  }
}
