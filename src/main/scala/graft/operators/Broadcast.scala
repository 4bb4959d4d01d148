package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one broadcast rule: the join planner decides by size.
  *
  * A frame that has at most one row by construction — a no-grouping
  * `agg`, a `select` of aggregates, `range(1)`, `limit(1)` — is estimated
  * at one row of a few bytes, so an unhinted attach already plans
  * `BroadcastNestedLoopJoin`; such attaches carry no hint. A hint stays
  * only where the planner cannot see the size (a grouped frame's
  * estimate is its child's, far past the threshold), and a hinted frame
  * whose row count has no fixed bound goes through [[ifFits]].
  *
  * [[rowBudget]] bounds those frames: ADC distance tables and IVF probe
  * lists (query-batch-sized — a 10k-query × 32-probe × m=8 × ksub=256
  * batch is ~650M rows) and a graph's degree table (node-sized). At or
  * below it the side broadcasts (~50 MB at 2²⁰ compact long rows: only
  * the small side moves); above it the hint is dropped and the join
  * falls back to a shuffle hash/sort-merge join on the same keys — same
  * rows, bounded memory. Test-only override via [[withRowBudget]]. */
object Broadcast {

  @volatile private[graft] var rowBudget: Long = 1L << 20

  /** Scoped test override for [[rowBudget]] — sets the budget, runs `f`,
    * restores in a finally (crash-safe). The var is @volatile but
    * overrides assume the single-threaded ScalaTest default; do not run
    * budget-override specs under parallel execution. */
  private[graft] def withRowBudget[T](b: Long)(f: => T): T = {
    val saved = rowBudget
    rowBudget = b
    try f finally rowBudget = saved
  }

  /** Broadcast `df` when its (caller-computed, exact) row bound fits
    * [[rowBudget]]; otherwise return it unhinted so the join planner
    * picks a shuffle join. */
  private[graft] def ifFits(df: DataFrame, rowBound: Long): DataFrame =
    if (rowBound <= rowBudget) broadcast(df) else df
}
