package graft.operators

import org.apache.spark.sql.DataFrame

/** The one lineage-cut policy of the iterative and fan-out operators.
  *
  * A cut is `localCheckpoint()`: an EAGER job barrier that materializes
  * the frame and truncates its lineage. It buys two things — a frame that
  * fans into several consumers is computed once, and an iteration's plan
  * (and the re-execution a retry pays) stops growing with the round count.
  * It costs one materialization job per cut, the per-barrier coordination
  * cost Drizzle (SOSP 2017) separates from compute ([[Graph]]'s `CutEvery`
  * measured 5.7 s with per-round cuts against 1.6 s without). Where to
  * cut is therefore decided inside the operators, not by their callers:
  * no operator takes a checkpoint switch. */
object Lineage {

  @volatile private var enabled = true

  /** `df.localCheckpoint()`; inside [[uncut]], `df` unchanged. */
  def cut(df: DataFrame): DataFrame =
    if (enabled) df.localCheckpoint() else df

  /** False only inside [[uncut]] — for the few operators whose uncut
    * shape is not the identity (Graph's lazily persisted edge table). */
  private[graft] def cutting: Boolean = enabled

  /** Scoped test hook: every [[cut]] made while `f` runs returns its
    * frame unchanged, so a plan assertion sees the whole lineage instead
    * of a `Scan ExistingRDD`. Restored in a finally (crash-safe). The flag
    * is process-wide, like [[Similarity.withPlanLiteralBudget]]: do not run
    * plan specs under parallel execution. */
  private[graft] def uncut[T](f: => T): T = {
    val saved = enabled
    enabled = false
    try f finally enabled = saved
  }
}
