package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D SKYLINE (Pareto front) — multi-objective curation's primitive:
  * "the documents no other document beats on BOTH axes" (shorter AND
  * higher-quality, cheaper AND fresher, smaller AND more diverse).
  * Point b dominates a iff `x_b ≤ x_a ∧ y_b ≥ y_a` with at least one
  * strict (x minimized, y maximized); the skyline keeps the
  * non-dominated points — the frontier a quota-constrained selection
  * walks instead of thresholding each axis independently.
  *
  * ## Scale shape (100 TB)
  * The naive formulation is an all-pairs dominance join (quadratic —
  * the classic skyline trap). The 2-D structure collapses it to
  * HISTOGRAM arithmetic: with `H(x) = max y at x` and
  * `P(x) = max y at any x' < x`, point (x, y) survives iff
  * `y = H(x) ∧ y > P(x)` (anything else is beaten within its column or
  * from a strictly-shorter one; exact ties are mutually non-dominating
  * and all survive). So: one partial-aggregable `groupBy(x) max(y)`
  * over the scan, a two-level prefix-max over the x-value histogram
  * (per-bucket running max + a broadcast bucket-offset table — the
  * [[Intervals]]/[[Ranking.globalRankBy]] shape, nothing
  * single-partition that is data-sized), and one value-keyed join back.
  * Exact integers end to end; callers quantize floats first. */
object Skyline {

  /** Non-dominated points minimizing `xCol`, maximizing `yCol` (both
    * integral). Keeps exact duplicates of frontier points. Returns the
    * input row's (idCol, xCol, yCol) for each survivor. `bucketOf` maps
    * x to its prefix-max bucket (integral, order-consistent). */
  def paretoFront2D(df: DataFrame, idCol: String, xCol: Column, yCol: Column,
                    bucketOf: Column => Column): DataFrame = {
    // pts fans into the histogram AND the frontier join-back — without a
    // cut, an expensive caller expression (a quality score) evaluates
    // twice and the 10x ratio goes superlinear (measured 12.5x)
    val pts = Lineage.cut(df.select(col(idCol), xCol.cast("long").as("_x"),
      yCol.cast("long").as("_y")))
    val hist = pts.groupBy(col("_x")).agg(max(col("_y")).as("_h"))
      .withColumn("_b", bucketOf(col("_x")))
    // P(x): running max of H over x' < x, two-level
    val wIn = Window.partitionBy(col("_b")).orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist.groupBy(col("_b")).agg(max(col("_h")).as("_bm"))
      .select(col("_b"), max(col("_bm")).over(wOff).as("_off"))
    val frontier = hist
      .join(broadcast(offsets), Seq("_b"))
      .withColumn("_p", greatest(
        coalesce(max(col("_h")).over(wIn), lit(Long.MinValue)),
        coalesce(col("_off"), lit(Long.MinValue))))
      .where(col("_h") > col("_p"))
      .select(col("_x").as("_fx"), col("_h").as("_fy"))
    pts.join(frontier,
        col("_x") === col("_fx") && col("_y") === col("_fy"))
      .select(col(idCol), col("_x").as("x"), col("_y").as("y"))
  }
}
