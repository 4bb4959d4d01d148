package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable running (prefix) aggregations — the distributed form of the
  * reference's `MapAccumulate` (reference DataStream.scala:44-45,
  * Local.scala:139-151).
  *
  * A *global* ordered scan cannot be distributed (SURVEY §7.3 #1) — the
  * general `DataStream.mapAccumulate` is honest about that and runs on one
  * partition. But nearly every real use of a running scan is *per key*
  * (running totals per user, cumulative revenue per account), and that form
  * IS distributed: hash-partition by key, sort within partition, evaluate an
  * unbounded-preceding window frame under whole-stage codegen. */
object Accumulate {

  private def frame(partition: Seq[Column], order: Seq[Column]) = {
    // an empty partition list is the undistributable global scan — that
    // path is DataStream.mapAccumulate's, explicitly, not a silent fallback
    require(partition.nonEmpty,
      "running aggregates require partition keys; for a global ordered scan use DataStream.mapAccumulate")
    Window.partitionBy(partition: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
  }

  /** Running aggregate of `expr` per partition key, in `order` order. */
  def running(df: DataFrame, agg: Column, partition: Seq[Column],
              order: Seq[Column], as: String): DataFrame =
    df.withColumn(as, agg.over(frame(partition, order)))

  /** Running sum — the reference's canonical accumulate. */
  def runningSum(df: DataFrame, valueCol: Column, partition: Seq[Column],
                 order: Seq[Column], as: String): DataFrame =
    running(df, sum(valueCol), partition, order, as)
}
