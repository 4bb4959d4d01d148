package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: the range exchange of a global sort
  * whose input is already computed and fits one partition shuffles into
  * one range partition.
  *
  * A range exchange over n > 1 partitions first runs `RangePartitioner`'s
  * sampling job, which recomputes the whole input stage to find the bounds;
  * then the shuffle computes it again, and AQE coalesces a small result to
  * one partition anyway. With one partition the partitioner draws no
  * sample, so the sampling job goes away and the output is the same sorted
  * rows.
  *
  * It fires only when the size is a runtime fact: every leaf under the
  * exchange is a materialized query stage (not a file-size estimate), no
  * generator can multiply rows past the stages' statistics, and the
  * input's estimated size is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. User range
  * repartitions (other shuffle origins), non-AQE plans and streaming
  * micro-batches never reach it. The exchange stays a range exchange,
  * never `SinglePartition`, so a plan still shows a global sort as one. */
final case class SmallSortExchange(spark: SparkSession) extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(RangePartitioning(ordering, n), child, ENSURE_REQUIREMENTS, _)
        if n > 1 && fitsOnePartition(child) =>
      e.copy(outputPartitioning = RangePartitioning(ordering, 1))
  }

  private def fitsOnePartition(child: SparkPlan): Boolean =
    child.collectLeaves().forall {
      case stage: QueryStageExec => stage.isMaterialized
      case _ => false
    } && child.find(_.isInstanceOf[GenerateExec]).isEmpty &&
      child.logicalLink.exists(_.stats.sizeInBytes <=
        spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}
