package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{OrderedDistribution, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** A batch global sort whose input AQE has measured as small sorts on ONE
  * partition instead of behind a range exchange.
  *
  * A range exchange's `RangePartitioner` samples its child in a job of its
  * own before the map stage runs that child again, so everything between
  * the last materialized stage and the sort runs twice; on a small output
  * AQE then coalesces the range shuffle to one partition and the sampled
  * bounds go unused. AQE re-plans each time a query stage materializes,
  * with every finished stage a `LogicalQueryStage` carrying its measured
  * statistics. When every leaf under the sort is such a stage and the
  * sort's input, estimated from them, is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (the size AQE aims a
  * post-shuffle partition at), the sort runs over a `SinglePartition`
  * exchange: there are no bounds to sample, and the input still runs on
  * every core in the map stage.
  *
  * Every other sort keeps its range exchange: a sort over a scan, every
  * plan before execution, AQE-off and streaming plans (no query stages),
  * and sort + limit (`TakeOrderedAndProject` consumes the sort).
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if measuredSmall(child) && !stageOrdered(child, OrderedDistribution(order)) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  private def measuredSmall(child: LogicalPlan): Boolean =
    child.collectLeaves().forall {
      case s: LogicalQueryStage => s.isMaterialized
      case _ => false
    } && child.stats.sizeInBytes <=
      SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** A child that is itself a stage already laid out for the sort (its
    * own range exchange, or one partition) needs no second shuffle. */
  private def stageOrdered(child: LogicalPlan, d: OrderedDistribution): Boolean =
    child match {
      case s: LogicalQueryStage => s.physicalPlan.outputPartitioning.satisfies(d)
      case _ => false
    }

  /** Idempotent registration for sessions not built with
    * [[GraftExtensions]]. */
  def ensureRegistered(spark: SparkSession): Unit = register(spark, this)
}
