package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore,
  StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge between graft's custom Catalyst [[Expression]]s /
  * [[LogicalPlan]]s and the public [[Column]]/[[DataFrame]] API. Spark 4
  * hides the Column(expr) constructor and Dataset.ofRows behind the
  * classic module; this shim (placed under org.apache.spark.sql so the
  * private[sql] surface is reachable) is the single point of contact.
  */
object Interop {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
  /** The class name graft's SQL functions carry in the function
    * registry, on both routes that register them. */
  val functionClass = "graft.functions"

  /** Expose a function builder to `spark.sql(...)` text on an existing
    * session (the extensions path covers sessions built with
    * graft.plans.GraftExtensions; this covers everyone else). A name the
    * session already resolves to a graft function is left as it is:
    * Spark logs a warning for every replaced function, and this runs on
    * every query call. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    if (!registry.lookupFunction(id).exists(_.getClassName == functionClass))
      registry.registerFunction(id, new ExpressionInfo(functionClass, name), builder)
  }

  /** Unload and close the state-store providers of `q`'s run. A provider
    * stays in the JVM-wide `StateStore.loadedProviders` map, holding its
    * last state versions on the heap, until the next maintenance tick
    * unloads it; a run that has ended will never commit to it again.
    * The ids come from the run's last executed plan: every stateful
    * operator's state info (which carries the run id) times each of its
    * store names and partitions, so another run's providers are never
    * touched. A run that executed no batch has no plan and nothing
    * loaded. Local mode runs the executors in this JVM, where the map
    * lives; a later run over the same checkpoint reloads the state from
    * its files. */
  def releaseStateStores(q: StreamingQuery): Unit =
    Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
      .foreach(_.executedPlan.foreach {
        case w: StateStoreWriter =>
          w.stateInfo.foreach { info =>
            for (name <- w.stateStoreNames; p <- 0 until info.numPartitions)
              StateStore.removeFromLoadedProvidersAndClose(
                StateStoreProviderId(info, p, name))
          }
        case _ =>
      })
}
