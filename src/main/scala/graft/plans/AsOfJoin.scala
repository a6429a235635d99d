package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.Interop

/** Native as-of join — the (c) rung of the custom-operator ladder: a
  * LogicalPlan node + SparkStrategy + physical merge-scan operator,
  * registered via SparkSessionExtensions (or `spark.experimental`).
  *
  * Semantics (the reference's trailing price/range match,
  * /root/reference/src/cherry_pipelines/svm/swap_prices.py join_where):
  * each left row picks the right row with the greatest
  * (rightTime, rightTie) among rows of the same key with
  * rightTime <= leftTime; no match → nulls.
  *
  * Physical contract: both sides hash-cluster on the key and sort by
  * (key, time) — Catalyst's EnsureRequirements inserts the exchanges and
  * sorts exactly as for a sort-merge join — then ONE forward merge scan
  * per partition joins them with O(1) state (the current candidate row).
  * Versus alternatives at 100 TB: a range join explodes candidates
  * O(n·w); the union+window composition (Relational.q21) is linear but
  * shuffles left+right through one union'd exchange and a window buffer;
  * this operator streams both sides. Key/time extraction runs through
  * codegen'd UnsafeProjections (no interpreted eval, no boxing on the
  * hot path), and candidate retention reuses ONE mutable UnsafeRow copy
  * buffer — consuming a same-key right row costs a byte copy into the
  * reused buffer, not a fresh allocation per row.
  *
  * v1 contract: key/time/tie expressions must evaluate to non-null LONGs
  * (the `AsOf.join` API casts and filters accordingly).
  */
final case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression, rightTie: Expression,
    tolerance: Long = -1L)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt, tie, tol) =>
      AsOfJoinExec(lk, lt, rk, rt, tie, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Entry point for `spark.sql.extensions=graft.plans.GraftExtensions`:
  * planner strategies for the native as-of join and the small global sort
  * + every graft function exposed to SQL text. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => SmallSortStrategy)
    graft.functions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          org.apache.spark.sql.graft.Interop.functionClass, name),
        builder))
    }
  }
}

final case class AsOfJoinExec(leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression, rightTie: Expression,
    tolerance: Long,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "matched rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val rkB = BindReferences.bindReference(rightKey, right.output)
    val rtB = BindReferences.bindReference(rightTime, right.output)
    val nRight = right.output.size
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val nullRow = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      // codegen'd (key, time) extractors — getLong on the projected row is
      // primitive access, no per-row boxing or interpreted eval
      val lktProj = UnsafeProjection.create(Seq(lkB, ltB))
      val rktProj = UnsafeProjection.create(Seq(rkB, rtB))
      var candKey = 0L
      var candTime = 0L
      var cand: InternalRow = null
      // single mutable copy buffer: rIter reuses its row object (and any
      // peek via the buffered iterator invalidates it), so the surviving
      // candidate must be copied out — but into ONE reused UnsafeRow
      // buffer, not a fresh allocation per consumed right row
      var candBuf: org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
      lIter.map { lRow =>
        val lkt = lktProj(lRow)
        val k = lkt.getLong(0)
        val t = lkt.getLong(1)
        if (cand != null && candKey != k) cand = null
        var scanning = true
        while (scanning && rBuf.hasNext) {
          val hkt = rktProj(rBuf.head)
          val hk = hkt.getLong(0)
          val ht = hkt.getLong(1)
          if (hk < k || (hk == k && ht <= t)) {
            val r = rBuf.next()
            if (hk == k) {
              r match {
                case ur: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
                  if (candBuf == null) candBuf = ur.copy()
                  else candBuf.copyFrom(ur)
                  cand = candBuf
                case other => cand = other.copy()
              }
              candKey = k
              candTime = ht
            }
          } else scanning = false
        }
        numOutputRows += 1
        // tolerance bounds staleness: the retained candidate is the
        // CLOSEST right row at or before t, so if it is out of tolerance
        // no other row can be in — null, not a further scan
        val matched = cand != null && candKey == k &&
          (tolerance < 0L || t - candTime <= tolerance)
        if (matched) numMatched += 1
        proj(joined(lRow, if (matched) cand else nullRow))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Column-level API. Key/time columns are referenced BY NAME against each
  * side's analyzed output (so callers never juggle resolved attributes)
  * and must be long-typed; rows with null key/time on either side are
  * filtered (v1 contract).
  */
object AsOf {
  /** tolerance (same unit as the time columns, -1 = unbounded) bounds
    * how stale a match may be: a left row whose closest candidate is
    * older than `leftTime - tolerance` joins null instead — pandas
    * merge_asof's `tolerance` / kdb wj-window semantics. */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String, rightTie: String,
      tolerance: Long = -1L): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    import org.apache.spark.sql.functions.col
    val l = left.filter(col(leftKey).isNotNull && col(leftTime).isNotNull)
    val r = right.filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
    val lPlan = Interop.analyzedPlan(l)
    val rPlan = Interop.analyzedPlan(r)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output}"))
    Interop.ofRows(spark, AsOfJoin(lPlan, rPlan,
      attr(lPlan, leftKey), attr(lPlan, leftTime),
      attr(rPlan, rightKey), attr(rPlan, rightTime), attr(rPlan, rightTie),
      tolerance))
  }

  /** Idempotent strategy registration for sessions not built with
    * [[GraftExtensions]]. */
  def ensureRegistered(spark: SparkSession): Unit =
    register(spark, AsOfJoinStrategy)
}
