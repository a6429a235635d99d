package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  ResultQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.graft.Interop
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pipelines, Relational}
import graft.plans.SmallSortStrategy

/** `SmallSortStrategy` on the plans AQE settles on: a global sort over a
  * measured-small input sorts on one partition, with no range-bounds
  * sampling job; every other sort keeps its range exchange. */
class SmallSortSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  /** Runs `df`'s own plan: its final physical plan and its rows. */
  private def run(df: DataFrame): (SparkPlan, Array[InternalRow]) = {
    val qe = df.queryExecution
    val rows = qe.executedPlan.executeCollect()
    val fin = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan match {
        case r: ResultQueryStageExec => r.plan
        case p => p
      }
      case p => p
    }
    (fin, rows)
  }

  private def finalPlan(df: DataFrame): SparkPlan = run(df)._1

  /** The topmost global sort sits on a one-partition shuffle stage. */
  private def sortsOnOnePartition(p: SparkPlan): Boolean =
    p.collectFirst { case s: SortExec if s.global => s.child }.exists {
      case InputAdapter(q: ShuffleQueryStageExec) =>
        q.shuffle.outputPartitioning == SinglePartition
      case q: ShuffleQueryStageExec =>
        q.shuffle.outputPartitioning == SinglePartition
      case _ => false
    }

  private def rangeExchanges(p: SparkPlan): Int =
    "rangepartitioning".r.findAllIn(p.toString).size

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("p01 and q05: the final sort sits on one partition, no range exchange") {
    Seq(Pipelines.p01SwapsPipeline(spark, sfDir),
      Relational.q05MultiJoinAgg(spark, sfDir)).foreach { df =>
      val p = finalPlan(df)
      assert(sortsOnOnePartition(p), p)
      assert(rangeExchanges(p) === 0, p)
    }
  }

  /** `body` planned and run with the rule taken out of the session. */
  private def withoutRule[T](body: => T): T = {
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies.filterNot(_ eq SmallSortStrategy)
    try body finally SmallSortStrategy.ensureRegistered(spark)
  }

  test("p01 and q05 each run one job fewer: no bounds-sampling job") {
    def jobs(df: => DataFrame): Int = JobCount.startedBy(spark)(noop(df))
    Seq(
      ("p01", () => Pipelines.p01SwapsPipeline(spark, sfDir), 3),
      ("q05", () => Relational.q05MultiJoinAgg(spark, sfDir), 7)).foreach {
      case (name, df, expected) =>
        assert(jobs(df()) === expected, name)
        assert(withoutRule(jobs(df())) === expected + 1, name)
    }
  }

  test("a sort straight over a scan keeps its range exchange (p09, q41)") {
    Seq(Pipelines.p09DynamicDecode(spark, sfDir),
      Relational.q41HigherOrderArray(spark, sfDir)).foreach { df =>
      val p = finalPlan(df)
      assert(!sortsOnOnePartition(p), p)
      assert(rangeExchanges(p) === 1, p)
    }
  }

  test("p01 keeps its range exchange when its measured input is above the " +
    "advisory partition size") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val p = try finalPlan(Pipelines.p01SwapsPipeline(spark, sfDir))
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!sortsOnOnePartition(p), p)
    assert(rangeExchanges(p) === 1, p)
  }

  test("q07's sort + limit stays TakeOrderedAndProject") {
    val p = finalPlan(Relational.q07SortLimit(spark, sfDir))
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty, p)
    assert(p.collect { case s: SortExec if s.global => s }.isEmpty, p)
  }

  test("with AQE off the plan is the one planned without the rule") {
    val analyzed = Interop.analyzedPlan(Pipelines.p01SwapsPipeline(spark, sfDir))
    def planned(): String = Interop.ofRows(spark, analyzed).queryExecution
      .executedPlan.toString.replaceAll("plan_id=\\d+", "")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val withRule = planned()
      assert(withRule === withoutRule(planned()))
      assert("rangepartitioning".r.findAllIn(withRule).size === 1, withRule)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("registration is idempotent") {
    val n = spark.experimental.extraStrategies.count(_ eq SmallSortStrategy)
    SmallSortStrategy.ensureRegistered(spark)
    SparkEntry.queries("q01_agg_filter")(spark, sfDir)
    assert(n === 1)
    assert(spark.experimental.extraStrategies.count(_ eq SmallSortStrategy) === 1)
  }

  /** Every query whose final plan the rule changes at sf0.01. The oracle
    * compare sorts both sides, so it cannot see a broken ORDER BY; this
    * checks the rows against the query's own sort order. */
  private val reordered = Seq(
    "c07_split_leak", "d01_dedup_exact", "d07_url_dedup",
    "d12_incremental_lsh_index", "f02_discriminator", "f06_u256_sum",
    "k04_bucketed_join", "k18_merge_on_read", "m04_payload_dedup",
    "m06_modality_coverage", "p01_swaps_pipeline", "p02_vwap_pipeline",
    "p11_curation_pipeline", "q01_agg_filter", "q04_broadcast_dim_join",
    "q05_multi_join_agg", "q08_distinct_dict", "q12_incremental_resume",
    "q18_having_threshold", "q19_rollup", "q20_time_bucket",
    "q21_asof_join", "q24_grouping_sets", "q25_pivot",
    "q28_window_analytics", "q29_set_ops", "q31_json_extract",
    "q34_recursive_cte", "q38_cube", "q40_exact_percentile",
    "q42_filtered_agg", "q43_multi_count_distinct",
    "q46_path_transitions", "s01_ann_bruteforce", "s02_ann_lsh",
    "s03_ann_ivf", "s04_ann_quantized", "s07_ann_filtered", "s08_mips",
    "st02_stream_state", "st05_rocksdb_state", "st10_transform_state",
    "st25_stream_quantile", "st27_stream_transitions", "t05_corpus_stats",
    "t09_boilerplate", "t12_heavy_hitters", "t14_domain_mix",
    "t18_bpe_encode")

  test("queries sorted on one partition return rows in their sort order") {
    val dir = "/root/testdata/sf0.01"
    reordered.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val order = df.queryExecution.optimizedPlan
        .collectFirst { case s: Sort if s.global => s.order }
        .getOrElse(fail(s"$name has no global sort"))
      val (p, rows) = run(df)
      assert(sortsOnOnePartition(p), s"$name:\n$p")
      assert(rows.length > 1, name)
      val ord = new InterpretedOrdering(
        order.map(BindReferences.bindReference(_, df.queryExecution.executedPlan.output)))
      val unordered = rows.sliding(2).indexWhere { case Array(a, b) =>
        ord.compare(a, b) > 0 }
      assert(unordered < 0, s"$name: rows $unordered and ${unordered + 1} out of order")
      Session.cleanup(spark)
    }
  }
}
