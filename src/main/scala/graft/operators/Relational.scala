package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Core relational operators — the reference's pipeline shapes re-expressed
  * as declarative Spark plans over the test tables (SURVEY.md §2 / §4).
  *
  * Correctness contract with the DuckDB oracle (SURVEY.md §5): exact decimal
  * aggregation (double SUM is order-dependent, decimal is not), final cast
  * back to double for engine-independent schemas, and a total ORDER BY so
  * row order is deterministic on both sides.
  *
  * Scale notes (SURVEY.md §6): every query starts from a pruned parquet scan
  * (Catalyst pushes the filter + projection down); dimension joins are
  * explicitly `broadcast()`; fact-side window functions reuse a single
  * hash-partition-by-key exchange instead of self-joins.
  */
object Relational {

  /** Exact-sum helper: aggregate doubles through DecimalType then back. */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(38, scale))).cast("double")

  /** q01 — scan→filter→groupBy→agg with pushdown.
    * Shape of swap_prices.py:197-202 (group_by + sum aggregates over a
    * block-range filter).
    */
  def q01AggFilter(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.filter(col("l_shipdate") <= lit("1997-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q02 — prefix filter + narrow projection (discriminator-style filter;
    * orca_swaps.py:240-261 filters instructions on a binary prefix then
    * projects a narrow schema). The startsWith predicate and the 3-column
    * projection both push into the parquet scan.
    */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    o.filter(col("o_orderpriority").startsWith("1-"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q03 — fact left-join dim for timestamp enrichment
    * (erc20_transfers.py:58-72 joins decoded logs to blocks for
    * block timestamps). Orders is the "blocks" side here.
    */
  def q03LeftJoinEnrich(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"), "left")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_orderdate"))
      // part-sorted, not globally sorted: a global orderBy's range
      // exchange runs a sampling job that re-executes the join lineage
      // and reshuffles the full fact output — at 100 TB nobody globally
      // sorts an enriched fact table; parts sort locally (no exchange)
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
  }

  /** q04 — small-dim join chain, explicitly broadcast
    * (orca_metadata.py:236-238 token metadata joins). nation/region stay
    * KB-sized at any SF → broadcast both, zero shuffle on the dim side.
    */
  def q04BroadcastDimJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("r_name"))
  }

  /** q05 — multi-table join + agg (revenue per nation), the chained-join
    * shape of orca_swaps.py:424-467. The filtered customer ⋈ orders side
    * broadcasts and lineitem streams past it; dims broadcast.
    */
  def q05MultiJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // explicit: lineitem's pruned size estimate falls under the
    // auto-broadcast threshold, and unhinted the planner broadcasts the
    // fact table (600k rows, 71.6 MB of BroadcastExchange at sf0.1)
    val customerOrders = t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
    broadcast(customerOrders)
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  /** q06 — normalize two event variants to a common schema and union
    * (orca_swaps.py:293-345 decodes v1/v2 swap layouts then vstacks).
    * Variant B's amount comes from a JSON payload (the decode analog).
    */
  def q06UnionVariants(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val v1 = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value").as("amount"),
        lit("v1").as("variant"))
    val v2 = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("double").as("amount"),
        lit("v2").as("variant"))
    v1.unionByName(v2).orderBy(col("variant"), col("event_id"))
  }

  /** q07 — global sort + limit (orca_swaps.py:230-232 sorts decoded
    * instructions). Spark does a sampled range-partitioned sort; with LIMIT
    * it degenerates to a TakeOrdered — no full shuffle at any scale.
    */
  def q07SortLimit(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q08 — distinct key→value dictionary (token_decimals pipeline,
    * orca_swaps.py:475-478: distinct mint→decimals map). Partial
    * (map-side) distinct before the shuffle keeps it cheap at scale.
    */
  def q08DistinctDict(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).part
      .select(col("p_brand"), col("p_type"))
      .distinct()
      .orderBy(col("p_brand"), col("p_type"))
  }

  /** q09 — per-group ordered row index (orca_swaps.py:238 with_row_index
    * per transaction). One hash exchange on user_id + in-partition sort;
    * the (ts, event_id) tiebreak makes it deterministic. No trailing
    * sort: WindowExec already sorted each partition by
    * (user_id, ts, event_id), which IS (user_id, rn) order — the
    * part-sorted fact-scale output convention (a global orderBy would
    * re-execute the window in the range sampling job; PERF.md).
    */
  def q09RowNumber(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts"),
        row_number().over(w).as("rn"))
  }

  /** q10 — adjacency match at index+1 (orca_swaps.py:402-436 joins each
    * swap instruction to the token transfer at instruction_index+1).
    * Spark-first: a lead() window over the same partition-by-key exchange
    * replaces the reference's self-join — one shuffle instead of two and
    * no join at all.
    */
  def q10AdjacencyJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("event_type"),
        lead(col("event_id"), 1).over(w).as("next_event_id"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_event_id").isNotNull)
      // part-sorted: the window already paid the one shuffle this query
      // needs; a global orderBy's range exchange re-runs the whole window
      // lineage for its sampling pass and reshuffles the fact-scale
      // output (measured 21x on the 10->100x corpus step; the comparator
      // is order-insensitive)
      .sortWithinPartitions(col("user_id"), col("event_id"))
  }

  /** q11 — trailing range-window aggregate (swap_prices.py:189-218: VWAP
    * over a trailing 20-slot window via join_where). Spark-first: a
    * RANGE BETWEEN window — one shuffle by key + one sort, linear scan
    * after, vs the reference's O(n·w) range join. Decimal-cast inside the
    * window SUM keeps it order-independent → oracle-exact.
    */
  def q11RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_sec"))
      .rangeBetween(-86400L, 0L)
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_sec"), col("value"))
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        sum(col("value").cast(DecimalType(38, 6))).over(w).cast("double")
          .as("trailing_sum"))
      // part-sorted, same reasoning as q10: one window shuffle is the
      // query; don't re-shuffle fact-scale output to order it globally
      .sortWithinPartitions(col("user_id"), col("event_id"))
  }

  /** q12 — incremental resume point: MAX(key)+1 per group
    * (db.py:30-45 get_next_block: SELECT MAX(block)+1 per chain).
    * Partial max before the shuffle → one tiny exchange at any scale.
    */
  def q12IncrementalResume(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).events
      .groupBy(col("event_type"))
      .agg((max(col("event_id")) + lit(1L)).as("next_start"))
      .orderBy(col("event_type"))
  }

  /** q13 — direction-dependent column remap (orca_swaps.py:373-400: the
    * a_to_b flag decides which vault is input vs output). Pure projection
    * — stays inside whole-stage codegen, no shuffle.
    */
  def q13ConditionalSwap(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val aToB = col("l_returnflag") === "R"
    li.select(col("l_orderkey"), col("l_linenumber"),
        when(aToB, col("l_partkey")).otherwise(col("l_suppkey")).as("in_key"),
        when(aToB, col("l_suppkey")).otherwise(col("l_partkey")).as("out_key"))
      // part-sorted: the projection is row-local, so a global sort's
      // exchange + sampling pass would be the ONLY shuffle in the query —
      // pure overhead at fact scale (the comparator is order-insensitive)
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
  }

  /** q14 — Decimal(38,9) ratio/price math (swap_prices.py:203-217 price =
    * amount_a/amount_b in Decimal). The ratio is computed and rounded in
    * decimal; the final output casts back to double (values stay ≤15
    * significant digits) so the result is engine-portable.
    */
  def q14DecimalRatio(spark: SparkSession, dir: String): DataFrame = {
    // part-sorted scan, decimal casts projected after: the row-local
    // math needs no shuffle at all, so the only cost above the scan is a
    // local in-partition sort — no range exchange, no sampling pass
    Tables(spark, dir).lineitem
      .filter(col("l_quantity") > lit(0.0))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_quantity"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") / col("l_quantity"))
          .cast(DecimalType(38, 9)).cast("double").as("unit_price"),
        col("l_extendedprice").cast(DecimalType(18, 6)).cast("double")
          .as("price_dec"))
  }

  /** q15 — EXISTS / semi-join filtering (program-id membership filters in
    * the svm pipelines). left_semi keeps only the probe columns — no
    * payload duplication across the shuffle.
    */
  def q15SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** q16 — NOT EXISTS / anti-join (orca_swaps.py:234-237 drops memo-program
    * instructions). */
  def q16AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** q17 — positional array explode (instruction_address Array(UInt32)
    * columns in the svm pipelines). posexplode is generate-codegen'd; the
    * vec_id filter pushes into the scan before the generate.
    */
  def q17ExplodePos(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).embeddings
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "val")))
      .select(col("vec_id"), (col("idx") + 1).as("idx"), col("val"))
      .orderBy(col("vec_id"), col("idx"))
  }

  /** q18 — post-aggregation threshold filter (swap_prices.py:202
    * total_usd > threshold, i.e. HAVING). The filter runs post-shuffle on
    * the aggregated rows — tiny.
    */
  def q18HavingThreshold(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(dsum(col("value"), 6).as("total_value"),
        count(lit(1)).as("n_events"))
      .filter(col("total_value") > lit(500.0))
      .orderBy(col("user_id"))
  }

  /** q19 — multi-level rollup aggregate (ClickHouse MergeTree rollup
    * patterns from init_db DDLs). COALESCE post-rollup keeps the subtotal
    * rows engine-independently sortable (no NULL-ordering divergence).
    */
  def q19Rollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("sum_bal"))
      .orderBy(col("region"), col("nation"))
  }

  /** q20 — tumbling time-bucket aggregate, the batch twin of the streaming
    * window (swap_prices slot bucketing; streaming.EventStreams.st01 runs
    * the same shape with a watermark).
    */
  def q20TimeBucket(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).events
      .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  /** q21 — as-of join: each event picks the latest order of the same user
    * with o_orderdate <= event ts (the reference's trailing range-match,
    * swap_prices.py join_where / orca adjacency generalized to time).
    * Spark-first: NO range join — tag both sides, union, and take
    * last(order, ignoreNulls) over one (user, time)-ordered window. One
    * shuffle on the key, linear scan after; at 100 TB this beats any
    * O(n·w) range join and never explodes candidate pairs. The DuckDB
    * oracle uses its native ASOF JOIN — independent semantics, same rows.
    */
  def q21AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val orders = t.orders.select(col("o_custkey").as("user_id"),
      col("o_orderdate").cast("timestamp").as("ts"),
      col("o_orderkey").as("asof_orderkey"),
      lit(null).cast("long").as("event_id"))
    val events = t.events.select(col("user_id"), col("ts"),
      lit(null).cast("long").as("asof_orderkey"), col("event_id"))
    // side 0 (orders) sorts before side 1 (events) at equal ts, so an
    // order dated exactly at the event time IS matched (<= semantics)
    val tagged = orders.withColumn("side", lit(0))
      .unionByName(events.withColumn("side", lit(1)))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("asof_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .select(col("user_id"), col("ts"), col("event_id"), col("side"),
        last(col("asof_orderkey"), ignoreNulls = true).over(w)
          .as("asof_orderkey"))
      .filter(col("side") === 1)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("asof_orderkey"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** q23 — the SAME as-of semantics as q21, but through graft's native
    * operator (plans.AsOfJoin: custom LogicalPlan + SparkStrategy +
    * merge-scan SparkPlan). One exchange+sort per side, O(1) state per
    * partition, no union/window buffer — and an independent second
    * implementation the shared oracle cross-checks against q21.
    */
  def q23AsofNative(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ev = t.events.select(col("user_id"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("ts_us"))
    val ord = t.orders.select(col("o_custkey"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"),
      col("o_orderkey"))
    graft.plans.AsOf.join(ev, ord,
        leftKey = "user_id", leftTime = "ts_us",
        rightKey = "o_custkey", rightTime = "o_us", rightTie = "o_orderkey")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("o_orderkey").as("asof_orderkey"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** q26 — as-of join with a TOLERANCE bound (pandas merge_asof
    * `tolerance` / kdb window-join semantics): an order only matches an
    * event if it is at most 30 days old at event time, else the event
    * joins null. Exercises the native operator's staleness bound — the
    * retained candidate is already the closest one, so tolerance is an
    * O(1) check in the merge scan, not a second pass.
    */
  def q26AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ev = t.events.select(col("user_id"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("ts_us"))
    val ord = t.orders.select(col("o_custkey"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"),
      col("o_orderkey"))
    graft.plans.AsOf.join(ev, ord,
        leftKey = "user_id", leftTime = "ts_us",
        rightKey = "o_custkey", rightTime = "o_us", rightTie = "o_orderkey",
        tolerance = 30L * 86400L * 1000000L) // 30 days in µs
      .select(col("user_id"), col("event_id"), col("ts"),
        col("o_orderkey").as("asof_orderkey"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** q27 — SCD2 temporal dimension join: a time-VERSIONED dimension
    * (three validity intervals per nation, synthesized deterministically)
    * joined to facts at event time — equi-join on the key with the
    * validity range as a residual condition, so Catalyst still plans a
    * broadcast HASH join on the key (25×3 rows broadcast), never a range
    * nested-loop. This is how a 100 TB fact stream picks up
    * slowly-changing metadata (token listings, pool parameters) without
    * an as-of sort.
    */
  def q27Scd2Join(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dim = t.nation.select(col("n_nationkey"))
      .withColumn("v", explode(array(lit(0), lit(1), lit(2))))
      .select(col("n_nationkey"), col("v"),
        make_date(lit(1992) + col("v") * 3, lit(1), lit(1)).as("valid_from"),
        when(col("v") < 2,
          make_date(lit(1992) + (col("v") + 1) * 3, lit(1), lit(1)))
          .otherwise(make_date(lit(9999), lit(12), lit(31))).as("valid_to"),
        pmod(col("n_nationkey") * 7 + col("v"), lit(5)).as("tier"))
    val facts = t.orders.select(col("o_orderkey"),
      pmod(col("o_custkey"), lit(25)).as("nk"),
      col("o_orderdate").cast("date").as("od"))
    facts
      .join(broadcast(dim),
        col("nk") === col("n_nationkey") &&
          col("od") >= col("valid_from") && col("od") < col("valid_to"),
        "left")
      .select(col("o_orderkey"), col("nk"), col("v").as("dim_version"),
        col("tier"), col("od").cast("timestamp").as("od"))
      .orderBy(col("o_orderkey"))
  }

  /** q28 — the analytic-window function surface in one pass: rank family
    * (rank/dense_rank), distribution (percent_rank/cume_dist — exact
    * ratios of row counts, engine-portable doubles), ntile bucketing, and
    * lag/lead offsets, all over ONE (user_id) window ordering — a single
    * hash exchange + sort serves every function (Spark collapses same-
    * spec window operators), which is the property that matters at
    * 100 TB: analytics breadth must not multiply shuffles.
    */
  def q28WindowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .select(col("user_id"), col("event_id"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).as("quartile"),
        lag(col("event_id"), 1).over(w).as("prev_event"),
        lead(col("event_id"), 1).over(w).as("next_event"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** q29 — the set-operation surface: INTERSECT, EXCEPT and EXCEPT ALL
    * over two deterministic projections of orders (urgent vs high-value
    * customers). Spark plans these as aggregate/anti-join shapes — one
    * labeled union output keeps the oracle a single comparison.
    */
  def q29SetOps(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val pricey = t.orders.filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey"))
    val both = urgent.intersect(pricey)
      .select(lit("both").as("bucket"), col("o_custkey"))
    val onlyUrgent = urgent.except(pricey)
      .select(lit("only_urgent").as("bucket"), col("o_custkey"))
    // EXCEPT ALL keeps multiplicity: count(urgent) - count(pricey) copies
    val exceptAll = urgent.exceptAll(pricey)
      .select(lit("urgent_multiset").as("bucket"), col("o_custkey"))
    both.unionByName(onlyUrgent).unionByName(exceptAll)
      .groupBy(col("bucket"), col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"), col("o_custkey"))
  }

  /** q30 — FULL OUTER join: the reconciliation shape (rows on either
    * side only, or both) the reference's found_input/found_output
    * contracts approximate. Null-side flags cast to BIGINT for
    * engine-portable output.
    */
  def q30FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val byCust = t.orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val cust = t.customer.select(col("c_custkey"), col("c_name"))
    cust.join(byCust, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("n_orders"),
        col("c_custkey").isNotNull.cast("long").as("has_customer"),
        col("o_custkey").isNotNull.cast("long").as("has_orders"))
      .orderBy(col("custkey"))
  }

  /** q31 — the JSON surface: semi-structured `props` parsed BOTH ways a
    * real pipeline uses — `from_json` with an explicit schema (typed
    * struct, the plan-friendly path: one parse, pruned fields) and
    * `get_json_object` path extraction (the ad-hoc path). Both must
    * agree, and the typed path feeds a numeric aggregate — proving the
    * value survives as an INT, not a string.
    */
  def q31JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    Tables(spark, dir).events
      .select(col("event_id"), col("event_type"),
        from_json(col("props"), schema).getField("k").as("k_typed"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"))
      .filter(col("k_typed") >= 50)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k_typed")).as("sum_k"),
        sum((col("k_typed") === col("k_path")).cast("long")).as("n_agree"))
      .orderBy(col("event_type"))
  }

  /** q32 — UNPIVOT/melt, the inverse reshape of q25: wide per-part
    * columns fold into (measure, value) rows via the stack-style unpivot
    * (Dataset.unpivot — one generate pass, no shuffle until the final
    * sort). Wide→long is how a columnar metrics table feeds a generic
    * (key, metric, value) sink.
    */
  def q32Unpivot(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).part
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")),
        "measure", "value")
      .orderBy(col("p_partkey"), col("measure"))
  }

  /** q33 — correlated scalar subquery, written as SQL text the way an
    * analyst writes it: Catalyst DECORRELATES it (rewrites to an
    * aggregate + left outer join) instead of executing per-row — the
    * difference between O(n) and O(n·m) at 100 TB, and the reason the
    * declarative form is safe to expose to users.
    */
  def q33CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.createOrReplaceTempView("graft_q33_c")
    t.orders.createOrReplaceTempView("graft_q33_o")
    spark.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT MAX(o.o_totalprice) FROM graft_q33_o o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM graft_q33_c c
        |ORDER BY c_custkey""".stripMargin)
  }

  /** q34 — recursive CTE (Spark 4's WITH RECURSIVE, executed as
    * UnionLoopExec): each customer key walks its halving chain
    * k → k/2 → … → 0 and aggregates depth + chain sum. The recursion is
    * set-at-a-time — EVERY key advances one level per loop iteration, so
    * the loop count is the MAX depth (~log₂ maxkey ≈ 20 even at 100 TB
    * keyspaces), not the row count; each iteration is one distributed
    * step over the frontier, and the engine's row/level limits
    * (spark.sql.cteRecursionLevelLimit) bound runaway definitions.
    * ClickHouse exposes the same surface; the reference's block-range
    * walks are the degenerate linear case.
    */
  def q34RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).customer.createOrReplaceTempView("graft_q34_c")
    spark.sql(
      """WITH RECURSIVE walk AS (
        |  SELECT c_custkey AS start_key, c_custkey AS cur, 0 AS depth
        |  FROM graft_q34_c
        |  UNION ALL
        |  SELECT start_key, cur DIV 2, depth + 1 FROM walk WHERE cur > 0
        |)
        |SELECT start_key AS c_custkey, MAX(depth) AS depth,
        |  SUM(cur) AS chain_sum
        |FROM walk GROUP BY start_key ORDER BY c_custkey""".stripMargin)
  }

  /** q35 — LATERAL correlated table subquery: the top-2 highest-price
    * lineitems per order, written the way an analyst writes it. Catalyst
    * DECORRELATES the LIMIT'd lateral into a row_number window over ONE
    * shuffle of lineitem — not a per-order re-execution — so the
    * declarative form is O(n log k)-per-partition at 100 TB. The same
    * shape covers the reference's "latest N per key" enrichments.
    */
  def q35LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.createOrReplaceTempView("graft_q35_o")
    t.lineitem.createOrReplaceTempView("graft_q35_l")
    // fact-scale output (≈2 rows per order): part-sorted, not a global
    // ORDER BY — the range sampling job would re-execute the lateral
    // join lineage (PERF.md global-sort tax)
    spark.sql(
      """SELECT o.o_orderkey, top.l_linenumber, top.l_extendedprice
        |FROM graft_q35_o o,
        |LATERAL (SELECT l_linenumber, l_extendedprice
        |         FROM graft_q35_l l
        |         WHERE l.l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber
        |         LIMIT 2) AS top""".stripMargin)
      .sortWithinPartitions(col("o_orderkey"), col("l_linenumber"))
  }

  /** q36 — time-series gap fill + forward fill (the resample/LOCF pass a
    * price/VWAP consumer runs before charting or joining against a dense
    * grid; ClickHouse spells it WITH FILL, pandas resample().ffill()).
    * Per user: hourly max-value buckets, a dense hour grid spanning
    * [min(h), max(h)] generated DISTRIBUTED via sequence()+explode on the
    * per-key span row (no driver loop, no cross join against a global
    * calendar), left join back, then last(v, ignoreNulls) over one
    * user-partitioned window. Every shuffle after the first operates on
    * bucket rows (keys × hours), never raw events — at 100 TB the raw
    * scan reduces map-side and the grid stays keys×span sized. Grid rows
    * start at each key's first real bucket, so the fill never emits a
    * leading null.
    */
  def q36GapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir).events
      .where(col("user_id") < 40)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(max(col("value")).as("v"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("h"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h").as("hour"),
        last(col("v"), ignoreNulls = true).over(w).as("filled_value"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** q37 — null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): two
    * aggregates of lineitem keyed on a NULLABLE derived key (NULLIF of
    * the return flag) are reconciled so the NULL group matches itself —
    * a plain `=` join silently DROPS it, the classic reconciliation bug
    * when a dimension key has an "unknown" bucket. Spark plans `<=>` as
    * a HASH join key (EqualNullSafe is a valid hash key), not a nested
    * loop, so the null-safe form costs the same one shuffle as `=` at
    * any scale.
    */
  def q37NullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .select(nullif(col("l_returnflag"), lit("N")).as("flag"),
        col("l_quantity"), col("l_extendedprice"))
    val sums = li.groupBy(col("flag"))
      .agg(dsum(col("l_extendedprice")).as("total_price"))
    val counts = li.groupBy(col("flag").as("flag2"))
      .agg(count(lit(1)).as("n"))
    sums.join(counts, col("flag") <=> col("flag2"))
      .select(col("flag"), col("total_price"), col("n"))
      .orderBy(col("flag").asc_nulls_first)
  }

  /** q38 — CUBE: all 2^k subtotal combinations in ONE pass (completing
    * the subtotal family: q19 ROLLUP = prefix hierarchy, q24 GROUPING
    * SETS = explicit list, q38 CUBE = full lattice). Same scale contract
    * as both: one shuffle, one partial-agg tree, each input row expanding
    * to its 4 grouping combinations map-side — versus four scans unioned.
    * GROUPING() distinguishes a real NULL key from a subtotal row, which
    * COALESCE alone cannot.
    */
  def q38Cube(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        // grouping() is an aggregate-list expression — it reads the
        // grouping-set id, so it cannot move to a downstream projection
        grouping(col("l_returnflag")).as("gf"),
        grouping(col("l_linestatus")).as("gs"))
      .select(
        when(col("gf") === 1, lit("ALL"))
          .otherwise(col("l_returnflag")).as("flag"),
        when(col("gs") === 1, lit("ALL"))
          .otherwise(col("l_linestatus")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy(col("flag"), col("status"))
  }

  /** q24 — explicit GROUPING SETS (the CH rollup family beyond q19's
    * ROLLUP): per-(region, priority), per-region, and per-priority
    * subtotals in one pass — one shuffle, one partial-agg tree, versus
    * three separate scans+aggregations unioned.
    */
  def q24GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("o_orderpriority")), Seq(col("r_name")),
          Seq(col("o_orderpriority"))),
        col("r_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("region"), col("priority"))
  }

  /** q25 — PIVOT with an explicit value list: per-user event-type totals
    * as columns (the wide-table reshape ClickHouse users write as
    * sumIf-per-type columns, and the reference's per-variant column
    * normalization does manually). The explicit list matters at scale:
    * without it Spark runs an extra distinct job just to discover the
    * columns, and the output schema becomes data-dependent. One shuffle,
    * map-side partial aggregation, same dsum exactness contract as every
    * aggregate here.
    */
  def q25Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables(spark, dir).events
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(dsum(col("value"), 6))
      .orderBy(col("user_id"))
  }

  /** q39 — interval-overlap join, the DISTRIBUTED way: both interval sets
    * are chunked onto a day grid (`sequence` + explode — a 2 h interval
    * lands on 1–2 chunks), candidates meet through a plain equi-join on
    * the chunk key, the exact overlap predicate runs as a residual filter,
    * and each surviving pair is emitted exactly once — by the chunk that
    * contains the later of the two starts. A naive range join is a
    * nested-loop over n² pairs; this plan is a hash join whose candidate
    * count is bounded by per-chunk density, the same trick the q21/q23
    * as-of family uses against time-density blowup. Shape of the
    * reference's join_where interval matching (swap_prices.py:189-218)
    * when BOTH sides carry intervals rather than points.
    */
  def q39IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val chunk = 86400L
    def intervals(tpe: String, mod: Int, p: String): DataFrame =
      e.filter(col("event_type") === tpe && col("event_id") % mod === 0)
        .select(col("event_id").as(s"${p}_id"),
          col("ts").cast("long").as(s"${p}_s"),
          (col("ts").cast("long") + 7200L).as(s"${p}_e"))
    def chunked(df: DataFrame, p: String): DataFrame =
      df.withColumn("c",
        explode(sequence(floor(col(s"${p}_s") / chunk).cast("long"),
          floor((col(s"${p}_e") - 1) / chunk).cast("long"))))
    chunked(intervals("click", 13, "l"), "l")
      .join(chunked(intervals("purchase", 11, "r"), "r"), Seq("c"))
      // exact end-exclusive overlap, then the emit-once rule: only the
      // chunk holding max(start) reports the pair (no post-join distinct)
      .filter(col("l_s") < col("r_e") && col("r_s") < col("l_e") &&
        col("c") === floor(greatest(col("l_s"), col("r_s")) / chunk)
          .cast("long"))
      .select(col("l_id"), col("r_id"),
        (least(col("l_e"), col("r_e")) -
          greatest(col("l_s"), col("r_s"))).as("overlap_s"))
      .orderBy(col("l_id"), col("r_id"))
  }

  /** q40 — exact order statistics: percentile_cont (interpolated) and
    * percentile_disc (realized value) per group, the CH quantileExact
    * family. Spark's exact percentile aggregates a per-group value→count
    * map — memory is bounded by the VALUE DOMAIN (l_quantity has ~50
    * distinct values), not the row count, so this scales to any fact-table
    * size; for unbounded domains the engine's approx_percentile (KLL-style
    * mergeable sketch, cf. t05) is the scale path. Interpolation math is
    * rounded to 6 decimals on both engines — the formula (rank = p·(n−1),
    * linear blend) is shared, the last ulp is not guaranteed.
    */
  def q40ExactPercentile(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
          .as("med_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** q41 — higher-order array functions in the scan projection:
    * transform/filter/aggregate/exists over the tokenized text, all
    * codegen'd Catalyst lambdas (NO UDF — the engine's per-element loops
    * run inside WholeStageCodegen, the reason `functions.filter` beats a
    * Scala closure at 100 TB). One narrow pass over documents; zero
    * shuffle until the final presentation sort. The per-token shapes here
    * (length stats, predicate counts, digit detection) are the row-local
    * primitives the t-family quality filters compose.
    */
  def q41HigherOrderArray(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .filter(col("doc_id") < 800)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_toks"),
        size(filter(col("toks"), t => length(t) > lit(6))).as("n_long"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
          .as("sum_len"),
        array_max(transform(col("toks"), t => length(t))).as("max_len"),
        exists(col("toks"), t => t.rlike("^[0-9]+$")).as("has_num"))
      .orderBy(col("doc_id"))
  }

  /** q42 — aggregate FILTER clauses: the ClickHouse sumIf/countIf/avgIf
    * idiom (the single most common CH reporting shape) as one pass over
    * the fact table — every conditional aggregate shares ONE scan, ONE
    * shuffle and ONE partial-agg tree, versus the N self-joined
    * subqueries the naive translation writes. Same dsum exactness
    * contract; avgIf is composed count+sum with a single final division
    * so both engines do identical IEEE work.
    */
  def q42FilteredAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val ret = col("l_returnflag") === "R"
    val bigQty = col("l_quantity") >= 25.0
    val sumRet = sum(when(ret, col("l_extendedprice"))
      .cast(DecimalType(38, 4)))
    li.groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_all"),
        count(when(ret, lit(1))).as("n_returned"),
        count(when(bigQty, lit(1))).as("n_big"),
        dsum(when(ret, col("l_extendedprice")).otherwise(lit(0.0)))
          .as("sum_ret_price"),
        (sumRet.cast("double") / count(when(ret, lit(1))))
          .as("avg_ret_price"))
      .orderBy(col("l_linestatus"))
  }

  /** q43 — several COUNT(DISTINCT …) over DIFFERENT columns in one
    * aggregation: Catalyst plans this as ONE scan + an Expand (each input
    * row fans out per distinct-aggregate grouping) + one shared
    * shuffle-and-dedup tree — versus the N separate scans+joins of the
    * naive translation. The plan shape is audited; at 100 TB the Expand
    * multiplies rows map-side but each copy carries only its grouping's
    * columns, and t05's HLL sketches remain the approximate path when
    * exact distincts aren't required.
    */
  def q43MultiCountDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    e.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("event_type"))
  }

  /** q44 — windowed funnel (ClickHouse `windowFunnel`'s job, the event
    * analytics every behavioral warehouse runs): per user, the deepest
    * prefix of the view → click → purchase chain reachable with events
    * strictly increasing in (ts, event_id) and the whole chain inside a
    * 24 h window. ONE shuffle on user_id, then a per-user sorted fold —
    * the greedy state is three longs (per level, the MAX first-event
    * time over chains reaching it), and max-first dominance makes the
    * single-slot greedy EXACT: a later-starting chain is extendable
    * whenever any chain is, because the only constraint on the next
    * event is ts ≤ first + W. Per-task state is THREE LONGS (the
    * current user's greedy state, [[Funnel.step]]), never the user's
    * event list: the plan is repartition(user) →
    * sortWithinPartitions(user, ts, id) → one streaming pass
    * ([[Funnel.levelsByUser]]) — the secondary-sort reduce. A hot user
    * holding 10% of a 100 TB corpus costs a sort-spill, not a
    * multi-GB in-memory array (the previous sort_array(collect_list)
    * spelling materialized each user's history in one row — task OOM /
    * 2 GB row limit at power-law skew). No self-joins anywhere (the
    * oracle's EXISTS-join form is the semantics, quadratic per user —
    * the fold is the linear form); st26 carries the identical fold
    * incrementally.
    */
  def q44Funnel(spark: SparkSession, dir: String): DataFrame =
    funnelChain(spark, dir, Funnel.chain3)

  /** q48 — K-STEP parameterized funnel (ClickHouse `windowFunnel`
    * takes an arbitrary event list; q44's triple is its K = 3 slice):
    * the same one-shuffle secondary-sort fold with a K-long greedy
    * state — dominance is inductive in K (see [[Funnel]]), so the
    * single-slot-per-level greedy stays EXACT at any chain length.
    * Instantiated over the corpus' full 5-type event alphabet
    * (signup → view → click → purchase → error — the last step reads
    * as "hit an error after purchasing", the churn-risk slice); the
    * chain itself is an argument of [[funnelChain]], not a constant.
    * Per-task state is K longs; the oracle is the K-way EXISTS-join
    * (quadratic-in-K per user — the fold is the linear form). */
  def q48FunnelK(spark: SparkSession, dir: String): DataFrame =
    funnelChain(spark, dir, chain5)

  private[graft] val chain5: Seq[String] =
    Seq("signup", "view", "click", "purchase", "error")

  /** The K-level chain-frontier oracle, generated from the chain:
    * level-j reach = some j-tuple of chain-typed events strictly
    * increasing in (ts, event_id) with every event inside 24 h of the
    * chain's first. Declared as level-chained CTEs — s_j holds the
    * DISTINCT (user, first, last) frontier of chains reaching level j,
    * each level one equi-join on user_id extending the previous —
    * exactly q44's EXISTS-join semantics factored so the SQL engine
    * never sees a flat K-way join (at K = 5 DuckDB's join-order pick
    * on the flat form cross-multiplied partial chains and spilled
    * >47 GB at sf0.01; the chained form is hash joins over
    * frontier-sized inputs). Still chain-ENUMERATING per user (no
    * greedy state anywhere) — the semantics the linear fold must
    * match, not a replay of it. */
  private[graft] def funnelOracleSql(chain: Seq[String]): String = {
    val k = chain.length
    val inList = chain.map(t => s"'$t'").mkString(", ")
    val sctes = (1 to k).map { j =>
      if (j == 1)
        s"s1 AS (SELECT DISTINCT user_id, ts AS t1, ts AS tl,\n" +
          s"         event_id AS il\n" +
          s"       FROM e WHERE event_type = '${chain.head}')"
      else
        s"""s$j AS (
           |  SELECT DISTINCT s.user_id, s.t1, n.ts AS tl,
           |    n.event_id AS il
           |  FROM s${j - 1} s JOIN e n ON n.user_id = s.user_id
           |    AND n.event_type = '${chain(j - 1)}'
           |    AND (s.tl, s.il) < (n.ts, n.event_id)
           |    AND n.ts - s.t1 <= INTERVAL 24 HOUR)""".stripMargin
    }
    val lctes = (1 to k).map(j =>
      s"l$j AS (SELECT DISTINCT user_id FROM s$j)")
    val caseArms = (k to 1 by -1)
      .map(j => s"WHEN l$j.user_id IS NOT NULL THEN $j").mkString("\n       ")
    val leftJoins = (k to 1 by -1)
      .map(j => s"LEFT JOIN l$j USING (user_id)").mkString("\n  ")
    s"""WITH e AS (
       |  SELECT user_id, ts, event_id, event_type FROM events
       |  WHERE event_type IN ($inList)),
       |u AS (SELECT DISTINCT user_id FROM events),
       |${sctes.mkString(",\n")},
       |${lctes.mkString(",\n")}
       |SELECT u.user_id,
       |  CAST(CASE $caseArms
       |       ELSE 0 END AS BIGINT) AS funnel_level
       |FROM u
       |  $leftJoins
       |ORDER BY user_id""".stripMargin
  }

  /** The shared K-step batch funnel plan: filter to the chain's
    * alphabet, ONE shuffle on user_id, secondary-sort, stream the
    * partition iterator with a K-long state per user
    * ([[Funnel.levelsByUserK]]). */
  private[graft] def funnelChain(spark: SparkSession, dir: String,
      chain: Seq[String]): DataFrame = {
    import spark.implicits._
    val W = 24L * 3600 * 1000000 // 24 h in micros
    val levels = Tables(spark, dir).events
      .filter(col("event_type").isin(chain: _*))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type").as("y"))
      .as[Funnel.FEv]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
      .mapPartitions(it => Funnel.levelsByUserK(W, chain, it))
    funnelAllUsers(spark, dir,
      levels.toDF().select(col("user_id"), col("funnel_level").as("lvl")))
  }

  /** The funnel output contract q44 and its streaming twin st26 share:
    * every user of the events table reports a level (0 when none of
    * the funnel events occurred), named funnel_level, user-ordered. */
  private[graft] def funnelAllUsers(spark: SparkSession, dir: String,
      levels: DataFrame): DataFrame =
    Tables(spark, dir).events.select(col("user_id")).distinct()
      .join(levels, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("lvl"), lit(0L)).as("funnel_level"))
      .orderBy(col("user_id"))

  /** q45 — retention cohorts (ClickHouse `retention`'s job): users
    * cohorted by their FIRST-ever active week, then the fraction of
    * each cohort still active k weeks later. Two hash aggregations
    * (per-user first week; distinct user-week activity) + one shuffle
    * join on user — at 100 TB both aggregates are map-side-combinable
    * and the cohort-size table is thousands of rows, broadcast for the
    * ratio. Weeks are Monday-truncated in BOTH engines. */
  def q45Retention(spark: SparkSession, dir: String): DataFrame = {
    val weeks = Tables(spark, dir).events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val cohorts = weeks.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_users"))
    weeks.join(cohorts, "user_id")
      // calendar-day difference, not epoch-second: under a DST-shifting
      // session timezone a week gap is not exactly 604800 s and the
      // epoch form floors to k-1; datediff counts calendar days, so the
      // offset is TZ-stable (both week columns are week-truncated, so
      // the day gap is always an exact multiple of 7)
      .select(col("cohort_week"),
        expr("datediff(wk, cohort_week) div 7").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        (col("n_active").cast("double") /
          col("cohort_users").cast("double")).as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** q46 — user-path transition matrix (the journey/Markov analysis
    * behind "where do users go after X"): consecutive event-type pairs
    * per user in (ts, event_id) order, counted globally, with each
    * from-type's outgoing probability. One user-keyed window (bounded
    * by a user's events, the q09/q28 class) + one tiny aggregate; the
    * per-from normalizer is a broadcast of ≤|types|² rows. */
  def q46PathTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    transitionMatrix(Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n")))
  }

  /** The transition-matrix output contract q46 and its streaming twin
    * st27 share: (from_type, to_type, n) pairs normalized to each
    * from-type's outgoing distribution. The normalizer is a window
    * over the ≤|types|² pair rows (no self-join — a derived-aggregate
    * join on a memory-sink lineage trips analyzer reference dedup). */
  private[graft] def transitionMatrix(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("from_type"))
    pairs
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") /
          sum(col("n")).over(w).cast("double")).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q47 — batch gap sessionization: the BATCH twin of st09's
    * streaming `session_window` (30-minute inactivity gap; session end
    * = last event + gap by definition, so an open tail still reports
    * an end). The classic lag→flag→cumulative-sum assignment: both
    * windows are user-partitioned — bounded by one user's events, the
    * q09/q28/q46 class — and the grouped aggregate is map-side
    * combinable, so the plan is one user-keyed exchange end to end.
    * A power-law user is a sort-spill in that user's partition, never
    * a buffered array (the skew sweep's q46 measured the same shape at
    * 1.8x under a 10%-hot user). Output contract = st09's, verbatim:
    * stream and batch sessionization must agree row for row. */
  def q47Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = 1800L * 1000000L // 30 min
    Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_session",
        when(unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        (max(col("ts")) + expr("INTERVAL 30 MINUTES")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      // fact-scale output (one row per session): part-sorted
      .sortWithinPartitions(col("user_id"), col("session_start"))
  }

  val oracle: Map[String, String] = Map(
    "q47_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |assigned AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events
        |FROM assigned GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "q46_path_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |p AS (
        |  SELECT from_type, event_type AS to_type, COUNT(*) AS n
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT from_type, SUM(n) AS n_out FROM p GROUP BY 1)
        |SELECT p.from_type, p.to_type, p.n,
        |  CAST(p.n AS DOUBLE) / CAST(o.n_out AS DOUBLE) AS p
        |FROM p JOIN o USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q44_funnel" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |u AS (SELECT DISTINCT user_id FROM events),
        |l3 AS (
        |  SELECT DISTINCT v.user_id FROM e v
        |  JOIN e c ON c.user_id = v.user_id AND v.event_type = 'view'
        |    AND c.event_type = 'click' AND (v.ts, v.event_id) < (c.ts, c.event_id)
        |  JOIN e p ON p.user_id = v.user_id AND p.event_type = 'purchase'
        |    AND (c.ts, c.event_id) < (p.ts, p.event_id)
        |    AND p.ts - v.ts <= INTERVAL 24 HOUR),
        |l2 AS (
        |  SELECT DISTINCT v.user_id FROM e v
        |  JOIN e c ON c.user_id = v.user_id AND v.event_type = 'view'
        |    AND c.event_type = 'click' AND (v.ts, v.event_id) < (c.ts, c.event_id)
        |    AND c.ts - v.ts <= INTERVAL 24 HOUR),
        |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view')
        |SELECT u.user_id,
        |  CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
        |       WHEN l2.user_id IS NOT NULL THEN 2
        |       WHEN l1.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS funnel_level
        |FROM u LEFT JOIN l3 USING (user_id) LEFT JOIN l2 USING (user_id)
        |       LEFT JOIN l1 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // q48's oracle is GENERATED from the same chain constant the
    // operator folds over — chain and oracle cannot drift, and the
    // generator is q44's hand-written EXISTS-join form at any K
    "q48_funnel_k" -> funnelOracleSql(chain5),
    "q45_retention" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_week FROM w GROUP BY 1),
        |s AS (SELECT cohort_week, COUNT(*) AS cohort_users
        |      FROM c GROUP BY 1),
        |a AS (
        |  SELECT c.cohort_week,
        |    date_diff('day', c.cohort_week, w.wk) // 7 AS week_offset,
        |    COUNT(*) AS n_active
        |  FROM w JOIN c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT a.cohort_week, a.week_offset, a.n_active,
        |  CAST(a.n_active AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)
        |    AS retention
        |FROM a JOIN s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q43_multi_count_distinct" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  COUNT(*) AS n_rows
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q42_filtered_agg" ->
      """SELECT l_linestatus,
        |  COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
        |  COUNT(*) FILTER (WHERE l_quantity >= 25.0) AS n_big,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice
        |    ELSE 0.0 END AS DECIMAL(38,4))) AS DOUBLE) AS sum_ret_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4)))
        |      FILTER (WHERE l_returnflag = 'R') AS DOUBLE)
        |    / (COUNT(*) FILTER (WHERE l_returnflag = 'R'))
        |    AS avg_ret_price
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
    "q39_interval_join" ->
      """WITH L AS (
        |  SELECT event_id AS l_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS l_s,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) + 7200 AS l_e
        |  FROM events WHERE event_type = 'click' AND event_id % 13 = 0),
        |R AS (
        |  SELECT event_id AS r_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS r_s,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) + 7200 AS r_e
        |  FROM events WHERE event_type = 'purchase' AND event_id % 11 = 0)
        |SELECT l_id, r_id,
        |  LEAST(l_e, r_e) - GREATEST(l_s, r_s) AS overlap_s
        |FROM L JOIN R ON l_s < r_e AND r_s < l_e
        |ORDER BY l_id, r_id""".stripMargin,
    "q40_exact_percentile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |  quantile_disc(l_quantity, 0.5) AS med_disc,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q41_higher_order_array" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 800)
        |SELECT doc_id,
        |  len(toks) AS n_toks,
        |  len(list_filter(toks, t -> length(t) > 6)) AS n_long,
        |  CAST(list_sum(list_transform(toks, t -> length(t)))
        |    AS BIGINT) AS sum_len,
        |  CAST(list_max(list_transform(toks, t -> length(t)))
        |    AS INTEGER) AS max_len,
        |  len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) > 0
        |    AS has_num
        |FROM d ORDER BY doc_id""".stripMargin,
    // q36: max() buckets (order-independent double), one window fill;
    // generate_series is inclusive on both ends, matching sequence()
    "q36_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, MAX(value) AS v
        |  FROM events WHERE user_id < 40 GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM e GROUP BY 1),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM span)
        |SELECT g.user_id, g.h AS hour,
        |  last_value(e.v IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value
        |FROM grid g LEFT JOIN e ON e.user_id = g.user_id AND e.h = g.h
        |ORDER BY g.user_id, hour""".stripMargin,
    "q38_cube" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
        |    ELSE l_returnflag END AS flag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
        |    ELSE l_linestatus END AS status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q37_null_safe_join" ->
      """WITH li AS (
        |  SELECT NULLIF(l_returnflag, 'N') AS flag, l_extendedprice
        |  FROM lineitem),
        |s AS (
        |  SELECT flag,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
        |      AS total_price
        |  FROM li GROUP BY flag),
        |c AS (SELECT flag AS flag2, COUNT(*) AS n FROM li GROUP BY flag)
        |SELECT s.flag, s.total_price, c.n
        |FROM s JOIN c ON s.flag IS NOT DISTINCT FROM c.flag2
        |ORDER BY s.flag NULLS FIRST""".stripMargin,
    "q25_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click'
        |    THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error'
        |    THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup'
        |    THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view'
        |    THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q01_agg_filter" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1997-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM orders WHERE o_orderpriority LIKE '1-%'
        |ORDER BY o_orderkey""".stripMargin,
    "q03_left_join_enrich" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderdate
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_broadcast_dim_join" ->
      """SELECT r_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q05_multi_join_agg" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q06_union_variants" ->
      """SELECT event_id, user_id, value AS amount, 'v1' AS variant
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, user_id,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS amount,
        |  'v2' AS variant
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY variant, event_id""".stripMargin,
    "q07_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q08_distinct_dict" ->
      """SELECT DISTINCT p_brand, p_type FROM part
        |ORDER BY p_brand, p_type""".stripMargin,
    "q09_row_number" ->
      """SELECT user_id, event_id, ts,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |FROM events ORDER BY user_id, rn""".stripMargin,
    "q10_adjacency_join" ->
      """SELECT * FROM (
        |  SELECT user_id, event_id, event_type,
        |    LEAD(event_id) OVER w AS next_event_id,
        |    LEAD(event_type) OVER w AS next_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |) WHERE next_event_id IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,
    "q11_range_window" ->
      """SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_sum
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q12_incremental_resume" ->
      """SELECT event_type, MAX(event_id) + 1 AS next_start
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q13_conditional_swap" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_returnflag = 'R' THEN l_partkey ELSE l_suppkey END AS in_key,
        |  CASE WHEN l_returnflag = 'R' THEN l_suppkey ELSE l_partkey END AS out_key
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q14_decimal_ratio" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice / l_quantity AS DECIMAL(38,9)) AS DOUBLE) AS unit_price,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS DOUBLE) AS price_dec
        |FROM lineitem WHERE l_quantity > 0.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q15_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q16_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q17_explode_pos" ->
      """SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
        |  unnest(embedding) AS val
        |FROM embeddings WHERE vec_id < 50
        |ORDER BY vec_id, idx""".stripMargin,
    "q18_having_threshold" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id
        |HAVING CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) > 500.0
        |ORDER BY user_id""".stripMargin,
    "q19_rollup" ->
      """SELECT COALESCE(r_name, 'ALL') AS region,
        |  COALESCE(n_name, 'ALL') AS nation, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "q20_time_bucket" ->
      """SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // deterministic as-of contract: greatest (o_orderdate, o_orderkey)
    // among orders at/before the event — a correlated top-1, independent
    // of the union+window formulation the Spark side uses
    "q21_asof_join" ->
      """SELECT e.user_id, e.event_id, e.ts,
        |  (SELECT o.o_orderkey FROM orders o
        |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1)
        |    AS asof_orderkey
        |FROM events e ORDER BY user_id, event_id""".stripMargin,
    "q23_asof_native" ->
      """SELECT e.user_id, e.event_id, e.ts,
        |  (SELECT o.o_orderkey FROM orders o
        |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1)
        |    AS asof_orderkey
        |FROM events e ORDER BY user_id, event_id""".stripMargin,
    "q33_correlated_subquery" ->
      """SELECT c_custkey, c_name,
        |  (SELECT MAX(o.o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "q34_recursive_cte" ->
      """WITH RECURSIVE walk AS (
        |  SELECT c_custkey AS start_key, c_custkey AS cur, 0 AS depth
        |  FROM customer
        |  UNION ALL
        |  SELECT start_key, cur // 2, depth + 1 FROM walk WHERE cur > 0
        |)
        |SELECT start_key AS c_custkey, MAX(depth) AS depth,
        |  CAST(SUM(cur) AS BIGINT) AS chain_sum
        |FROM walk GROUP BY start_key ORDER BY c_custkey""".stripMargin,
    "q35_lateral_topk" ->
      """SELECT o.o_orderkey, top.l_linenumber, top.l_extendedprice
        |FROM orders o,
        |LATERAL (SELECT l_linenumber, l_extendedprice
        |         FROM lineitem l
        |         WHERE l.l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber
        |         LIMIT 2) AS top
        |ORDER BY o.o_orderkey, top.l_linenumber""".stripMargin,
    "q32_unpivot" ->
      """SELECT p_partkey, m.measure, m.value
        |FROM part, LATERAL (VALUES
        |  ('p_retailprice', p_retailprice),
        |  ('p_size', CAST(p_size AS DOUBLE))) AS m(measure, value)
        |ORDER BY p_partkey, measure""".stripMargin,
    "q31_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  COUNT(*) AS n_agree
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q29_set_ops" ->
      """WITH urgent AS (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |pricey AS (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0),
        |labeled AS (
        |  SELECT 'both' AS bucket, o_custkey
        |  FROM (SELECT o_custkey FROM urgent
        |        INTERSECT SELECT o_custkey FROM pricey)
        |  UNION ALL
        |  SELECT 'only_urgent' AS bucket, o_custkey
        |  FROM (SELECT o_custkey FROM urgent
        |        EXCEPT SELECT o_custkey FROM pricey)
        |  UNION ALL
        |  SELECT 'urgent_multiset' AS bucket, o_custkey
        |  FROM (SELECT o_custkey FROM urgent
        |        EXCEPT ALL SELECT o_custkey FROM pricey))
        |SELECT bucket, o_custkey, COUNT(*) AS n
        |FROM labeled GROUP BY bucket, o_custkey
        |ORDER BY bucket, o_custkey""".stripMargin,
    "q30_full_outer" ->
      """WITH byc AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |  GROUP BY o_custkey)
        |SELECT COALESCE(c.c_custkey, b.o_custkey) AS custkey,
        |  c.c_name, b.n_orders,
        |  CAST(c.c_custkey IS NOT NULL AS BIGINT) AS has_customer,
        |  CAST(b.o_custkey IS NOT NULL AS BIGINT) AS has_orders
        |FROM customer c FULL OUTER JOIN byc b ON c.c_custkey = b.o_custkey
        |ORDER BY custkey""".stripMargin,
    "q28_window_analytics" ->
      """SELECT user_id, event_id,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  ntile(4) OVER w AS quartile,
        |  lag(event_id, 1) OVER w AS prev_event,
        |  lead(event_id, 1) OVER w AS next_event
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q27_scd2_join" ->
      """WITH dim AS (
        |  SELECT n_nationkey, v.v,
        |    make_date(1992 + v.v * 3, 1, 1) AS valid_from,
        |    CASE WHEN v.v < 2 THEN make_date(1992 + (v.v + 1) * 3, 1, 1)
        |         ELSE make_date(9999, 12, 31) END AS valid_to,
        |    (n_nationkey * 7 + v.v) % 5 AS tier
        |  FROM nation CROSS JOIN (VALUES (0), (1), (2)) AS v(v))
        |SELECT o.o_orderkey, o.o_custkey % 25 AS nk, d.v AS dim_version,
        |  d.tier, CAST(CAST(o.o_orderdate AS DATE) AS TIMESTAMP) AS od
        |FROM orders o
        |LEFT JOIN dim d ON o.o_custkey % 25 = d.n_nationkey
        |  AND CAST(o.o_orderdate AS DATE) >= d.valid_from
        |  AND CAST(o.o_orderdate AS DATE) < d.valid_to
        |ORDER BY o_orderkey""".stripMargin,
    "q26_asof_tolerance" ->
      """SELECT e.user_id, e.event_id, e.ts,
        |  (SELECT o.o_orderkey FROM orders o
        |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |     AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
        |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1)
        |    AS asof_orderkey
        |FROM events e ORDER BY user_id, event_id""".stripMargin,
    "q24_grouping_sets" ->
      """SELECT COALESCE(r_name, 'ALL') AS region,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name),
        |  (o_orderpriority))
        |ORDER BY region, priority""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg_filter" -> (q01AggFilter _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_left_join_enrich" -> (q03LeftJoinEnrich _),
    "q04_broadcast_dim_join" -> (q04BroadcastDimJoin _),
    "q05_multi_join_agg" -> (q05MultiJoinAgg _),
    "q06_union_variants" -> (q06UnionVariants _),
    "q07_sort_limit" -> (q07SortLimit _),
    "q08_distinct_dict" -> (q08DistinctDict _),
    "q09_row_number" -> (q09RowNumber _),
    "q10_adjacency_join" -> (q10AdjacencyJoin _),
    "q11_range_window" -> (q11RangeWindow _),
    "q12_incremental_resume" -> (q12IncrementalResume _),
    "q13_conditional_swap" -> (q13ConditionalSwap _),
    "q14_decimal_ratio" -> (q14DecimalRatio _),
    "q15_semi_join" -> (q15SemiJoin _),
    "q16_anti_join" -> (q16AntiJoin _),
    "q17_explode_pos" -> (q17ExplodePos _),
    "q18_having_threshold" -> (q18HavingThreshold _),
    "q19_rollup" -> (q19Rollup _),
    "q20_time_bucket" -> (q20TimeBucket _),
    "q21_asof_join" -> (q21AsofJoin _),
    "q23_asof_native" -> (q23AsofNative _),
    "q24_grouping_sets" -> (q24GroupingSets _),
    "q25_pivot" -> (q25Pivot _),
    "q26_asof_tolerance" -> (q26AsofTolerance _),
    "q27_scd2_join" -> (q27Scd2Join _),
    "q28_window_analytics" -> (q28WindowAnalytics _),
    "q29_set_ops" -> (q29SetOps _),
    "q30_full_outer" -> (q30FullOuter _),
    "q31_json_extract" -> (q31JsonExtract _),
    "q32_unpivot" -> (q32Unpivot _),
    "q33_correlated_subquery" -> (q33CorrelatedSubquery _),
    "q34_recursive_cte" -> (q34RecursiveCte _),
    "q35_lateral_topk" -> (q35LateralTopk _),
    "q36_gap_fill" -> (q36GapFill _),
    "q37_null_safe_join" -> (q37NullSafeJoin _),
    "q38_cube" -> (q38Cube _),
    "q39_interval_join" -> (q39IntervalJoin _),
    "q40_exact_percentile" -> (q40ExactPercentile _),
    "q41_higher_order_array" -> (q41HigherOrderArray _),
    "q42_filtered_agg" -> (q42FilteredAgg _),
    "q43_multi_count_distinct" -> (q43MultiCountDistinct _),
    "q44_funnel" -> (q44Funnel _),
    "q45_retention" -> (q45Retention _),
    "q46_path_transitions" -> (q46PathTransitions _),
    "q47_sessionize" -> (q47Sessionize _),
    "q48_funnel_k" -> (q48FunnelK _)
  )
}
