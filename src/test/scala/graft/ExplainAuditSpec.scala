package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Relational, Similarity}

/** Plan audits: SURVEY.md §6's scale claims, enforced by tests.
  *
  * These assert on the FORMATTED physical plan, so a regression that
  * silently drops a pushdown, un-broadcasts a dim join, or adds a second
  * shuffle to the window queries fails CI — plan shape is part of the
  * operator contract here, not a hope.
  */
class ExplainAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Run `body` with AQE off: a plan planned before execution then holds
    * its whole-stage codegen stages and every exchange statically. */
  private def withoutAqe[T](body: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def countOf(s: String, needle: String): Int =
    s.sliding(needle.length).count(_ == needle)

  /** The `Input [n]: [...]` detail line of every numbered Sort node in
    * a formatted explain — what each sort actually moves. */
  private def sortInputLines(p: String): Seq[String] = {
    val lines = p.linesIterator.toSeq
    val heads = "^\\(\\d+\\) Sort".r
    lines.zipWithIndex.collect {
      case (l, i) if heads.findFirstIn(l).isDefined =>
        lines.drop(i + 1).find(_.startsWith("Input"))
    }.flatten
  }

  test("q01: filter + projection push into the parquet scan") {
    val p = plan(Relational.q01AggFilter(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filter:\n$p")
    // 7-column read out of lineitem's 16 — pruning reached the scan
    assert(!p.contains("l_comment") && !p.contains("l_partkey"),
      "scan reads columns the query never touches")
  }

  test("q02: startsWith predicate pushes as StringStartsWith") {
    val p = plan(Relational.q02FilterProject(spark, sfDir))
    assert(p.contains("StringStartsWith(o_orderpriority,1-"), p)
    assert(!p.contains("o_comment"))
  }

  test("q04/q05: dimension joins broadcast — no sort-merge anywhere") {
    Seq(Relational.q04BroadcastDimJoin(spark, sfDir),
      Relational.q05MultiJoinAgg(spark, sfDir),
      Relational.q19Rollup(spark, sfDir)).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"),
        "dim join fell back to sort-merge — broadcast lost")
    }
  }

  test("q05: lineitem streams — no BroadcastExchange has its scan below") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def readsLineitem(p: SparkPlan): Boolean = p.exists {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName.startsWith("lineitem"))
      case _ => false
    }
    val p = withoutAqe(
      Relational.q05MultiJoinAgg(spark, sfDir).queryExecution.executedPlan)
    assert(readsLineitem(p), s"no lineitem scan:\n$p")
    val broadcasts = p.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty, s"expected broadcast joins:\n$p")
    assert(!broadcasts.exists(readsLineitem),
      s"the fact table is broadcast:\n$p")
  }

  test("q10 adjacency: ONE hash exchange, no join operator at all") {
    val p = plan(Relational.q10AdjacencyJoin(spark, sfDir))
    assert(!p.toLowerCase.contains("join"),
      "adjacency should be a window, not a self-join")
    assert(countOf(p, "Arguments: hashpartitioning") === 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("q11 range window: one exchange + one sort, no range join") {
    val p = plan(Relational.q11RangeWindow(spark, sfDir))
    assert(!p.toLowerCase.contains("join"))
    assert(countOf(p, "Arguments: hashpartitioning") === 1)
    assert(p.contains("RangeFrame"), p)
  }

  test("q10/q11 outputs are part-sorted — no range exchange on fact-scale output") {
    // a trailing global orderBy would add a rangepartitioning exchange
    // whose sampling pass re-executes the whole window lineage (measured
    // 3.2-3.5x the query at the 1000x corpus); the gate comparator is
    // row-order-insensitive, so the part-sort is the contract
    Seq(Relational.q10AdjacencyJoin(spark, sfDir),
      Relational.q11RangeWindow(spark, sfDir)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("rangepartitioning"),
        s"fact-scale output re-shuffled by a global sort:\n$p")
    }
  }

  test("s01 ANN: bounded query side broadcasts; corpus never shuffles") {
    val p = plan(Similarity.s01AnnBruteforce(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("d04/d05 bounded baselines: the theta join broadcasts, never cartesian") {
    // no equi keys + a many-file scan estimate (no column stats) would
    // otherwise fall back to CartesianProduct, whose task count is
    // leftPartitions x rightPartitions — measured 117k tasks at the
    // 1000x corpus for d04's 200-doc bound. The explicit hint pins the
    // broadcast at every SF, not just where the estimate happens to fit.
    Seq(Dedup.d04NgramJaccard(spark, sfDir),
      Dedup.d05DedupEmbedding(spark, sfDir),
      Dedup.d16Containment(spark, sfDir)).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("d02 LSH: candidate generation is an equi-join on (band, bucket)") {
    val p = plan(Dedup.d02DedupMinhash(spark, sfDir))
    // the join must key on band+bucket (hash-partitionable, linear
    // candidates), never a theta-only nested loop over all pairs
    assert(p.contains("hashpartitioning(band") ||
      p.contains("BroadcastHashJoin"), s"band-bucket join not an equi-join:\n$p")
  }

  test("q23 native as-of: AsOfJoinExec with one exchange+sort per side") {
    val p = plan(graft.operators.Relational.q23AsofNative(spark, sfDir))
    assert(p.contains("AsOfJoin"), s"custom operator not planned:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      "as-of fell back to a generic join/window plan")
    assert(countOf(p, "Arguments: hashpartitioning") === 2, p)
  }

  test("q22 salted join shuffles on the widened (key, salt) pair") {
    val p = plan(graft.operators.Skew.q22SaltedJoin(spark, sfDir))
    // the join's exchanges must hash on BOTH user key and salt — that's
    // the whole point: a hot user_id spreads over `salts` reducers
    assert(p.contains("hashpartitioning(user_id") && p.contains("__salt"),
      s"salt missing from the shuffle key:\n$p")
  }

  test("d05: quadratic baseline is key-bounded, filter pushed to the scan") {
    val p = plan(Dedup.d05DedupEmbedding(spark, sfDir))
    // both sides of the all-pairs join must scan a vec_id-bounded subset —
    // an unbounded cross join over the full embeddings table is the one
    // shape that cannot survive a 100× corpus
    assert(countOf(p, "LessThan(vec_id,2000)") >= 2,
      s"vec_id bound not pushed to both scans:\n$p")
  }

  test("p04 registry decode: single scan, no union, no exchange pre-sort") {
    val p = plan(graft.operators.SvmInstr.p04RaydiumPipeline(spark, sfDir))
    assert(!p.contains("Union"), s"variant decode must be single-pass:\n$p")
    // one scan of events only (numbered detail headers, one per operator)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size === 1,
      s"expected one scan:\n$p")
  }

  test("decodeVariants callers: no generated method over the JIT limit") {
    // HotSpot never JIT-compiles a method above 8,000 bytes of bytecode;
    // a whole-stage codegen'd decode that outgrows it runs interpreted.
    // Compile every codegen stage and read the largest method's size.
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val limit = CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT
    val callers = Seq("p04_raydium_pipeline", "p05_orca_metadata",
      "p07_meteora_pipeline", "p08_swap_transfer_match")
    val sizes = withoutAqe {
      callers.flatMap { q =>
        val stages = SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        assert(stages.nonEmpty, s"$q: no whole-stage codegen")
        stages.map { w =>
          val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
          (s"$q stage ${w.codegenStageId}", stats.maxMethodCodeSize)
        }
      }
    }
    info(sizes.map { case (s, n) => s"$s: $n" }.mkString(", "))
    val over = sizes.filter(_._2 > limit)
    assert(over.isEmpty, over.map { case (s, n) => s"$s: $n bytes" }
      .mkString(s"generated methods over $limit bytes:\n", "\n", ""))
  }

  test("p10: the sort survives the subquery and runs below the u256 " +
      "projection") {
    // the SQL part-sorts a narrow subquery (SORT BY — the fact-scale
    // output convention; a global ORDER BY would add a range exchange
    // whose sampling job re-executes the join lineage) and projects the
    // wide u256 strings outside it — assert the optimizer (a) kept the
    // Sort (EliminateSorts must not drop the SORT BY contract) and
    // (b) left the u256 projection ABOVE it, so the sort moves five
    // narrow columns, not 64-char strings
    val df = graft.operators.Pipelines.p10SqlPipeline(spark, sfDir)
    val sp = df.queryExecution.sparkPlan
    // collect() is pre-order, so the FIRST Sort is the topmost one — a
    // sort-merge-join sort deeper in the plan can no longer satisfy the
    // assertion vacuously (round-9 advice on the old string indexOf)
    val sorts = sp.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.nonEmpty, s"SORT BY was optimized away:\n$sp")
    assert(!sorts.head.global,
      "topmost sort must be part-local (SORT BY), not a global range sort")
    val keys = sorts.head.sortOrder.map(_.child.toString)
    assert(keys.size == 2 && keys.head.startsWith("l_orderkey") &&
      keys(1).startsWith("l_linenumber"),
      s"topmost sort must order by (l_orderkey, l_linenumber): $keys")
    // the u256 projection sits DIRECTLY above that sort, so the sort
    // moves five narrow columns, not 64-char strings
    val u256AboveSort = sp.collect {
      case p: org.apache.spark.sql.execution.ProjectExec
        if p.projectList.exists(_.toString.contains("u256")) &&
          p.child.isInstanceOf[org.apache.spark.sql.execution.SortExec] => p
    }
    assert(u256AboveSort.nonEmpty,
      s"u256 projection must sit directly above the sort:\n$sp")
  }

  test("p08 composite: adjacency via ONE window exchange, no self-join") {
    val p = plan(graft.operators.SvmInstr.p08SwapTransferMatch(spark, sfDir))
    assert(!p.toLowerCase.contains("join"),
      "swap→transfer adjacency must be a window, not a self-join")
    assert(countOf(p, "Arguments: hashpartitioning") === 1,
      s"expected exactly one hash exchange (the user_id window):\n$p")
  }

  test("p05 join-first: the staged fact never re-shuffles, and — under " +
    "forced SMJ — every sort input is the narrow pre-decode slice") {
    val p = plan(graft.operators.SvmInstr.p05OrcaMetadata(spark, sfDir))
    // the fact's ONE clustering happens inside the bucketed staging
    // write; the final plan reads the bucketed table (partitioning +
    // per-bucket sort advertised) and the dedupe + BOTH joins add no
    // fact exchange — the only hash exchange left is the blocks side
    assert(p.contains("Bucketed: true"),
      s"expected the staged bucketed fact scan:\n$p")
    assert(countOf(p, "Arguments: hashpartitioning") === 1,
      s"expected exactly one hash exchange (blocks only):\n$p")
    // no range exchange: a global orderBy's sampling job re-executes the
    // whole join lineage (measured 2× the query at sf10); the merge joins
    // themselves leave partitions physically sorted by (slot, idx)
    assert(countOf(p, "Arguments: rangepartitioning") === 0,
      s"expected no range exchange (part-sorted by the merge joins):\n$p")
    // the sf100 ENOSPC fix's contract: force the joins to sort-merge
    // (what sf100 actually plans) and assert every Sort's input is a
    // narrow column slice — the synthesized payload, accounts array
    // and decoded mints/whirlpool live ONLY above the joins, so no
    // sort (and no exchange) ever spills the wide rows
    val forced = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try plan(graft.operators.SvmInstr.p05OrcaMetadata(spark, sfDir))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        10485760L)
    }
    assert(forced.contains("SortMergeJoin"), forced)
    val sortInputs = sortInputLines(forced)
    assert(sortInputs.nonEmpty, s"expected SMJ sorts:\n$forced")
    assert(!sortInputs.exists(l =>
      l.contains("whirlpool") || l.contains("accounts") ||
        l.contains("token_mint") || l.contains("data")),
      s"a sort's input carries wide synthesized columns:\n$sortInputs")
  }

  test("d06 LSH dedup: candidate generation is an equi-join, no cross join") {
    val p = plan(Dedup.d06DedupEmbeddingLsh(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidates must come from an equi-join on (band, bucket):\n$p")
  }

  test("s04 quantized ANN: corpus never shuffles, query side broadcasts") {
    val p = plan(Similarity.s04AnnQuantized(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "quantized ANN should broadcast the bounded query side")
  }

  test("p09 dynamic decode: pure projection, range exchange over the scan") {
    val p = plan(graft.operators.Pipelines.p09DynamicDecode(spark, sfDir))
    // match join OPERATORS, not the substring — the projection itself
    // legitimately contains array_join
    assert(!"(?i)(SortMergeJoin|HashJoin|NestedLoopJoin|CartesianProduct)".r
      .findFirstIn(p).isDefined, s"decode must not join:\n$p")
    assert(countOf(p, "Arguments: rangepartitioning") === 1, p)
    assert(countOf(p, "Arguments: hashpartitioning") === 0,
      s"no hash exchange belongs in a pure decode:\n$p")
  }

  test("partitioned layout prunes: a partition filter reaches the scan") {
    // k01's MergeTree-style layout exists so downstream readers skip
    // whole directories — assert the pruning actually plans (§6 claim)
    val out = java.nio.file.Files.createTempDirectory("prune_").toString
    val orders = graft.sources.Tables(spark, sfDir).orders
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    graft.sinks.Writers.partitionedSortedParquet(orders, out,
      partCols = Seq("o_orderpriority"), sortCols = Seq("o_orderkey"))
    val filtered = spark.read.parquet(out)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val p = plan(filtered)
    assert(p.contains("PartitionFilters: [") &&
      p.contains("o_orderpriority"),
      s"partition filter did not reach the scan:\n$p")
    // prove pruning EXECUTED, not just planned: the scan's numFiles
    // metric counts post-pruning files (df.inputFiles lists the whole
    // relation pre-pruning, so it can't be the witness here)
    filtered.collect()
    val scan = filtered.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in the executed plan"))
    val total = spark.read.parquet(out).inputFiles.length
    val read = scan.metrics("numFiles").value
    assert(total >= 5 && read < total,
      s"pruning did not reduce files read: $read of $total")
  }

  test("q33: correlated scalar subquery decorrelates to a join") {
    val p = plan(Relational.q33CorrelatedSubquery(spark, sfDir))
    assert(!p.contains("Subquery"),
      s"subquery survived optimization — per-row execution at scale:\n$p")
    assert(p.contains("Join") && p.contains("Aggregate"),
      s"expected the decorrelated aggregate + outer join shape:\n$p")
  }

  test("q35: LIMIT'd lateral decorrelates to a window, not a loop") {
    val p = plan(Relational.q35LateralTopk(spark, sfDir))
    assert(!p.contains("Subquery") && !p.contains("LateralJoin"),
      s"lateral survived decorrelation — per-order re-execution at scale:\n$p")
    // the top-2-per-key shape: a row_number window feeding the join
    assert(p.contains("Window"), s"expected the row_number rewrite:\n$p")
  }

  test("q34: recursive CTE terminates and agrees with the closed form") {
    val rows = Relational.q34RecursiveCte(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(0)
      // depth = halvings to reach 0; chain_sum = sum of the halving chain
      var (cur, d, s) = (k, 0, k)
      while (cur > 0) { cur /= 2; d += 1; s += cur }
      assert(r.getInt(1) === d, s"depth mismatch for $k")
      assert(r.getLong(2) === s, s"chain_sum mismatch for $k")
    }
  }

  test("p11: sample+quality fuse into the scan; no quadratic joins") {
    val p = plan(graft.operators.Pipelines.p11CurationPipeline(spark, sfDir))
    // the sampling + quality stage must be a filter over ONE documents
    // scan branch, not a join of per-stage subplans
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"curation pipeline grew a quadratic join:\n$p")
    // contamination is an equi-join on the gram column
    assert(p.contains("hashpartitioning(gram") ||
      p.contains("BroadcastHashJoin"), s"gram join not hash/broadcast:\n$p")
  }

  test("s05: LUT and query sides broadcast; corpus codes never re-shuffle vectors") {
    val p = plan(graft.operators.Similarity.s05AnnPq(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast joins for LUT/query sides:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"PQ scoring must never be all-pairs:\n$p")
  }

  test("q28: seven window functions share ONE exchange + sort") {
    val p = plan(Relational.q28WindowAnalytics(spark, sfDir))
    assert(countOf(p, "Arguments: hashpartitioning") === 1,
      s"same-spec window functions must collapse into one exchange:\n$p")
  }

  test("p03: Catalyst constant-folds through the custom keccak expression") {
    val p = plan(graft.operators.Pipelines.p03Erc20Pipeline(spark, sfDir))
    // topic0 = keccak256(<literal>) compared to a literal hex — foldable
    // custom expressions mean the filter evaluates at plan time and
    // disappears entirely; a Filter node here would mean our Expressions
    // opted out of the optimizer
    assert(!p.contains("keccak") && !p.contains("ddf252ad"),
      s"constant keccak filter not folded:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q36: dense hourly grid, forward fill leaves no nulls, no quadratic") {
    val df = Relational.q36GapFill(spark, sfDir)
    val p = plan(df)
    // the grid comes from sequence()+explode on per-key span rows, never
    // a cross join against a calendar table
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"gap fill grew a quadratic join:\n$p")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      // consecutive hours (dense grid), non-null from the first row on
      // (grid starts at each key's first real bucket)
      rs.map(_.getTimestamp(1).getTime).sliding(2).foreach {
        case Array(a, b) => assert(b - a === 3600000L,
          s"user $u grid not hourly-dense")
        case _ =>
      }
      assert(rs.forall(!_.isNullAt(2)), s"user $u has unfilled rows")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the 100 TB shape: a fact-fact join where one side carries a
    // selective predicate — Spark can build a bloom filter from the
    // selective side and push it into the other side's SCAN, so most
    // fact rows die before the shuffle. Thresholds floor to 0 here
    // because test inputs are KB-sized; production sizes clear the
    // defaults on their own.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creation side must be SMALLER than this, application side LARGER
      // than the scan threshold — relax both for KB-sized test inputs
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // bloom injection only benefits SHUFFLE joins — at fact-fact scale
      // the join shuffles anyway; KB test inputs would broadcast instead
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t = graft.sources.Tables(spark, sfDir)
      val sel = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      val joined = t.lineitem.join(sel,
        col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("ANALYZE column stats flip a filtered fact join to broadcast (CBO)") {
    // file-size stats alone size a FILTERED side at the whole file, so a
    // selective fact-fact join stays sort-merge; with ANALYZE'd column
    // stats + CBO, the post-filter cardinality estimate shrinks below the
    // broadcast threshold and the planner flips the join — the
    // stats-collection workflow (ClickHouse keeps these per part) that
    // avoids shuffling 100 TB because one side was ALWAYS going to be tiny
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    locally {
      val t = "g16_fact"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(wh, t)
      if (d.exists()) d.listFiles().foreach(_.delete())
      d.delete(): Unit
    }
    graft.sources.Tables(spark, sfDir).lineitem
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.saveAsTable("g16_fact")
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    // fact-fact SELF join so neither raw side can broadcast: threshold
    // sits at a quarter of the file-stat size, far above the ~2% the
    // filter actually keeps
    val fileSize = spark.table("g16_fact")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    def joinPlan(): String = {
      val f = spark.table("g16_fact")
      f.filter(col("l_quantity") < 1.02)
        .join(f.select(col("l_orderkey").as("rk"), col("l_extendedprice")
          .as("rp")), col("l_orderkey") === col("rk"))
        .queryExecution.sparkPlan.toString
    }
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (fileSize / 4).toString)
      val before = joinPlan()
      assert(!before.contains("BroadcastHashJoin"),
        s"without stats the filtered side must look file-sized:\n$before")
      spark.sql("ANALYZE TABLE g16_fact COMPUTE STATISTICS FOR COLUMNS " +
        "l_orderkey, l_quantity, l_extendedprice")
      val after = joinPlan()
      assert(after.contains("BroadcastHashJoin"),
        s"column stats must shrink the filtered estimate to broadcast:\n$after")
    } finally {
      saved.foreach { case (k, Some(v)) => spark.conf.set(k, v)
                      case (k, None)    => spark.conf.unset(k) }
      spark.sql("DROP TABLE IF EXISTS g16_fact")
    }
  }

  test("q37: <=> plans as a hash join key, never a nested loop") {
    val p = plan(Relational.q37NullSafeJoin(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"null-safe join must hash, got:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"null-safe join degenerated to a loop:\n$p")
  }

  test("q39: chunked interval join is an equi-join, never a nested loop") {
    val p = plan(Relational.q39IntervalJoin(spark, sfDir))
    // the day-chunk key must carry the join; the overlap predicate is a
    // residual condition, not the join strategy
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"interval join must hash on chunk:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"interval join degenerated to an all-pairs loop:\n$p")
  }

  test("q41: higher-order lambdas stay in the scan projection — no shuffle" +
    " before the presentation sort") {
    val p = plan(Relational.q41HigherOrderArray(spark, sfDir))
    assert(countOf(p, "Arguments: rangepartitioning") === 1 &&
      !p.contains("Arguments: hashpartitioning"), // only the final sort
      s"array pipeline added a shuffle:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id)"), p)
  }

  test("m10: interleave is map-side only — two generates, zero exchanges") {
    val p = plan(graft.operators.Multimodal.m10Interleave(spark, sfDir))
    assert(!p.contains("Arguments: hashpartitioning") &&
      !p.contains("Arguments: rangepartitioning"),
      s"interleave assembly must not shuffle:\n$p")
    assert(countOf(p, ") Generate") === 2,
      s"expected exactly the text + image sequence explodes:\n$p")
    assert(p.contains("Union"), s"modality branches must union:\n$p")
  }

  test("q43: multi-distinct plans as one scan + Expand, not N scans") {
    val p = plan(Relational.q43MultiCountDistinct(spark, sfDir))
    assert(p.contains("Expand"), s"multi-distinct lost the Expand plan:\n$p")
    assert(countOf(p, "Location: InMemoryFileIndex") === 1,
      s"multi-distinct re-scanned the fact table:\n$p")
  }

  test("d12: index-path candidate join broadcasts the batch — history" +
    " never shuffles") {
    val p = plan(Dedup.d12IncrementalLshIndex(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"batch bands must broadcast against the index scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"history side shuffled — the index amortization is lost:\n$p")
  }

  test("s07: the metadata pre-filter pushes into the corpus scan") {
    val p = plan(Similarity.s07AnnFiltered(spark, sfDir))
    assert(p.contains("In(label, [2,7])"),
      s"label filter must reach the parquet scan:\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus side must not shuffle")
  }

  test("nested-struct projection prunes to the accessed leaf at the scan") {
    import org.apache.spark.sql.functions.{lit, struct}
    // a nested meta struct like the multimodal schema; reading one leaf
    // must not deserialize the whole struct (schema pruning is on by
    // default — this pins it, because losing it at 100 TB means reading
    // every leaf column of every struct in the table)
    val dir = java.nio.file.Files.createTempDirectory("graft-nested").toString
    spark.range(100)
      .select(col("id"),
        struct(col("id").as("w"), (col("id") * 2).as("h"),
          lit("png").as("fmt"), lit("x" * 100).as("blob")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    val p = plan(spark.read.parquet(dir).select(col("id"), col("meta.w")))
    assert(p.contains("ReadSchema: struct<id:bigint,meta:struct<w:bigint>>"),
      s"nested pruning lost — scan reads the whole struct:\n$p")
    assert(!p.contains("blob"), s"unaccessed leaf survived into the scan:\n$p")
  }

  test("s06: branch top-50 cuts plan as TakeOrderedAndProject, not a sort") {
    val p = plan(Similarity.s06HybridSearch(spark, sfDir))
    assert(countOf(p, "TakeOrderedAndProject") >= 2,
      s"each retrieval branch must cut via a distributed top-k heap:\n$p")
  }

  test("t21 tf-idf: tokenization stays bounded at two linear passes, " +
    "top-5 prunes below the doc window") {
    // tf inlines into exactly its two consumers (tf rows + df counts) —
    // two codegen'd linear explode passes, which MEASURES cheaper than
    // deduplicating them: a localCheckpoint cut of tf was 95 s vs 79 s
    // at sf100 (materializing the billion-row (doc, token) table costs
    // more than the second scan), and AQE declines to stitch the two
    // partial-agg stages. Guard the shape: never MORE than two, and
    // the rank<=5 must push down as WindowGroupLimit so each partition
    // ships only its top rows into the final per-doc window.
    val p = plan(graft.operators.TextAnalysis
      .t21TfidfKeywords(spark, sfDir))
    assert(countOf(p, "Generate (") === 2,
      s"explode subtree fan-out changed:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter did not push below the window:\n$p")
  }

  test("c01 packing: ONE hash exchange (the bucket window), no join") {
    val p = plan(graft.operators.Corpus.c01PackConcat(spark, sfDir))
    assert(countOf(p, "Arguments: hashpartitioning") === 1,
      s"the tape window needs exactly one shuffle on bucket:\n$p")
    assert(!p.toLowerCase.contains("join"),
      "concat packing must be pure window arithmetic")
  }

  test("c08 epoch shuffle: ONE hash exchange (the shard window), no join," +
    " text never read") {
    val p = plan(graft.operators.Corpus.c08EpochShuffle(spark, sfDir))
    assert(countOf(p, "Arguments: hashpartitioning") === 1,
      s"the shard window needs exactly one shuffle on shard:\n$p")
    assert(!p.toLowerCase.contains("join"),
      "epoch shuffle must be hash + one shard-local window")
    assert(!p.contains("text"),
      "identity-hash shuffle must never read the text column")
  }

  test("c09 curriculum: every window is partitioned; the per-doc rank" +
    " window carries both (score, chunk) keys") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = graft.operators.Corpus.c09Curriculum(spark, sfDir)
      .queryExecution.sparkPlan
    val windows = sp.collect { case w: WindowExec => w.partitionSpec.size }
    assert(windows.nonEmpty && windows.forall(_ >= 1),
      s"an unpartitioned window crept into the rank decomposition: $windows")
    assert(windows.contains(2),
      s"per-doc rank window lost its chunk key: partition sizes $windows")
  }

  test("c11 length batches: every window is partitioned; the per-doc " +
    "rank window carries both (pad_len, chunk) keys; output part-sorted") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.Corpus.c11LengthBatches(spark, sfDir)
    val windows = df.queryExecution.sparkPlan
      .collect { case w: WindowExec => w.partitionSpec.size }
    assert(windows.nonEmpty && windows.forall(_ >= 1),
      s"an unpartitioned window crept into the rank decomposition: $windows")
    assert(windows.contains(2),
      s"per-doc rank window lost its chunk key: partition sizes $windows")
    assert(!plan(df).contains("rangepartitioning"),
      "fact-scale output re-shuffled by a global sort")
  }

  test("q47 sessionize: ONE user-keyed exchange end to end — the " +
    "session aggregate reuses the window's partitioning") {
    val p = plan(Relational.q47Sessionize(spark, sfDir))
    assert(!p.toLowerCase.contains("join"),
      "sessionization should be windows + aggregate, never a self-join")
    assert(countOf(p, "Arguments: hashpartitioning") === 1,
      s"the (user, session) aggregate must reuse the user-keyed " +
        s"window exchange:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"fact-scale session output re-shuffled by a global sort:\n$p")
  }

  test("c10 mix schedule: ZERO windows (the closed form replaces the " +
    "naive interleave sort), corpus side broadcast-joined") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = graft.operators.Corpus.c10MixSchedule(spark, sfDir)
      .queryExecution
    assert(qe.sparkPlan.collect { case w: WindowExec => w }.isEmpty,
      "closed-form schedule must not window")
    val p = plan(graft.operators.Corpus.c10MixSchedule(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"doc-side schedule join must broadcast the block table:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must never shuffle for the schedule:\n$p")
  }

  test("c03 chunking: zero exchanges — a pure per-row map over the scan") {
    val p = plan(graft.operators.Corpus.c03ChunkOverlap(spark, sfDir))
    assert(!p.contains("Arguments: hashpartitioning") &&
      !p.contains("Arguments: rangepartitioning"),
      s"chunking must not shuffle:\n$p")
    assert(p.contains("PushedFilters:"), p)
  }

  test("c06 split: zero exchanges and no text column in the scan") {
    val p = plan(graft.operators.Corpus.c06SplitAssign(spark, sfDir))
    assert(!p.contains("Arguments: hashpartitioning") &&
      !p.contains("Arguments: rangepartitioning"),
      s"split assignment must be a pure map:\n$p")
    assert(!p.contains("text"),
      "identity split must never read the text column")
  }

  test("suite sweep: no unbounded single-partition WindowExec, " +
    "no CartesianProduct, in any registered query plan") {
    // The textbook scale-killer: Window with no PARTITION BY moves the
    // whole input to one partition ("WARN WindowExec: No Partition
    // Defined"). An unpartitioned window is acceptable ONLY when its
    // input is already bounded by a limit (TakeOrderedAndProject /
    // Global/CollectLimit) — e.g. s06 ranks a 50-row candidate list.
    // This sweeps EVERY SparkEntry query so the class of defect can
    // never reappear anywhere in the suite.
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def bounded(p: SparkPlan): Boolean = p.exists {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: CollectLimitExec => true
      case _ => false
    }
    // Same sweep, second contract: CartesianProductExec means BOTH join
    // sides shuffle-free-nothing — an n×m disaster at scale. Broadcast
    // nested-loop joins (one side bounded+broadcast) are fine and are
    // how the intentional cross joins (scalar-aggregate broadcasts,
    // bounded ANN query sides) plan.
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    // At sparkPlan stage a subquery expression may still carry a LOGICAL
    // plan (e.g. the bloom_filter_agg of InjectRuntimeFilter, planned
    // only in prepareForExecution) — subqueriesAll would CCE on it; keep
    // the physical ones, which are the only ones that can host the
    // offending exec nodes.
    def withPhysicalSubqueries(p: SparkPlan): Seq[SparkPlan] =
      p +: p.collect { case n => n }.flatMap(_.expressions.flatMap(
        _.collect {
          case pe: org.apache.spark.sql.catalyst.expressions
              .PlanExpression[_] => pe.plan
        }.collect { case sp: SparkPlan => sp }
          .flatMap(withPhysicalSubqueries)))
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.sparkPlan
        withPhysicalSubqueries(plan).flatMap(_.collect {
          case w: WindowExec
              if w.partitionSpec.isEmpty && !bounded(w.child) =>
            s"$name: unbounded unpartitioned WindowExec over ${w.child.nodeName}"
          case c: CartesianProductExec =>
            s"$name: CartesianProductExec (${c.left.nodeName} × ${c.right.nodeName})"
        })
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("whole-stage codegen covers the scan→project hot path (t03)") {
    // AQE's wrapper reports 0 subtrees pre-execution — inspect the static plan
    withoutAqe {
      val p = graft.operators.TextAnalysis.t03TokenCount(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("codegen"))
      assert(p.contains("WholeStageCodegen subtrees") &&
        !p.startsWith("Found 0 WholeStageCodegen"), p.take(200))
    }
  }
}
