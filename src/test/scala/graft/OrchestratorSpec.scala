package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator._

/** The env-driven orchestration surface (scripts/main.py twin): parse /
  * validate / fail-fast semantics, registry dispatch, key-range pruning,
  * chain tagging.
  */
class OrchestratorSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  private val evmEnv = Map(KindVar -> "evm", NameVar -> "erc20_transfers",
    ChainVar -> "1")

  test("config validation fails fast with the offending variable named") {
    def msg(env: Map[String, String]): String =
      intercept[IllegalArgumentException](loadConfig(env)).getMessage
    assert(msg(Map.empty).contains(KindVar))
    assert(msg(Map(KindVar -> "cosmos")).contains("cosmos"))
    assert(msg(Map(KindVar -> "evm")).contains(NameVar))
    assert(msg(Map(KindVar -> "evm", NameVar -> "nope")).contains("nope"))
    assert(msg(Map(KindVar -> "evm", NameVar -> "erc20_transfers"))
      .contains(ChainVar))                       // evm requires a chain
    assert(msg(evmEnv + (ChainVar -> "999999999")).contains("not a known"))
    assert(msg(evmEnv + (FromVar -> "ten")).contains(FromVar))
  }

  test("defaults: fromKey 0, open-ended toKey, svm carries no chain") {
    val cfg = loadConfig(Map(KindVar -> "svm", NameVar -> "raydium_swaps"))
    assert(cfg.fromKey === 0L && cfg.toKey === None && cfg.chainId === None)
  }

  test("evm dispatch: range prune + chain tag, and the prune reaches the scan") {
    val cfg = loadConfig(evmEnv ++ Map(FromVar -> "100", ToVar -> "200"))
    val df = Orchestrator.dispatch(spark, cfg, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val k = r.getLong(r.fieldIndex("l_orderkey"))
      k >= 100 && k < 200
    })
    assert(rows.forall(_.getAs[String]("chain_name") === "ethereum"))
    // the config window must prune the parquet scan, not post-filter
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(l_orderkey,100)"),
      s"range prune not pushed:\n$plan")
  }

  test("dict pipelines: no range prune, own chain columns never clobbered") {
    val cfg = loadConfig(Map(KindVar -> "evm", NameVar -> "chain_name",
      ChainVar -> "1", FromVar -> "100", ToVar -> "2000"))
    val rows = Orchestrator.dispatch(spark, cfg, sfDir).collect()
    // the full 73-entry dictionary, not a block-range-filtered or
    // constant-tagged subset
    assert(rows.length === graft.sources.ChainDict.entries.size)
    assert(rows.map(_.getAs[String]("chain_name")).distinct.length ===
      rows.length)
  }

  test("svm dispatch runs a registry twin end-to-end") {
    val cfg = loadConfig(Map(KindVar -> "svm", NameVar -> "orca_metadata",
      ToVar -> "500"))
    val rows = Orchestrator.dispatch(spark, cfg, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) < 500))
  }

  test("typed EVM ingest request compiles to pruned, pushed-down scans") {
    import graft.pipeline.IngestRequest._
    val req = EvmQuery(
      range = BlockRange(1000L, Some(5000L)),
      logs = Seq(LogRequest(topic0 = Seq("click", "purchase"),
        includeBlocks = true)),
      fields = EvmFields(
        block = Seq("o_orderkey", "o_orderdate"),
        log = Seq("event_id", "user_id", "event_type", "value")))
    val out = compileEvm(spark, sfDir, req)
    assert(out.keySet === Set("logs", "blocks"))
    val logsPlan = out("logs").queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // range + topic0 membership reach the parquet scan as PushedFilters
    assert(logsPlan.contains("GreaterThanOrEqual(event_id,1000)"),
      s"range lower bound not pushed:\n$logsPlan")
    assert(logsPlan.contains("LessThan(event_id,5000)"),
      s"range upper bound not pushed:\n$logsPlan")
    assert(logsPlan.contains("In(event_type, [click,purchase])"),
      s"topic0 membership not pushed:\n$logsPlan")
    // field selection prunes the scan: unrequested columns never read
    assert(logsPlan.contains("ReadSchema: struct<event_id:bigint"), logsPlan)
    assert(!logsPlan.contains("props"),
      s"unrequested payload column survived into the scan:\n$logsPlan")
    val blocksPlan = out("blocks").queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(blocksPlan.contains("GreaterThanOrEqual(o_orderkey,1000)"),
      blocksPlan)
    assert(!blocksPlan.contains("o_comment"), blocksPlan)
  }

  test("typed SVM ingest request: program/discriminator filters + " +
    "companion tables by include flags") {
    import graft.pipeline.IngestRequest._
    val req = SvmQuery(
      range = BlockRange(0L, Some(2000L)),
      instructions = Seq(InstructionRequest(
        programId = Seq("click"),
        includeTransactions = true,
        includeTransactionTokenBalances = false)),
      fields = SvmFields(
        transaction = Seq("o_orderkey", "o_custkey"),
        instruction = Seq("event_id", "event_type", "props")))
    val out = compileSvm(spark, sfDir, req)
    // token_balances NOT requested — the flag gates the table
    assert(out.keySet === Set("instructions", "transactions"))
    val rows = out("instructions").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("event_type") === "click"))
    assert(rows.forall(_.getAs[Long]("event_id") < 2000L))
    // a requested field that doesn't exist fails fast, named
    val err = intercept[IllegalArgumentException] {
      compileSvm(spark, sfDir, req.copy(fields =
        req.fields.copy(instruction = Seq("event_id", "no_such_col"))))
    }
    assert(err.getMessage.contains("no_such_col"))
  }

  test("provider endpoints resolve by kind — golden cases (main.py:160-189)") {
    import graft.pipeline.Providers
    import graft.pipeline.Providers._
    // HYPERSYNC: url templated straight from the chain id
    assert(makeEvmProvider(Hypersync, 1L) ===
      ProviderConfig(Hypersync, "https://1.hypersync.xyz", 2))
    assert(makeEvmProvider(Hypersync, 42161L, bufferSize = 8).url ===
      "https://42161.hypersync.xyz")
    // SQD: dataset name from the public network registry
    assert(makeEvmProvider(Sqd, 1L).url ===
      "https://portal.sqd.dev/datasets/ethereum-mainnet")
    assert(makeEvmProvider(Sqd, 137L).url ===
      "https://portal.sqd.dev/datasets/polygon-mainnet")
    assert(makeEvmProvider(Sqd, 8453L).url ===
      "https://portal.sqd.dev/datasets/base-mainnet")
    // solana: fixed solana-beta dataset, SQD kind
    assert(makeSvmProvider() ===
      ProviderConfig(Sqd, "https://portal.sqd.dev/datasets/solana-beta", 2))
    // unknown chain on the SQD path fails fast with the id named
    val e = intercept[IllegalArgumentException](makeEvmProvider(Sqd, 424242L))
    assert(e.getMessage.contains("424242"))
    // unknown kind string fails fast too (main.py _to_provider_kind)
    assert(parseKind("sqd") === Sqd && parseKind("hypersync") === Hypersync)
    val ke = intercept[IllegalArgumentException](parseKind("thegraph"))
    assert(ke.getMessage.contains("thegraph"))
    // registry sanity: every dataset name is a well-formed slug and the
    // map carries the reference's full table
    assert(Providers.sqdEvmDatasets.size === 137)
    Providers.sqdEvmDatasets.foreach { case (id, name) =>
      assert(id > 0 && name.matches("[a-z0-9-]+"), s"$id -> $name")
    }
  }

  test("solana from_block clamps to the dataset start (main.py:252-260)") {
    import graft.pipeline.Providers.clampFromBlock
    assert(clampFromBlock(datasetStartBlock = 250000000L,
      requestedFromBlock = 0L) === 250000000L)       // default 0 → floor
    assert(clampFromBlock(250000000L, 100L) === 250000000L) // stale resume
    assert(clampFromBlock(250000000L, 300000000L) === 300000000L) // past it
  }

  test("p12 resume branch: pinned grid survives a second run; corrupt " +
      "manifest fails loudly") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files
      .createTempDirectory("graft-p12-resume").toString
    val first = graft.operators.Pipelines
      .p12BackfillAt(spark, sfDir, root).collect()
    // second run against the SAME root: the manifest READ branch is the
    // live path now — grid must come from the manifest and the output
    // must be identical
    val second = graft.operators.Pipelines
      .p12BackfillAt(spark, sfDir, root).collect()
    assert(first.map(_.toString).sorted.toSeq ===
      second.map(_.toString).sorted.toSeq)
    // a torn/garbage manifest must refuse to run, naming the file —
    // regenerating the grid would silently shift chunk boundaries.
    // (Written through the Hadoop FS so the checksum sidecar stays
    // consistent — the corruption under test is CONTENT, not bitrot.)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_MANIFEST"), true)
    out.write("garbage".getBytes("UTF-8")); out.close()
    val err = intercept[IllegalStateException] {
      graft.operators.Pipelines.p12BackfillAt(spark, sfDir, root)
    }
    assert(err.getMessage.contains("_MANIFEST") &&
      err.getMessage.contains("garbage"))
  }

  test("p12 chunk failure cancels the other chunks and leaks no job") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.{col, expr}
    // an events table wide enough for ~7 chunks (the sf fixture's 1,000
    // events fit in one), so chunks are queued and in flight at the failure
    val dir = Files.createTempDirectory("graft-p12-events").toString
    spark.range(0L, 240000L)
      .select(col("id").as("event_id"), (col("id") % 97).as("user_id"),
        (col("id") % 13).cast("double").as("value"),
        expr("timestamp_micros(id * 1000000)").as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val root = Files.createTempDirectory("graft-p12-fail").toString
    // chunk_0 exists as a regular FILE: that chunk's write cannot create
    // its data directory, while the other chunks are queued or running
    Files.write(Paths.get(root, "chunk_0"), Array[Byte](1))
    def markers: Set[String] = new java.io.File(root).listFiles()
      .filter(f => new java.io.File(f, "_DONE").exists).map(_.getName).toSet
    intercept[Exception] {
      graft.operators.Pipelines.p12BackfillAt(spark, dir, root)
    }
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    val atThrow = markers
    Thread.sleep(2000)
    assert(markers === atThrow, "a chunk kept writing after the query failed")
    assert(!atThrow.contains("chunk_0"))
  }
}
