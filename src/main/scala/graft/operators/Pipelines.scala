package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** End-to-end pipeline twins p01–p02: the reference's two flagship
  * pipelines re-expressed as single composed Spark plans over the test
  * tables — not isolated operator shapes (q01–q20 cover those) but the
  * full decode→normalize→match→enrich→aggregate chains a reference user
  * actually runs.
  *
  * Because each stage is declarative, Catalyst fuses the whole pipeline
  * into one optimized plan: filters reach the scan, and each pipeline
  * reads `events` once — p01's per-user dictionary rides its adjacency
  * window, p02's two quote branches share one window — behind one
  * hash-partition-by-user exchange. The reference executes these as 5-6
  * separate materialized dataframe steps; here the engine sees the whole
  * program.
  */
object Pipelines {

  /** p01 — orca_swaps twin (/root/reference/src/cherry_pipelines/svm/
    * orca_swaps.py): decode two instruction variants to a common schema
    * (py:293-345 — here one CASE on event_type over one scan instead of a
    * union of two decodes; the JSON decode still runs on purchase rows
    * only), drop memo-style rows (py:234-237), match each swap to its
    * adjacent transfer at the next instruction index (py:402-436 — here a
    * lead() window, one shuffle instead of a self-join), remap in/out by
    * direction (py:373-400), and aggregate per user with a decimal-exact
    * sum. The per-user swap count (the token_decimals dictionary analog)
    * is a whole-partition count over the same window spec, so it rides
    * the adjacency Window operator instead of a second aggregate and a
    * broadcast join. Rows with a null user_id never reach the answer.
    */
  def p01SwapsPipeline(spark: SparkSession, dir: String): DataFrame = {
    val isV1 = col("event_type") === "click"
    val swaps = Tables(spark, dir).events
      .filter(col("event_type").isin("click", "purchase") &&
        col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), isV1.as("a_to_b"),
        when(isV1, col("value"))
          .otherwise(get_json_object(col("props"), "$.k").cast("double"))
          .as("amount"))
    // adjacency — the "transfer" is the user's next decoded event; the
    // dictionary count spans the whole partition of the same spec
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val matched = swaps
      .select(col("*"), lead(col("amount"), 1).over(w).as("next_amount"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("n_swaps"))
      .filter(col("next_amount").isNotNull)
    // direction-dependent in/out remap
    val aToB = col("a_to_b")
    matched
      .groupBy(col("user_id"), col("n_swaps"))
      .agg(sum(when(aToB, col("amount")).otherwise(col("next_amount"))
            .cast(DecimalType(38, 6))).cast("double").as("sum_in"),
        sum(when(aToB, col("next_amount")).otherwise(col("amount"))
            .cast(DecimalType(38, 6))).cast("double").as("sum_out"),
        count(lit(1)).as("n_matched"))
      .orderBy(col("user_id"))
  }

  /** p02 — swap_prices twin (/root/reference/src/cherry_pipelines/svm/
    * swap_prices.py:59-317): trailing range-window aggregation per key
    * (py:189-218, the 20-slot VWAP — here RANGE BETWEEN, linear scan after
    * one shuffle instead of the reference's O(n·w) join_where), post-window
    * threshold filter (py:202), Decimal(38,9) ratio math (py:203-217), and
    * the two quote branches (py:264-303 SOL/USD price branches) as one
    * filter and one CASE over the one window, not a union of two plans.
    */
  def p02VwapPipeline(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_sec"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
      .rangeBetween(-86400L, 0L)
    val windowed = e.select(col("user_id"), col("event_id"),
      col("event_type"), col("ts_sec"), col("value"),
      sum(col("value").cast(DecimalType(38, 6))).over(w).cast("double")
        .as("trail_sum"),
      count(col("value")).over(w).as("trail_n"))
    // the branch filter stays above the window: the trailing sum covers
    // every event type; the ratio is the Decimal(38,9) price
    windowed
      .filter(col("event_type").isin("click", "purchase") &&
        col("trail_sum") > 100.0)
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        when(col("event_type") === "click", "SOL").otherwise("USD")
          .as("quote"),
        (col("trail_sum") / col("trail_n")).cast(DecimalType(38, 9))
          .cast("double").as("vwap"))
      .orderBy(col("quote"), col("user_id"), col("event_id"))
  }

  /** p03 — erc20_transfers twin at the BINARY level
    * (/root/reference/src/cherry_pipelines/evm/erc20_transfers.py): logs
    * are synthesized as real ABI-shaped bytes (32-byte topics, u256 data
    * word) from lineitem columns, then the decode chain runs exactly as
    * the reference's: topic0 == keccak256("Transfer(address,address,
    * uint256)") filter (py:94), address extraction from topics 1/2 (last
    * 20 of 32 bytes), u256 amount decode (Decimal256 column in the CH
    * DDL), and the left join onto "blocks" for timestamps (py:58-72).
    * All codegen'd expressions — the whole decode is one projection.
    * Oracle recomputes the decoded values arithmetically from the source
    * columns — agreement proves encode∘decode is the identity.
    */
  def p03Erc20Pipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{keccak256, u256_from_long, EvmAbi}
    val erc20Sig =
      "Transfer(address indexed from, address indexed to, uint256 amount)"
    val t = Tables(spark, dir)
    val logs = t.lineitem.select(
      col("l_orderkey"), col("l_linenumber"),
      keccak256(lit("Transfer(address,address,uint256)").cast("binary"))
        .as("topic0"),
      u256_from_long(col("l_partkey")).as("topic1"),
      u256_from_long(col("l_suppkey")).as("topic2"),
      u256_from_long(floor(col("l_extendedprice") * 100).cast("long"))
        .as("data"))
    // the ABI decode (an order-preserving projection) runs after the
    // sort, over rows that are 32-byte binaries instead of decoded hex
    // strings; both join sides share one hash clustering on the join key.
    // Part-sorted output: the SMJ leaves each hash(l_orderkey) partition
    // sorted by the join key, so a local (l_orderkey, l_linenumber) sort
    // finishes the MergeTree part order with no exchange — a global
    // orderBy would re-execute the join once in its range-bounds sampling
    // job and reshuffle the full fact output.
    val filtered = logs.filter(lower(hex(col("topic0"))) ===
        EvmAbi.signatureTopic0Hex(erc20Sig))
      .repartition(col("l_orderkey"))
    val enriched = filtered
      .join(t.orders.select(col("o_orderkey"), col("o_orderdate"))
          .repartition(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
    EvmAbi.decodeEvent(enriched, erc20Sig)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("from").as("from_addr"), col("to").as("to_addr"),
        col("amount").cast("string").as("amount"), col("o_orderdate"))
  }

  /** p06 — generalized event decode through the same API, on a *second*
    * event type (VERDICT.md missing #1): a mixed synthesized log stream
    * holds Approval rows, Transfer decoys (different topic0), and
    * malformed Approval rows (right topic0, empty data — the shared-
    * topic0 hazard erc20_transfers.py:137-140 documents). The scan-time
    * topic0 filter drops the decoys; `allow_decode_fail` semantics null
    * every decoded column of the malformed rows instead of erroring. */
  def p06EventDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{keccak256, u256_from_long, EvmAbi}
    val approvalSig =
      "Approval(address indexed owner, address indexed spender, uint256 value)"
    val logs = Tables(spark, dir).lineitem
      .filter(col("l_linenumber") <= 3)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_linenumber") === 2,
          keccak256(lit("Transfer(address,address,uint256)").cast("binary")))
          .otherwise(
            keccak256(lit("Approval(address,address,uint256)").cast("binary")))
          .as("topic0"),
        u256_from_long(col("l_partkey")).as("topic1"),
        u256_from_long(col("l_suppkey")).as("topic2"),
        when(col("l_linenumber") === 3, lit(Array.emptyByteArray))
          .otherwise(
            u256_from_long(floor(col("l_extendedprice") * 100).cast("long")))
          .as("data"))
    EvmAbi.decodeEvent(
        logs.filter(lower(hex(col("topic0"))) ===
          EvmAbi.signatureTopic0Hex(approvalSig)),
        approvalSig)
      .select(col("l_orderkey"), col("l_linenumber"), col("owner"),
        col("spender"), col("value").cast("string").as("value"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** p09 — dynamic-type event decode: `string` and `uint256[]` params
    * decoded from the ABI tail encoding (head word = offset, tail =
    * length word + padded payload). The reference's decoder handles
    * arbitrary event signatures including dynamic types
    * (EvmDecodeEventsConfig, erc20_transfers.py:131-141); this exercises
    * the tail path end-to-end: per-document payloads with variable-length
    * strings and 0–4-element arrays, plus truncated blobs (every 13th
    * doc) that must null out under allow_decode_fail. */
  def p09DynamicDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{u256_from_long, EvmAbi}
    val sig = "DataLogged(address indexed src, string note, uint256[] vals)"
    // sort the narrow source first: the decode is an order-preserving
    // projection, so the range exchange samples two scan columns
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
    val noteB = substring(col("text"), 1, 40).cast("binary")
    val nb = length(noteB).cast("long")
    val padded = shiftleft(shiftright(nb + lit(31L), 5), 5)
    val strTail = concat(u256_from_long(nb), noteB,
      substr(lit(Array.fill[Byte](32)(0)), lit(1L), padded - nb))
    val nvals = pmod(col("doc_id"), lit(5)).cast("long")
    def el(i: Int) = when(nvals > i, u256_from_long(col("doc_id") * 10 + i))
      .otherwise(lit(Array.emptyByteArray))
    val arrTail = concat(u256_from_long(nvals), el(0), el(1), el(2), el(3))
    val payload = concat(
      u256_from_long(lit(64L)),            // offset of note's tail
      u256_from_long(lit(96L) + padded),   // offset of vals' tail
      strTail, arrTail)
    val data = when(pmod(col("doc_id"), lit(13)) === 0,
        substr(payload, lit(1L), lit(64L))) // head only → offsets dangle
      .otherwise(payload)
    val logs = d.select(col("doc_id"),
      unhex(lit(EvmAbi.signatureTopic0Hex(sig))).as("topic0"),
      u256_from_long(col("doc_id")).as("topic1"),
      data.as("data"))
    EvmAbi.decodeEvent(logs, sig)
      .select(col("doc_id"), col("src"), col("note"),
        size(col("vals")).cast("long").as("n_vals"),
        array_join(transform(col("vals"), v => v.cast("string")), ",")
          .as("vals_csv"))
  }

  /** p10 — the pure-SQL user path: the same decode/join/ratio pipeline
    * shape, written entirely as SQL TEXT against temp views, with graft's
    * custom expressions called by name (u256_from_long / u256_mul /
    * u256_to_decimal are FunctionRegistry entries, which
    * `Session.enforce` registers, not Scala-only helpers). A reference
    * user driving everything from SQL strings — the ClickHouse habit —
    * needs this surface to be first-class, so it gets its own
    * oracle-checked entry, not just a unit test.
    */
  def p10SqlPipeline(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem.createOrReplaceTempView("graft_sql_li")
    Tables(spark, dir).orders.createOrReplaceTempView("graft_sql_ord")
    // f07's sort economy, in SQL: the sort moves the five narrow
    // scan/join columns; the u256 BigInteger kernels and the wide
    // hex/decimal strings are projected AFTER the sort by the outer
    // select (a projection over a sort is order-preserving, so the sort
    // contract survives). Sorting the wide strings instead measured 3x
    // slower and spill-bound at sf10. SORT BY, not ORDER BY — the
    // part-sorted output convention (Hive SORT BY / MergeTree
    // intra-part order): a global ORDER BY adds a range exchange whose
    // sampling job re-executes the join lineage and reshuffles the full
    // fact (the PERF.md global-sort tax), for a total order no consumer
    // of a fact-scale table asks of the engine.
    spark.sql(
      """SELECT l_orderkey, l_linenumber,
        |  lower(hex(u256_from_long(l_partkey))) AS part_u256,
        |  CAST(u256_to_decimal(u256_mul(
        |    u256_from_long(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)),
        |    u256_from_long(CAST(FLOOR(l_quantity) AS BIGINT))))
        |    AS STRING) AS product,
        |  o_orderdate
        |FROM (
        |  SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
        |    l.l_extendedprice, l.l_quantity, o.o_orderdate
        |  FROM graft_sql_li l
        |  LEFT JOIN graft_sql_ord o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_quantity > 0
        |  SORT BY l.l_orderkey, l.l_linenumber
        |) sorted""".stripMargin)
  }

  /** p11 — the END-TO-END corpus curation pipeline, fused into ONE plan:
    * stratified sampling (t11's predicate) → quality filter (t02's
    * formula) → benchmark-contamination strip (t10's 13-gram anti-join) →
    * exact dedup keeping the lowest surviving doc_id (d01 as a window).
    * The filter Columns are LITERALLY the shared objects the standalone
    * queries use, so the composition cannot drift from its parts — and
    * because every stage is declarative, Catalyst fuses sample+quality
    * into the scan (narrow, no shuffle), the contamination stage adds one
    * gram equi-join, and dedup adds one keyed window: three shuffles
    * total for a four-stage pipeline. This is the reference's
    * Pipeline-of-Steps architecture (k03) applied to the LLM data prep
    * domain, which is exactly how a 100 TB crawl gets curated.
    */
  /** The eval-set gram table (the STATIC side of the contamination
    * strip) and the sample→quality→contamination stages as a reusable
    * batch transform — p11 applies them to the whole corpus, st12 applies
    * the SAME function to each streaming micro-batch. */
  private[graft] def evalGramsOf(docs: DataFrame,
      collapsed: Boolean): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    // ws is materialized as a column BEFORE grams13: an expression
    // referenced inside the transform lambda re-evaluates per element,
    // so an inline split() grams in O(n²) per doc
    DupDensity.classes(docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        collapsed, planted)
      .select(split(TA.augmentedTextOf(col("text"), col("pl")), " ")
        .as("ws"))
      .select(explode(TA.grams13(col("ws"))).as("gram"))
      .distinct()
  }

  /** The contamination planting depends on doc_id only through this
    * flag, so (text, planted) is the collapse class of the gram stage. */
  private val planted: Seq[(String, Column)] =
    Seq("pl" -> (pmod(col("doc_id"), lit(37)) === 0))

  /** `collapsed` runs the quality and contamination stages once per
    * distinct (text, planted, lang) class instead of once per document —
    * chosen by the caller's dup-density probe. Both paths are
    * output-identical: quality and contamination are functions of the
    * text and the planted flag, and lang rides along as a class flag
    * (DupGateSpec pins it). p11 probes its corpus directly; st12 probes
    * its STATIC table once at query build and reuses the decision every
    * micro-batch, so streaming never pays a per-trigger probe job. */
  private[graft] def curateBatch(batch: DataFrame, evalGrams: DataFrame,
      collapsed: Boolean): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val sampled = batch
      .filter(pmod(col("doc_id"), lit(50)) =!= 0) // eval docs never train
      .filter(TA.sampleBucket <= TA.sampleThreshold)
    val flags = planted :+ ("lang" -> col("lang"))
    DupDensity.perClass(sampled, collapsed, flags) { g =>
      val kept = g
        .select(col("gid"), col("text"), col("lang"), col("pl"),
          TA.qualityOf(col("text")).as("quality"))
        .filter(col("quality") >= 0.5)
      val contaminated = kept
        .select(col("gid"),
          split(TA.augmentedTextOf(col("text"), col("pl")), " ").as("ws"))
        .select(col("gid"), explode(TA.grams13(col("ws"))).as("gram"))
        .join(evalGrams, Seq("gram"))
        .select(col("gid")).distinct()
      kept.join(contaminated, Seq("gid"), "left_anti")
        .select(col("gid"), col("text"), col("lang"), col("quality"))
    }.select(col("doc_id"), col("text"), col("lang"),
      TA.sampleBucket.as("bucket"), col("quality"))
  }

  def p11CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    // one density probe chooses the contamination path for BOTH the eval
    // gram build and the batch strip (the d-family gate pattern)
    val collapse = DupDensity.textGate(docs)
    val clean = curateBatch(docs, evalGramsOf(docs, collapse), collapse)
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    clean
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("bucket"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Curation oracle, shared by p11 (with the dedup stage) and st12 (the
    * streaming form, which stops at the contamination strip). */
  private[graft] def curationOracleSql(withDedup: Boolean): String = {
    import graft.operators.{TextAnalysis => TA}
    val tail =
      if (withDedup)
        """,
          |dedup AS (
          |  SELECT doc_id, lang, bucket, quality,
          |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
          |      AS rn
          |  FROM clean)
          |SELECT doc_id, lang, bucket, quality FROM dedup WHERE rn = 1
          |ORDER BY doc_id""".stripMargin
      else
        """
          |SELECT doc_id, lang, bucket, quality FROM clean
          |ORDER BY doc_id""".stripMargin
    s"""WITH scored AS (
       |  SELECT doc_id, text, lang,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
       |    ${TA.qualitySqlExpr} AS quality
       |  FROM documents WHERE doc_id % 50 <> 0),
       |filtered AS (
       |  SELECT * FROM scored
       |  WHERE bucket <= ${TA.thresholdCaseSql} AND quality >= 0.5),
       |aug AS (
       |  SELECT doc_id, string_split(
       |    CASE WHEN doc_id % 37 = 0 THEN text || ' ${TA.probePhrase}'
       |         ELSE text END, ' ') AS ws
       |  FROM documents),
       |eg AS (
       |  SELECT DISTINCT
       |    array_to_string(ws[CAST(i AS BIGINT) : CAST(i+12 AS BIGINT)],
       |      ' ') AS gram
       |  FROM aug, LATERAL (SELECT unnest(range(1, len(ws)-11)) AS i) t
       |  WHERE doc_id % 50 = 0 AND len(ws) >= 13),
       |cg AS (
       |  SELECT DISTINCT f.doc_id,
       |    array_to_string(a.ws[CAST(i AS BIGINT) : CAST(i+12 AS BIGINT)],
       |      ' ') AS gram
       |  FROM filtered f JOIN aug a USING (doc_id),
       |    LATERAL (SELECT unnest(range(1, len(a.ws)-11)) AS i) t
       |  WHERE len(a.ws) >= 13),
       |contaminated AS (
       |  SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (gram)),
       |clean AS (
       |  SELECT * FROM filtered
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))$tail""".stripMargin
  }

  /** p12 — chunked range BACKFILL with crash-and-rerun idempotence: the
    * operational loop behind every reference reprocessing run
    * (scripts/main.py [from,to) dispatch at scale). The key range splits
    * into fixed chunks; each chunk writes its output then its _DONE
    * marker (marker-after-data — st13's discipline at the pipeline
    * layer), so a marker is proof the chunk completed. The query then
    * SIMULATES a crash — chunk 4000's marker vanishes and its directory
    * is left with torn partial output — and re-runs the backfill: the
    * resume must re-process EXACTLY that chunk (asserted), overwrite
    * replacing the torn files, and the assembled table must equal the
    * one-shot batch oracle. Chunks are driver-paced like the reference's
    * batch loop, but each chunk's work is one distributed job; at 100 TB
    * the chunk size is the memory/retry granularity knob.
    */
  def p12Backfill(spark: SparkSession, dir: String): DataFrame =
    p12BackfillAt(spark, dir, graft.Scratch.dir("p12_"))

  /** `root` is a parameter so the manifest RESUME branch is a real,
    * exercisable path (OrchestratorSpec runs two backfills against one
    * root and a corrupted-manifest case), not dead code behind a
    * fresh-per-call temp dir. */
  private[graft] def p12BackfillAt(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("value"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The chunk grid is PINNED for the lifetime of one backfill: width
    // and key ceiling are written to a run manifest at start and read
    // back on resume — recomputing them from the live table would shift
    // the grid if the table grew between crash and rerun, making old
    // _DONE markers cover different key ranges (silent skips/overlaps).
    // Rows above the pinned ceiling are a NEW backfill's work.
    val manifest = new org.apache.hadoop.fs.Path(s"$root/_MANIFEST")
    val (chunk, maxId) =
      if (fs.exists(manifest)) {
        val in = fs.open(manifest)
        val line = try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        // a manifest that exists but doesn't parse is NOT a first run —
        // silently regenerating the grid is exactly the skip/overlap
        // hazard the manifest prevents, so fail loudly instead
        line match {
          case s"$c,$m" if c.forall(_.isDigit) && m.forall(_.isDigit) &&
              c.nonEmpty && m.nonEmpty =>
            (c.toLong, m.toLong)
          case _ => throw new IllegalStateException(
            s"corrupt backfill manifest $manifest: '$line' — refusing to " +
              "re-derive the chunk grid; repair or remove the run dir")
        }
      } else {
        val m = ev.agg(max(col("event_id"))).head().getLong(0)
        // chunk size scales with the key range so the chunk COUNT (the
        // driver-paced job count) stays ~constant at any SF — at a real
        // deployment this is the retry-granularity knob, not a row count
        val c = math.max(2000L, m / 6)
        // temp-file + rename: the manifest appears atomically — a crash
        // mid-write leaves no half manifest to poison the resume
        val tmp = new org.apache.hadoop.fs.Path(s"$root/_MANIFEST.tmp")
        val out = fs.create(tmp, true)
        out.write(s"$c,$m".getBytes("UTF-8")); out.close()
        require(fs.rename(tmp, manifest) || fs.exists(manifest),
          s"could not publish backfill manifest $manifest")
        (c, m)
      }
    def marker(lo: Long) =
      new org.apache.hadoop.fs.Path(s"$root/chunk_$lo/_DONE")
    def runBackfill(): Long = {
      val todo = Iterator.iterate(0L)(_ + chunk).takeWhile(_ <= maxId)
        .filterNot(lo => fs.exists(marker(lo))).toSeq
      // chunks are independent (disjoint key ranges, separate dirs):
      // submit a few concurrently so the next chunk's tasks back-fill
      // executor slots freed by the current chunk's write tail instead
      // of leaving the cluster idle between driver-paced jobs (guide
      // §2.6 — overlap independent jobs). Bounded at 4 in flight: enough
      // to hide the tail, not enough to contend for executors. Each chunk
      // runs in its own job group, so a failed chunk cancels the others
      // instead of leaving them writing into whatever runs next.
      val sc = spark.sparkContext
      def group(lo: Long) = s"p12 $root chunk_$lo"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, todo.size.max(1)))
      val processed = new java.util.concurrent.atomic.AtomicLong(0L)
      try {
        todo.map { lo =>
          pool.submit(new Runnable {
            override def run(): Unit = {
              sc.setJobGroup(group(lo), s"p12 backfill chunk $lo",
                interruptOnCancel = true)
              try {
                ev.filter(col("event_id") >= lo && col("event_id") < lo + chunk)
                  .withColumn("chunk", lit(lo))
                  .write.mode("overwrite").parquet(s"$root/chunk_$lo/data")
                fs.create(marker(lo), true).close()
                processed.incrementAndGet(): Unit
              } finally sc.clearJobGroup()
            }
          })
        }.foreach(_.get())
      } catch {
        case e: Throwable =>
          // stop everything in flight before rethrowing: queued chunks
          // never start, running ones are interrupted and their jobs
          // cancelled — also a job submitted just as its thread was
          // interrupted (the second cancel) — and the query returns only
          // once the status tracker shows none of its jobs running
          pool.shutdownNow()
          def cancel(): Unit = todo.foreach(lo => sc.cancelJobGroup(group(lo)))
          cancel()
          pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES)
          cancel()
          val st = sc.statusTracker
          def running = todo.exists(lo => st.getJobIdsForGroup(group(lo))
            .exists(id => st.getJobInfo(id).exists(
              _.status == org.apache.spark.JobExecutionStatus.RUNNING)))
          val deadline = System.nanoTime() + 60L * 1000000000L
          while (running && System.nanoTime() < deadline) Thread.sleep(10)
          throw e
      } finally pool.shutdown()
      processed.get()
    }
    runBackfill()
    // crash simulation: the marker vanishes, torn partial output remains
    val cs = (maxId / 2 / chunk) * chunk // crash the midpoint chunk
    fs.delete(marker(cs), false)
    ev.filter(col("event_id") >= cs && col("event_id") < cs + chunk / 4)
      .withColumn("chunk", lit(cs))
      .write.mode("overwrite").parquet(s"$root/chunk_$cs/data")
    val reprocessed = runBackfill()
    require(reprocessed == 1,
      s"resume must re-run exactly the crashed chunk, ran $reprocessed")
    spark.read.parquet(s"$root/chunk_*/data").orderBy(col("event_id"))
  }

  val oracle: Map[String, String] = Map(
    // p12: the assembled backfill must equal the one-shot batch transform
    // — a lost chunk, surviving torn files, or a double-processed chunk
    // all break row counts or values
    "p12_backfill" ->
      """WITH c AS (
        |  SELECT GREATEST(2000, MAX(event_id) // 6) AS w FROM events)
        |SELECT event_id, user_id, value,
        |  (event_id // (SELECT w FROM c)) * (SELECT w FROM c) AS chunk
        |FROM events ORDER BY event_id""".stripMargin,
    "p11_curation_pipeline" -> curationOracleSql(withDedup = true),
    "p10_sql_pipeline" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        |  printf('%064x', l.l_partkey) AS part_u256,
        |  CAST(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
        |    * CAST(FLOOR(l.l_quantity) AS BIGINT) AS VARCHAR) AS product,
        |  o.o_orderdate
        |FROM lineitem l
        |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_quantity > 0
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
    "p09_dynamic_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 13 <> 0 THEN printf('%040x', doc_id) END
        |    AS src,
        |  CASE WHEN doc_id % 13 <> 0 THEN substring(text, 1, 40) END
        |    AS note,
        |  CASE WHEN doc_id % 13 <> 0 THEN doc_id % 5 END AS n_vals,
        |  CASE WHEN doc_id % 13 <> 0 THEN coalesce(array_to_string(
        |    [CAST(doc_id * 10 + x AS VARCHAR) FOR x IN range(doc_id % 5)],
        |    ','), '') END AS vals_csv
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p03_erc20_pipeline" ->
      """SELECT l_orderkey, l_linenumber,
        |  printf('%040x', l_partkey) AS from_addr,
        |  printf('%040x', l_suppkey) AS to_addr,
        |  CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
        |    AS amount,
        |  o_orderdate
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p06_event_decode" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber = 1 THEN printf('%040x', l_partkey) END
        |    AS owner,
        |  CASE WHEN l_linenumber = 1 THEN printf('%040x', l_suppkey) END
        |    AS spender,
        |  CASE WHEN l_linenumber = 1 THEN
        |    CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
        |  END AS value
        |FROM lineitem WHERE l_linenumber IN (1, 3)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p01_swaps_pipeline" ->
      """WITH swaps AS (
        |  SELECT event_id, user_id, ts, value AS amount, 'v1' AS variant
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT event_id, user_id, ts,
        |    CAST(json_extract_string(props, '$.k') AS DOUBLE) AS amount,
        |    'v2' AS variant
        |  FROM events WHERE event_type = 'purchase'),
        |matched AS (
        |  SELECT *,
        |    LEAD(amount) OVER w AS next_amount,
        |    LEAD(variant) OVER w AS next_variant
        |  FROM swaps
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |directed AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN variant = 'v1' THEN amount ELSE next_amount END AS in_amount,
        |    CASE WHEN variant = 'v1' THEN next_amount ELSE amount END AS out_amount
        |  FROM matched WHERE next_amount IS NOT NULL),
        |dict AS (SELECT user_id, COUNT(*) AS n_swaps FROM swaps GROUP BY user_id)
        |SELECT d.user_id, dict.n_swaps,
        |  CAST(SUM(CAST(d.in_amount AS DECIMAL(38,6))) AS DOUBLE) AS sum_in,
        |  CAST(SUM(CAST(d.out_amount AS DECIMAL(38,6))) AS DOUBLE) AS sum_out,
        |  COUNT(*) AS n_matched
        |FROM directed d JOIN dict USING (user_id)
        |GROUP BY d.user_id, dict.n_swaps
        |ORDER BY d.user_id""".stripMargin,
    "p02_vwap_pipeline" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec, value
        |  FROM events),
        |windowed AS (
        |  SELECT user_id, event_id, event_type, ts_sec, value,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS trail_sum,
        |    COUNT(value) OVER w AS trail_n
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
        |    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, ts_sec, quote,
        |  CAST(CAST(trail_sum / trail_n AS DECIMAL(38,9)) AS DOUBLE) AS vwap
        |FROM (
        |  SELECT *, 'SOL' AS quote FROM windowed WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT *, 'USD' AS quote FROM windowed WHERE event_type = 'purchase')
        |WHERE trail_sum > 100.0
        |ORDER BY quote, user_id, event_id""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_swaps_pipeline" -> (p01SwapsPipeline _),
    "p02_vwap_pipeline" -> (p02VwapPipeline _),
    "p03_erc20_pipeline" -> (p03Erc20Pipeline _),
    "p06_event_decode" -> (p06EventDecode _),
    "p09_dynamic_decode" -> (p09DynamicDecode _),
    "p10_sql_pipeline" -> (p10SqlPipeline _),
    "p11_curation_pipeline" -> (p11CurationPipeline _),
    "p12_backfill" -> (p12Backfill _)
  )
}
