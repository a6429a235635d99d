package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{le_long, le_decimal, le_from_long, u256_from_long,
  variant_index, Base58, VariantIndex}
import graft.sources.Tables

/** Data-driven N-variant SVM instruction decode.
  *
  * The reference hand-writes one split+select block per instruction
  * variant — raydium_swaps.py:236-420 carries SIX
  * `InstructionSignature(discriminator=…, params=[ParamInput(name, DynType)
  * …], accounts_names=[…])` declarations, six `starts_with` filters, and
  * six 19-column normalize-selects that null-fill the fields the variant
  * lacks, then vstacks. Adding a seventh variant means ~130 more lines.
  *
  * Here the variant table IS the program: an `InstructionSignature` row
  * declares (program id, discriminator prefix, Borsh field layout, account
  * aliases), and `decodeVariants` compiles the whole registry into ONE
  * projection — the `variant_index` kernel matches (program,
  * discriminator, layout length) once per row, and `swap_kind` plus each
  * superset column is a small CASE on that index that decodes the
  * matching variant's bytes or yields a typed null. One scan, zero
  * shuffle — where the reference (and a naive port) runs N filtered
  * scans and a union. At 100 TB of instruction data that is the
  * difference between reading the table once and reading it N times.
  *
  * The decode is whole-stage codegen'd, and it must stay under the JVM's
  * 8,000-byte huge-method limit: a generated method above it is never
  * JIT-compiled and runs in the bytecode interpreter. `ExplainAuditSpec`
  * ("decodeVariants callers: no generated method over the JIT limit")
  * compiles every codegen stage of p04, p05, p07 and p08 and guards it.
  */
object SvmInstr {

  // ---- Borsh field model (DynType analog) ----
  sealed trait BorshType { def width: Int; def dataType: DataType }
  case object BU8   extends BorshType { val width = 1;  val dataType: DataType = LongType }
  case object BU16  extends BorshType { val width = 2;  val dataType: DataType = LongType }
  case object BU32  extends BorshType { val width = 4;  val dataType: DataType = LongType }
  case object BU64  extends BorshType { val width = 8;  val dataType: DataType = LongType }
  case object BU128 extends BorshType { val width = 16; val dataType: DataType = DecimalType(38, 0) }
  case object BBool extends BorshType { val width = 1;  val dataType: DataType = BooleanType }
  /** FixedArray(U8, n) — an n-byte field (DynType.FixedArray, meteora's
    * 32-byte pool pubkey inside the CPI event payload). */
  final case class BBytesFixed(n: Int) extends BorshType {
    val width: Int = n; val dataType: DataType = BinaryType
  }

  final case class Param(name: String, typ: BorshType)

  /** One registry row ≙ one reference InstructionSignature.
    * `accountAliases` maps account-list position → output column name
    * (the reference's accounts_names + per-variant rename, e.g.
    * user_source_owner→payer, raydium_swaps.py:467-490). */
  final case class InstructionSignature(
      kind: String,
      programIdB58: String,
      discriminator: Array[Byte],
      params: Seq[Param],
      accountAliases: Seq[(Int, String)] = Nil) {
    lazy val programId: Array[Byte] = Base58.decode(programIdB58)
  }

  /** sha256("global:" + name).take(8) — the public anchor discriminator
    * derivation (orca_swaps.py:47 svm_anchor_discriminator). */
  def anchorDiscriminator(name: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256")
      .digest(s"global:$name".getBytes("UTF-8")).take(8)

  /** Compile the registry into a single-scan decode plan over
    * `instructions(programIdCol: binary, dataCol: binary, accountsCol:
    * array<binary>)`. Output: `passThrough ++ swap_kind ++` the superset
    * of all param names (first-appearance order) and account aliases;
    * unmatched rows are dropped, fields a variant lacks are typed nulls.
    */
  def decodeVariants(instructions: DataFrame,
      registry: Seq[InstructionSignature],
      passThrough: Seq[String],
      programIdCol: String = "program_id",
      dataCol: String = "data",
      accountsCol: String = "accounts"): DataFrame = {
    require(registry.nonEmpty, "empty registry")
    require(registry.map(_.kind).distinct.size == registry.size,
      "duplicate variant kinds")

    // superset param columns, first-appearance order; widths → offsets
    val paramType = scala.collection.mutable.LinkedHashMap[String, DataType]()
    registry.foreach(_.params.foreach { p =>
      paramType.get(p.name) match {
        case Some(dt) => require(dt == p.typ.dataType,
          s"param ${p.name} has conflicting types across variants")
        case None => paramType(p.name) = p.typ.dataType
      }
    })
    val accountType = scala.collection.mutable.LinkedHashMap[String, DataType]()
    registry.foreach(_.accountAliases.foreach { case (_, n) =>
      accountType(n) = BinaryType })
    require(paramType.keySet.intersect(accountType.keySet).isEmpty,
      "param/account name collision")

    // where a variant keeps a param: (byte offset, Borsh type)
    def paramAt(sig: InstructionSignature, name: String): Option[(Int, BorshType)] =
      sig.params.zip(sig.params.scanLeft(sig.discriminator.length)(_ + _.typ.width))
        .collectFirst { case (p, off) if p.name == name => (off, p.typ) }

    def decodeParam(off: Int, typ: BorshType): Column = typ match {
      case BU128 => le_decimal(col(dataCol), off, 16)
      case BBool => le_long(col(dataCol), off, 1) =!= lit(0L)
      case BBytesFixed(n) => substring(col(dataCol), off + 1, n)
      case t     => le_long(col(dataCol), off, t.width)
    }

    // The match runs once per row, as the variant index; each output
    // column is a CASE on that integer with one branch per distinct way
    // the variants read it (a field every variant reads alike needs no
    // CASE) — which keeps the generated code under the JIT limit.
    val variant = col(VariantCol)
    def caseOn[K](name: String, dt: DataType,
        key: InstructionSignature => Option[K])(decode: K => Column): Column = {
      val keyed = registry.zipWithIndex.flatMap { case (s, i) => key(s).map(_ -> i) }
      val branches = keyed.map(_._1).distinct.map(k =>
        k -> keyed.collect { case (`k`, i) => i })
      (branches match {
        case Seq((k, all)) if all.size == registry.size => decode(k)
        case _ => branches.foldRight(lit(null).cast(dt)) {
          case ((k, is), acc) => when(variant.isin(is: _*), decode(k)).otherwise(acc)
        }
      }).as(name)
    }

    val kindCol = typedLit(registry.map(_.kind)).apply(variant).as("swap_kind")
    val paramCols = paramType.toSeq.map { case (n, dt) =>
      caseOn(n, dt, paramAt(_, n))((decodeParam _).tupled)
    }
    val accountCols = accountType.toSeq.map { case (n, dt) =>
      caseOn(n, dt, _.accountAliases.collectFirst { case (i, `n`) => i })(
        i => element_at(col(accountsCol), i + 1))
    }

    val variants = registry.map(sig => VariantIndex.Variant(
      sig.programId.toSeq, sig.discriminator.toSeq,
      sig.discriminator.length + sig.params.map(_.typ.width).sum))
    instructions
      .withColumn(VariantCol,
        variant_index(col(programIdCol), col(dataCol), variants))
      .filter(variant.isNotNull)
      .select(passThrough.map(col) ++ (kindCol +: (paramCols ++ accountCols)): _*)
  }

  private val VariantCol = "__variant"

  // ---- the raydium 6-variant registry (raydium_swaps.py:44-234) ----

  private val AmmProgram  = "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8"
  private val ClmmProgram = "CAMMCzo5YL8w4VFF8KVHrK22GGUsp5VTaW7grrKgrWqK"
  private val CpProgram   = "CPMMoo8L3F4NbTegBCKVNunggL7H1ZpdTHKxQB5qKP1C"
  private val MemoProgramV2 = "MemoSq4gqABAXKb96qnH8TysNcWxMyWCqXgDLGmfcHr"

  val raydiumRegistry: Seq[InstructionSignature] = {
    val clmmParams = Seq(Param("amount", BU64),
      Param("other_amount_threshold", BU64),
      Param("sqrt_price_limit_x64", BU128), Param("is_base_input", BBool))
    Seq(
      InstructionSignature("amm_base_in", AmmProgram, Array[Byte](9),
        Seq(Param("amount_in", BU64), Param("minimum_amount_out", BU64)),
        Seq(0 -> "payer")),
      InstructionSignature("amm_base_out", AmmProgram, Array[Byte](11),
        Seq(Param("max_amount_in", BU64), Param("amount_out", BU64)),
        Seq(0 -> "payer")),
      InstructionSignature("clmm_v1", ClmmProgram,
        anchorDiscriminator("swap"), clmmParams, Seq(0 -> "payer")),
      InstructionSignature("clmm_v2", ClmmProgram,
        anchorDiscriminator("swap_v2"), clmmParams, Seq(0 -> "payer")),
      InstructionSignature("cp_swap_base_input", CpProgram,
        anchorDiscriminator("swap_base_input"),
        Seq(Param("amount_in", BU64), Param("minimum_amount_out", BU64)),
        Seq(0 -> "payer")),
      InstructionSignature("cp_swap_base_output", CpProgram,
        anchorDiscriminator("swap_base_output"),
        Seq(Param("max_amount_in", BU64), Param("amount_out", BU64)),
        Seq(0 -> "payer")))
  }

  /** p04 — raydium_swaps twin: events are re-encoded as real Borsh-shaped
    * instruction payloads (discriminator prefix + LE fields) across all 6
    * variants plus memo-program decoy rows, then decoded back through the
    * registry. Oracle recomputes the fields arithmetically — agreement
    * proves encode∘decode is the identity for every variant layout. */
  def p04RaydiumPipeline(spark: SparkSession, dir: String): DataFrame = {
    // part-sort the narrow source, not the decoded output: the decode is
    // an order-preserving projection+filter, so sorting first gives the
    // same part-ordered result with the variant decode run exactly once —
    // and the LOCAL sort needs no exchange at all, where a global orderBy
    // would add a sampling scan plus a full shuffle of the fact source
    val e = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("value"))
      .sortWithinPartitions(col("event_id"))
    val v = pmod(col("event_id"), lit(6))
    val amt = floor(col("value") * 100).cast("long")
    val disc: Int => Array[Byte] = {
      case 0 => Array[Byte](9)
      case 1 => Array[Byte](11)
      case 2 => anchorDiscriminator("swap")
      case 3 => anchorDiscriminator("swap_v2")
      case 4 => anchorDiscriminator("swap_base_input")
      case _ => anchorDiscriminator("swap_base_output")
    }
    val twoField: Int => Column = i =>
      concat(lit(disc(i)), le_from_long(amt, 8),
        le_from_long(col("event_id"), 8))
    val clmmField: Int => Column = i =>
      concat(lit(disc(i)), le_from_long(amt, 8),
        le_from_long(col("event_id"), 8),
        le_from_long(col("event_id") * 1000000L + 7L, 8),
        lit(Array.fill[Byte](8)(0)), // u128 high half
        le_from_long((pmod(col("event_id"), lit(2)) === 0).cast("long"), 1))
    val data = when(v === 0, twoField(0)).when(v === 1, twoField(1))
      .when(v === 2, clmmField(2)).when(v === 3, clmmField(3))
      .when(v === 4, twoField(4)).otherwise(twoField(5))
    val program = when(pmod(col("event_id"), lit(13)) === 0,
        lit(Base58.decode(MemoProgramV2)))          // decoys → dropped
      .when(v.isin(0, 1), lit(Base58.decode(AmmProgram)))
      .when(v.isin(2, 3), lit(Base58.decode(ClmmProgram)))
      .otherwise(lit(Base58.decode(CpProgram)))
    val instructions = e.select(col("event_id"), program.as("program_id"),
      data.as("data"), array(u256_from_long(col("user_id"))).as("accounts"))

    decodeVariants(instructions, raydiumRegistry, passThrough = Seq("event_id"))
      .withColumn("sqrt_price_limit_x64",
        col("sqrt_price_limit_x64").cast("long"))
      // nullable booleans round-trip asymmetrically through the two
      // engines' dataframe readers; 0/1/null BIGINT is portable
      .withColumn("is_base_input", col("is_base_input").cast("long"))
      .withColumn("payer", lower(hex(col("payer"))))
  }

  // ---- orca_metadata twin (orca_metadata.py:36-100, 236-238) ----

  private val WhirlpoolProgram = "whirLbMiicVdio4qvUfM5KAg6Ct8VwpYzGff3uctyCc"

  /** initialize_pool v1/v2 — the reference's two InstructionSignatures
    * (orca_metadata.py:37-99): v1 carries whirlpool_bump u8 + tick_spacing
    * u16 + initial_sqrt_price u128 with whirlpool at account 4; v2 drops
    * the bump and inserts token badges, shifting whirlpool to account 6. */
  val orcaPoolInitRegistry: Seq[InstructionSignature] = Seq(
    InstructionSignature("pool_init_v1", WhirlpoolProgram,
      anchorDiscriminator("initialize_pool"),
      Seq(Param("whirlpool_bump", BU8), Param("tick_spacing", BU16),
        Param("initial_sqrt_price", BU128)),
      Seq(1 -> "token_mint_a", 2 -> "token_mint_b", 4 -> "whirlpool")),
    InstructionSignature("pool_init_v2", WhirlpoolProgram,
      anchorDiscriminator("initialize_pool_v2"),
      Seq(Param("tick_spacing", BU16), Param("initial_sqrt_price", BU128)),
      Seq(1 -> "token_mint_a", 2 -> "token_mint_b", 6 -> "whirlpool")))

  /** p05 — orca_metadata twin: pool-init decode (both variants through
    * the registry) + the two enrich joins the reference runs
    * (orca_metadata.py:236-238 — transactions on (block_slot,
    * transaction_index), blocks on block_slot) as ONE fused plan. The
    * instruction stream is synthesized from lineitem; transactions/blocks
    * twins carry a signature / (height, timestamp) respectively; the
    * oracle recomputes everything arithmetically. */
  // memo for p05's staged bucket table — see Writers.stageBucketed
  private val p05Staged =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  def p05OrcaMetadata(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // JOIN-FIRST, DECODE-ABOVE, STAGE-ONCE (round 11, the sf100 ENOSPC
    // fix): both enrich joins run over the FIVE-COLUMN lineitem slice,
    // and the payload synthesis + registry decode sit ABOVE the joins —
    // so the wide fact (a 7×u256 accounts array + 96 B of mint/pool
    // keys per row) exists only in the final projection and NEVER
    // enters an exchange or an SMJ sort. The old decode-then-join plan
    // moved the wide rows through both (shuffle + sort spill ≈ 2× the
    // fact on scratch — >55 GB at sf100, ENOSPC on a 52 GB sandbox).
    // Two optimizer traps made the cheap plan need explicit staging:
    //  - a narrow pre-decode sortWithinPartitions is DROPPED by
    //    EliminateSorts under a join, silently reverting to a wide SMJ
    //    sort — joining first makes the narrow sort structural;
    //  - the fact exchange cannot be SHARED between the join's left
    //    side and the transactions dedupe by ReusedExchange, because
    //    column pruning specializes each branch's exchange subtree —
    //    measured: two full fact shuffles + spills still ENOSPC'd a
    //    46 GB scratch at sf100.
    //  - localCheckpoint staging was tried too: LogicalRDD comes back
    //    with UnknownPartitioning under AQE, so every consumer
    //    re-shuffles the staged blocks — pure overhead.
    // So the clustered slice is staged ONCE as a k04-style bucketed +
    // (slot, idx)-sorted managed table: the bucketed scan ADVERTISES
    // hash(slot) partitioning and the per-bucket sort, which satisfies
    // the dedup's (slot, idx) clustering AND both joins (a subset
    // partitioning satisfies the wider clustering) AND the SMJ sort —
    // after the one staging write the fact never moves or sorts again.
    // Semantics are unchanged: synthesis+decode is a deterministic
    // per-row projection of lineitem columns carried through the left
    // joins, and p05's payloads always match one of the two registry
    // variants, so decoding above the joins filters nothing the
    // decode-below plan would have dropped.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val src = graft.sinks.Writers.stageBucketed(spark,
      s"${System.identityHashCode(spark)}|$dir", "graft_p05_src",
      p05Staged, "block_slot", Seq("block_slot", "transaction_index")) {
      t.lineitem.select(
        col("l_orderkey").as("block_slot"),
        col("l_linenumber").as("transaction_index"),
        col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    }

    // distinct: the synthetic lineitem repeats (orderkey, linenumber)
    // pairs, and a transaction twin must be unique per key or the left
    // join fans out. Dedupe on the KEYS only, derive the signature
    // after — hashing 2 string-casts per surviving row, not per input
    // row. Reads the staged clustering: zero exchanges here.
    val transactions = src.select(
        col("block_slot"), col("transaction_index"))
      .dropDuplicates("block_slot", "transaction_index")
      .withColumn("transaction_signature",
        md5(concat(col("block_slot").cast("string"), lit(":"),
          col("transaction_index").cast("string"))))
    // no broadcast hint on blocks: it maps to a FACT table here (one row
    // per order), so forcing a broadcast would collect the whole side on
    // the driver at scale. AQE converts the join to broadcast at runtime
    // whenever the side is actually small — the scale-safe default.
    val blocks = t.orders.select(
      col("o_orderkey").as("block_slot"),
      col("o_custkey").as("block_height"),
      col("o_orderdate").as("block_date"))

    // Part-sorted output with NO sort of the wide rows: the first
    // sort-merge join sorts both NARROW sides on exactly (slot, idx);
    // the second requires only (slot), which that order satisfies, and
    // a left-outer merge emits rows in streamed-side order — so every
    // hash(slot) partition leaves the joins physically sorted by
    // (slot, idx), and the synthesis/decode projection above preserves
    // it. An explicit orderBy on top costs 2× the query (the range
    // exchange's RangePartitioner sampling job re-executes the whole
    // join lineage to pick bounds: joins 41 s → +orderBy 80 s at
    // sf10). This is the ClickHouse MergeTree contract the reference
    // writes into (ORDER BY sorts within parts, never globally); the
    // gate comparator is row-order-insensitive.
    val joined = src
      .join(transactions, Seq("block_slot", "transaction_index"), "left")
      .join(blocks.repartition(parts, col("block_slot")),
        Seq("block_slot"), "left")

    // synthesis + registry decode, ABOVE the joins
    val v1 = pmod(col("block_slot"), lit(2)) === 0
    val tick = pmod(col("l_partkey"), lit(1000))
    val price = floor(col("l_extendedprice") * 1000).cast("long")
    val u128le: Column => Column = c =>
      concat(le_from_long(c, 8), lit(Array.fill[Byte](8)(0)))
    val data = when(v1,
        concat(lit(anchorDiscriminator("initialize_pool")),
          le_from_long(pmod(col("transaction_index"), lit(256)).cast("long"), 1),
          le_from_long(tick.cast("long"), 2), u128le(price)))
      .otherwise(
        concat(lit(anchorDiscriminator("initialize_pool_v2")),
          le_from_long(tick.cast("long"), 2), u128le(price)))
    val filler = u256_from_long(lit(0L))
    val whirlpool =
      u256_from_long(col("block_slot") * 10 + col("transaction_index"))
    val instructions = joined.select(
      col("block_slot"), col("transaction_index"),
      col("transaction_signature"), col("block_height"), col("block_date"),
      lit(Base58.decode(WhirlpoolProgram)).as("program_id"),
      data.as("data"),
      array(filler, u256_from_long(col("l_partkey")),
        u256_from_long(col("l_suppkey")), filler, whirlpool, filler,
        whirlpool).as("accounts"))

    decodeVariants(instructions, orcaPoolInitRegistry,
        passThrough = Seq("block_slot", "transaction_index",
          "transaction_signature", "block_height", "block_date"))
      .withColumn("version",
        when(col("swap_kind") === "pool_init_v1", 1L).otherwise(2L))
      .select(col("block_slot"), col("transaction_index"), col("version"),
        col("whirlpool_bump"), col("tick_spacing"),
        col("initial_sqrt_price").cast("long").as("initial_sqrt_price"),
        lower(hex(col("token_mint_a"))).as("token_mint_a"),
        lower(hex(col("token_mint_b"))).as("token_mint_b"),
        lower(hex(col("whirlpool"))).as("whirlpool"),
        col("transaction_signature"), col("block_height"), col("block_date"))
  }

  // ---- shared token-transfer signatures (common_signatures.py) ----

  val TokenProgram = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
  val Token2022Program = "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb"

  /** The transfer / transfer_checked pair every swap pipeline matches
    * against (common_signatures.py:7-46), declared for both the classic
    * token program and token-2022 — the reference ORs the two program
    * ids; here that's two registry rows per layout. */
  val tokenTransferRegistry: Seq[InstructionSignature] = {
    def transfer(kind: String, program: String) =
      InstructionSignature(kind, program, Array[Byte](3),
        Seq(Param("amount", BU64)),
        Seq(0 -> "source", 1 -> "destination", 2 -> "authority"))
    def checked(kind: String, program: String) =
      InstructionSignature(kind, program, Array[Byte](12),
        Seq(Param("amount", BU64), Param("decimals", BU8)),
        Seq(0 -> "source", 1 -> "mint", 2 -> "destination", 3 -> "authority"))
    Seq(transfer("transfer", TokenProgram),
      transfer("transfer_2022", Token2022Program),
      checked("transfer_checked", TokenProgram),
      checked("transfer_checked_2022", Token2022Program))
  }

  // ---- meteora twin (meteora_swaps.py:34-110) ----

  private val MeteoraCpAmm = "cpamdpZCGKUy5JxQXB4dcpGPiikHawvSWAd6mEn1sGG"

  private def hexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** The meteora pair: a plain anchor swap instruction AND a 16-byte-
    * discriminator CPI *event* payload (meteora_swaps.py:35-36) whose
    * layout opens with a FixedArray(U8,32) pool pubkey — a field shape
    * the registry expresses as BBytesFixed(32). Same decode machinery,
    * third registry. */
  val meteoraRegistry: Seq[InstructionSignature] = Seq(
    InstructionSignature("cp_amm_swap", MeteoraCpAmm,
      anchorDiscriminator("swap"),
      Seq(Param("amount_in", BU64), Param("minimum_amount_out", BU64)),
      Seq(0 -> "payer")),
    InstructionSignature("cp_amm_swap_cpi", MeteoraCpAmm,
      hexBytes("e445a52e51cb9a1d1b3c15d58aaabb93"),
      Seq(Param("pool", BBytesFixed(32)), Param("b_to_a", BBool),
        Param("has_referral", BBool), Param("amount_in", BU64),
        Param("minimum_amount_out", BU64), Param("output_amount", BU64),
        Param("next_sqrt_price", BU128), Param("lp_fee", BU64),
        Param("protocol_fee", BU64), Param("partner_fee", BU64),
        Param("referral_fee", BU64), Param("actual_amount_in", BU64),
        Param("current_timestamp", BU64))))

  /** p07 — meteora_swaps twin: both variants (instruction + CPI event
    * layout) synthesized from events and decoded through the registry;
    * the CPI branch exercises the fixed-bytes field and the 16-byte
    * discriminator. */
  def p07MeteoraPipeline(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val v1 = pmod(col("event_id"), lit(2)) === 0
    val amt = floor(col("value") * 100).cast("long")
    val data = when(v1,
        concat(lit(anchorDiscriminator("swap")), le_from_long(amt, 8),
          le_from_long(col("event_id"), 8)))
      .otherwise(concat(
        lit(hexBytes("e445a52e51cb9a1d1b3c15d58aaabb93")),
        u256_from_long(col("user_id")), // pool pubkey bytes (BE fake)
        le_from_long((pmod(col("event_id"), lit(3)) === 0).cast("long"), 1),
        le_from_long((pmod(col("event_id"), lit(5)) === 0).cast("long"), 1),
        le_from_long(amt, 8), le_from_long(col("event_id"), 8),
        le_from_long(col("event_id") * 3, 8),
        le_from_long(col("event_id") * 1000000L + 7L, 8),
        lit(Array.fill[Byte](8)(0)),
        le_from_long(pmod(col("event_id"), lit(100)).cast("long"), 8),
        le_from_long(pmod(col("event_id"), lit(10)).cast("long"), 8),
        le_from_long(pmod(col("event_id"), lit(7)).cast("long"), 8),
        le_from_long(pmod(col("event_id"), lit(11)).cast("long"), 8),
        le_from_long(amt + 1, 8),
        le_from_long(col("event_id") + 1700000000L, 8)))
    val instructions = e.select(col("event_id"),
      lit(Base58.decode(MeteoraCpAmm)).as("program_id"), data.as("data"),
      array(u256_from_long(col("user_id"))).as("accounts"))
    decodeVariants(instructions, meteoraRegistry, passThrough = Seq("event_id"))
      // local sort BEFORE the wide hex projections (order-preserving):
      // no exchange, no sampling re-execution of the decode
      .sortWithinPartitions(col("event_id"))
      .select(col("event_id"), col("swap_kind"), col("amount_in"),
        col("minimum_amount_out"),
        lower(hex(col("pool"))).as("pool"),
        col("b_to_a").cast("long").as("b_to_a"),
        col("has_referral").cast("long").as("has_referral"),
        col("output_amount"),
        col("next_sqrt_price").cast("long").as("next_sqrt_price"),
        col("lp_fee"), col("protocol_fee"), col("partner_fee"),
        col("referral_fee"), col("actual_amount_in"),
        col("current_timestamp"),
        lower(hex(col("payer"))).as("payer"))
      .orderBy(col("event_id"))
  }

  /** p08 — the full binary-level swap→transfer composite every reference
    * swap pipeline runs (orca_swaps.py:402-436, raydium_swaps.py same
    * shape): ONE mixed instruction stream carries swap instructions and
    * token-transfer instructions at adjacent instruction indexes; both
    * registries decode in a single combined pass (one scan — the
    * combined registry is just raydium-AMM rows ++ token-transfer rows),
    * then each swap picks up its +1-adjacent transfer with a lead()
    * window (one shuffle) instead of the reference's self-join. Missing
    * transfers (every 7th event) yield found_transfer = 0 with null
    * amounts — the reference's found_input/found_output contract. */
  def p08SwapTransferMatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).events
    val v1 = pmod(col("event_id"), lit(2)) === 0
    val amt = floor(col("value") * 100).cast("long")
    val swapsSrc = e.select(col("event_id"), col("user_id"),
      (col("event_id") * 2).as("instruction_index"),
      lit(Base58.decode(AmmProgram)).as("program_id"),
      when(v1, concat(lit(Array[Byte](9)), le_from_long(amt, 8),
          le_from_long(col("event_id"), 8)))
        .otherwise(concat(lit(Array[Byte](11)), le_from_long(amt, 8),
          le_from_long(col("event_id"), 8))).as("data"),
      array(u256_from_long(col("user_id"))).as("accounts"))
    val transfersSrc = e.filter(pmod(col("event_id"), lit(7)) =!= 0)
      .select(col("event_id"), col("user_id"),
        (col("event_id") * 2 + 1).as("instruction_index"),
        lit(Base58.decode(TokenProgram)).as("program_id"),
        concat(lit(Array[Byte](3)),
          le_from_long(floor(col("value") * 10).cast("long"), 8)).as("data"),
        array(u256_from_long(col("user_id")),
          u256_from_long(col("user_id") + 1),
          u256_from_long(lit(0L))).as("accounts"))

    // select by kind, not position — registry order is not a contract
    val wanted = Set("amm_base_in", "amm_base_out", "transfer")
    val combined =
      (raydiumRegistry ++ tokenTransferRegistry).filter(s => wanted(s.kind))
    val decoded = decodeVariants(
      swapsSrc.unionByName(transfersSrc), combined,
      passThrough = Seq("event_id", "user_id", "instruction_index"))

    val w = Window.partitionBy(col("user_id")).orderBy(col("instruction_index"))
    decoded
      .withColumn("next_kind", lead(col("swap_kind"), 1).over(w))
      .withColumn("next_idx", lead(col("instruction_index"), 1).over(w))
      .withColumn("next_amount", lead(col("amount"), 1).over(w))
      .filter(col("swap_kind").isin("amm_base_in", "amm_base_out"))
      .withColumn("found_transfer",
        coalesce((col("next_kind") === "transfer" &&
          col("next_idx") === col("instruction_index") + 1).cast("long"),
          lit(0L)))
      .select(col("event_id"), col("swap_kind"), col("amount_in"),
        col("minimum_amount_out"), col("max_amount_in"), col("amount_out"),
        when(col("found_transfer") === 1, col("next_amount"))
          .as("transfer_amount"),
        col("found_transfer"))
      // part-sorted within the window's hash(user_id) partitions: a
      // global orderBy would re-execute decode+window in its sampling
      // pass and reshuffle the full output
      .sortWithinPartitions(col("event_id"))
  }

  val oracle: Map[String, String] = Map(
    "p08_swap_transfer_match" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN 'amm_base_in'
        |    ELSE 'amm_base_out' END AS swap_kind,
        |  CASE WHEN event_id % 2 = 0
        |    THEN CAST(FLOOR(value * 100) AS BIGINT) END AS amount_in,
        |  CASE WHEN event_id % 2 = 0 THEN event_id
        |    END AS minimum_amount_out,
        |  CASE WHEN event_id % 2 = 1
        |    THEN CAST(FLOOR(value * 100) AS BIGINT) END AS max_amount_in,
        |  CASE WHEN event_id % 2 = 1 THEN event_id END AS amount_out,
        |  CASE WHEN event_id % 7 <> 0
        |    THEN CAST(FLOOR(value * 10) AS BIGINT) END AS transfer_amount,
        |  CAST(event_id % 7 <> 0 AS BIGINT) AS found_transfer
        |FROM events ORDER BY event_id""".stripMargin,
    "p07_meteora_pipeline" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN 'cp_amm_swap'
        |    ELSE 'cp_amm_swap_cpi' END AS swap_kind,
        |  CAST(FLOOR(value * 100) AS BIGINT) AS amount_in,
        |  event_id AS minimum_amount_out,
        |  CASE WHEN event_id % 2 = 1 THEN printf('%064x', user_id)
        |    END AS pool,
        |  CASE WHEN event_id % 2 = 1
        |    THEN CAST(event_id % 3 = 0 AS BIGINT) END AS b_to_a,
        |  CASE WHEN event_id % 2 = 1
        |    THEN CAST(event_id % 5 = 0 AS BIGINT) END AS has_referral,
        |  CASE WHEN event_id % 2 = 1 THEN event_id * 3 END AS output_amount,
        |  CASE WHEN event_id % 2 = 1 THEN event_id * 1000000 + 7
        |    END AS next_sqrt_price,
        |  CASE WHEN event_id % 2 = 1 THEN event_id % 100 END AS lp_fee,
        |  CASE WHEN event_id % 2 = 1 THEN event_id % 10 END AS protocol_fee,
        |  CASE WHEN event_id % 2 = 1 THEN event_id % 7 END AS partner_fee,
        |  CASE WHEN event_id % 2 = 1 THEN event_id % 11 END AS referral_fee,
        |  CASE WHEN event_id % 2 = 1
        |    THEN CAST(FLOOR(value * 100) AS BIGINT) + 1
        |    END AS actual_amount_in,
        |  CASE WHEN event_id % 2 = 1 THEN event_id + 1700000000
        |    END AS current_timestamp,
        |  CASE WHEN event_id % 2 = 0 THEN printf('%064x', user_id)
        |    END AS payer
        |FROM events ORDER BY event_id""".stripMargin,
    "p05_orca_metadata" ->
      """SELECT l_orderkey AS block_slot, l_linenumber AS transaction_index,
        |  CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 2 END AS version,
        |  CASE WHEN l_orderkey % 2 = 0 THEN l_linenumber % 256
        |    END AS whirlpool_bump,
        |  l_partkey % 1000 AS tick_spacing,
        |  CAST(FLOOR(l_extendedprice * 1000) AS BIGINT)
        |    AS initial_sqrt_price,
        |  printf('%064x', l_partkey) AS token_mint_a,
        |  printf('%064x', l_suppkey) AS token_mint_b,
        |  printf('%064x', l_orderkey * 10 + l_linenumber) AS whirlpool,
        |  md5(l_orderkey || ':' || l_linenumber) AS transaction_signature,
        |  o_custkey AS block_height, o_orderdate AS block_date
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY block_slot, transaction_index""".stripMargin,
    "p04_raydium_pipeline" ->
      """SELECT event_id,
        |  CASE event_id % 6
        |    WHEN 0 THEN 'amm_base_in' WHEN 1 THEN 'amm_base_out'
        |    WHEN 2 THEN 'clmm_v1'     WHEN 3 THEN 'clmm_v2'
        |    WHEN 4 THEN 'cp_swap_base_input' ELSE 'cp_swap_base_output'
        |  END AS swap_kind,
        |  CASE WHEN event_id % 6 IN (0, 4)
        |    THEN CAST(FLOOR(value * 100) AS BIGINT) END AS amount_in,
        |  CASE WHEN event_id % 6 IN (0, 4) THEN event_id
        |    END AS minimum_amount_out,
        |  CASE WHEN event_id % 6 IN (1, 5)
        |    THEN CAST(FLOOR(value * 100) AS BIGINT) END AS max_amount_in,
        |  CASE WHEN event_id % 6 IN (1, 5) THEN event_id END AS amount_out,
        |  CASE WHEN event_id % 6 IN (2, 3)
        |    THEN CAST(FLOOR(value * 100) AS BIGINT) END AS amount,
        |  CASE WHEN event_id % 6 IN (2, 3) THEN event_id
        |    END AS other_amount_threshold,
        |  CASE WHEN event_id % 6 IN (2, 3) THEN event_id * 1000000 + 7
        |    END AS sqrt_price_limit_x64,
        |  CASE WHEN event_id % 6 IN (2, 3)
        |    THEN CAST(event_id % 2 = 0 AS BIGINT) END AS is_base_input,
        |  printf('%064x', user_id) AS payer
        |FROM events WHERE event_id % 13 <> 0
        |ORDER BY event_id""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p04_raydium_pipeline" -> (p04RaydiumPipeline _),
    "p05_orca_metadata" -> (p05OrcaMetadata _),
    "p07_meteora_pipeline" -> (p07MeteoraPipeline _),
    "p08_swap_transfer_match" -> (p08SwapTransferMatch _)
  )
}
