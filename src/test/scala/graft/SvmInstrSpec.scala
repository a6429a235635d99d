package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SvmInstr
import graft.operators.SvmInstr._
import graft.functions.{Base58, VariantIndex}

/** The data-driven instruction-variant registry: anchor discriminator
  * derivation, single-pass multi-variant decode, typed null-fill for
  * fields a variant lacks, decoy exclusion, and the one-scan plan shape
  * (vs the reference's N filtered scans + vstack, raydium_swaps.py:236-420).
  */
class SvmInstrSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def le(v: Long, w: Int): Array[Byte] = {
    val b = new Array[Byte](w); var x = v; var i = 0
    while (i < w && i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
    b
  }

  test("anchor discriminator matches the public derivation") {
    // sha256("global:swap")[..8], independently computed
    val d = anchorDiscriminator("swap")
    val full = java.security.MessageDigest.getInstance("SHA-256")
      .digest("global:swap".getBytes("UTF-8"))
    assert(d.toSeq === full.take(8).toSeq)
    assert(d.length === 8)
  }

  test("six-variant single-pass decode with typed null-fill and decoys") {
    val amm = Base58.decode("675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8")
    val clmm = Base58.decode("CAMMCzo5YL8w4VFF8KVHrK22GGUsp5VTaW7grrKgrWqK")
    val memo = Base58.decode("MemoSq4gqABAXKb96qnH8TysNcWxMyWCqXgDLGmfcHr")
    val acct = Array.fill[Byte](32)(7)
    val rows = Seq(
      // amm_base_in: disc [9], amount_in=100, minimum_amount_out=5
      (1L, amm, Array[Byte](9) ++ le(100, 8) ++ le(5, 8), Seq(acct)),
      // clmm_v1: anchor(swap), amount=7, thresh=8, sqrt=12345 (u128), base_input=true
      (2L, clmm, anchorDiscriminator("swap") ++ le(7, 8) ++ le(8, 8) ++
        le(12345, 8) ++ le(0, 8) ++ le(1, 1), Seq(acct)),
      // memo decoy: must be dropped
      (3L, memo, Array[Byte](9) ++ le(1, 8) ++ le(2, 8), Seq(acct)),
      // amm program but unknown discriminator: dropped
      (4L, amm, Array[Byte](77) ++ le(1, 8) ++ le(2, 8), Seq(acct)),
      // amm_base_in but data too short for the layout: dropped (guarded)
      (5L, amm, Array[Byte](9) ++ le(100, 8), Seq(acct)))
      .toDF("id", "program_id", "data", "accounts")

    val out = decodeVariants(rows, raydiumRegistry, Seq("id"))
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))

    val r1 = out(0) // amm_base_in
    assert(r1.getString(1) === "amm_base_in")
    assert(r1.getLong(r1.fieldIndex("amount_in")) === 100L)
    assert(r1.getLong(r1.fieldIndex("minimum_amount_out")) === 5L)
    assert(r1.isNullAt(r1.fieldIndex("amount")))               // clmm-only
    assert(r1.isNullAt(r1.fieldIndex("sqrt_price_limit_x64")))
    assert(r1.isNullAt(r1.fieldIndex("is_base_input")))
    assert(r1.getAs[Array[Byte]]("payer").toSeq === acct.toSeq)

    val r2 = out(1) // clmm_v1
    assert(r2.getString(1) === "clmm_v1")
    assert(r2.isNullAt(r2.fieldIndex("amount_in")))
    assert(r2.getLong(r2.fieldIndex("amount")) === 7L)
    assert(r2.getLong(r2.fieldIndex("other_amount_threshold")) === 8L)
    assert(r2.getDecimal(r2.fieldIndex("sqrt_price_limit_x64"))
      .longValueExact === 12345L)
    assert(r2.getBoolean(r2.fieldIndex("is_base_input")) === true)
  }

  test("registry decode is one scan, no shuffle, no union") {
    val amm = Base58.decode("675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8")
    val df = Seq((1L, amm, Array[Byte](9) ++ le(1, 8) ++ le(2, 8),
      Seq(Array.fill[Byte](32)(1)))).toDF("id", "program_id", "data", "accounts")
    val plan = decodeVariants(df, raydiumRegistry, Seq("id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "decode must not shuffle")
    assert(!plan.contains("Union"), "decode must be single-pass, not N scans")
  }

  test("conflicting param types across variants are rejected") {
    val a = InstructionSignature("a", "11111111111111111111111111111111",
      Array[Byte](1), Seq(Param("x", BU64)))
    val b = InstructionSignature("b", "11111111111111111111111111111111",
      Array[Byte](2), Seq(Param("x", BU128)))
    val df = Seq((Array[Byte](0), Array[Byte](0), Seq.empty[Array[Byte]]))
      .toDF("program_id", "data", "accounts")
    intercept[IllegalArgumentException](
      decodeVariants(df, Seq(a, b), Nil))
  }

  test("token-transfer registry: both programs, both layouts, u8 decimals") {
    val tok = Base58.decode(SvmInstr.TokenProgram)
    val tok22 = Base58.decode(SvmInstr.Token2022Program)
    val accts = (1 to 4).map(i => Array.fill[Byte](32)(i.toByte))
    val rows = Seq(
      (1L, tok, Array[Byte](3) ++ le(500, 8), accts),          // transfer
      (2L, tok22, Array[Byte](3) ++ le(600, 8), accts),        // 2022 transfer
      (3L, tok, Array[Byte](12) ++ le(700, 8) ++ le(9, 1), accts), // checked
      (4L, tok22, Array[Byte](12) ++ le(800, 8) ++ le(6, 1), accts))
      .toDF("id", "program_id", "data", "accounts")
    val out = decodeVariants(rows, tokenTransferRegistry, Seq("id"))
      .orderBy("id").collect()
    assert(out.map(r => r.getString(1)).toSeq ===
      Seq("transfer", "transfer_2022", "transfer_checked",
        "transfer_checked_2022"))
    assert(out.map(_.getLong(out(0).fieldIndex("amount"))).toSeq ===
      Seq(500L, 600L, 700L, 800L))
    assert(out(0).isNullAt(out(0).fieldIndex("decimals"))) // plain transfer
    assert(out(2).getLong(out(2).fieldIndex("decimals")) === 9L)
    // checked layout aliases account 1 as mint; plain layout has no mint
    assert(out(0).isNullAt(out(0).fieldIndex("mint")))
    assert(out(2).getAs[Array[Byte]]("mint").toSeq ===
      Array.fill[Byte](32)(2).toSeq)
  }

  // ---- the variant_index kernel ----

  private val pidA = Array.fill[Byte](32)(1)
  private val pidB = Array.fill[Byte](32)(2)
  // rows 0 and 1 share a program id, and row 0's discriminator extends
  // row 1's: a payload starting [1, 2] matches both
  private val kernelRows = Seq(
    VariantIndex.Variant(pidA.toSeq, Seq[Byte](1, 2), 4),
    VariantIndex.Variant(pidA.toSeq, Seq[Byte](1), 2),
    VariantIndex.Variant(pidB.toSeq, Seq[Byte](7), 9))
  private val kernelCases: Seq[(String, Array[Byte], Array[Byte], Option[Int])] = Seq(
    ("both shared-id rows match: the first wins",
      pidA, Array[Byte](1, 2, 0, 0), Some(0)),
    ("only the second shared-id row matches", pidA, Array[Byte](1, 3), Some(1)),
    ("first row too short, second matches", pidA, Array[Byte](1, 2, 0), Some(1)),
    ("exact layout length", pidB, Array[Byte](7) ++ le(5, 8), Some(2)),
    ("payload shorter than the layout", pidB, Array[Byte](7) ++ le(5, 7), None),
    ("unknown program id", Array.fill[Byte](32)(9), Array[Byte](1, 2, 0, 0), None),
    ("right program, unknown discriminator", pidB, Array[Byte](8) ++ le(5, 8), None),
    ("empty payload", pidA, Array.emptyByteArray, None),
    ("null program id", null, Array[Byte](1, 2, 0, 0), None),
    ("null data", pidA, null, None))

  /** Evaluate variant_index over `kernelCases` with the given expression
    * factory mode on a conf local to this call. */
  private def kernelEval(mode: String): (String, Seq[Option[Int]]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types.BinaryType
    val conf = new SQLConf
    conf.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key, mode)
    SQLConf.withExistingConf(conf) {
      val proj = UnsafeProjection.create(Seq(VariantIndex(
        BoundReference(0, BinaryType, nullable = true),
        BoundReference(1, BinaryType, nullable = true), kernelRows)))
      proj.getClass.getSimpleName -> kernelCases.map { case (_, p, d, _) =>
        val out = proj(InternalRow(p, d))
        if (out.isNullAt(0)) None else Some(out.getInt(0))
      }
    }
  }

  test("variant_index: interpreted and codegen'd evaluation agree") {
    val (interpreted, viaInterpreter) = kernelEval("NO_CODEGEN")
    val (generated, viaCodegen) = kernelEval("CODEGEN_ONLY")
    assert(interpreted.startsWith("Interpreted"), interpreted)
    assert(!generated.startsWith("Interpreted"), generated)
    kernelCases.zip(viaInterpreter.zip(viaCodegen)).foreach {
      case ((what, _, _, want), (i, c)) =>
        assert(i === want, s"interpreted: $what")
        assert(c === want, s"codegen: $what")
    }
  }

  test("variant_index: of two rows sharing a program id, the first wins") {
    val a = InstructionSignature("a", SvmInstr.TokenProgram,
      Array[Byte](1), Seq(Param("amount", BU64)))
    val b = InstructionSignature("b", SvmInstr.TokenProgram,
      Array[Byte](1, 2), Seq(Param("flag", BU8)))
    val tok = Base58.decode(SvmInstr.TokenProgram)
    val rows = Seq(
      (1L, tok, Array[Byte](1, 2) ++ le(3, 7)),   // fits both: a
      (2L, tok, Array[Byte](1, 2, 4)))            // too short for a: b
      .toDF("id", "program_id", "data")
    val out = decodeVariants(rows, Seq(a, b), Seq("id")).orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("a", "b"))
    assert(out(0).getLong(out(0).fieldIndex("amount")) === (2L | (3L << 8)))
    assert(out(1).getLong(out(1).fieldIndex("flag")) === 4L)
  }

  test("variant_index: short payloads, unknown programs and nulls drop") {
    val amm = Base58.decode("675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8")
    val full = Array[Byte](9) ++ le(100, 8) ++ le(5, 8)
    val acct = Seq(Array.fill[Byte](32)(7))
    val rows = Seq[(Long, Array[Byte], Array[Byte], Seq[Array[Byte]])](
      (1L, amm, full, acct),                        // kept
      (2L, amm, full.take(full.length - 1), acct),  // one byte short
      (3L, Array.fill[Byte](32)(3), full, acct),    // unknown program id
      (4L, null, full, acct),                       // null program id
      (5L, amm, null, acct))                        // null data
      .toDF("id", "program_id", "data", "accounts")
    val out = decodeVariants(rows, raydiumRegistry, Seq("id")).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert(out(0).getString(1) === "amm_base_in")
  }
}
