package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Base58, Keccak}
import graft.functions.{ExprImpl, U256ArithImpl}

/** Known-vector tests for the pure JVM implementations behind the custom
  * Catalyst expressions. Vectors from the public Keccak/FIPS-202 spec, the
  * ERC-20 standard, and the Bitcoin base58 reference vectors.
  */
class FunctionsSpec extends AnyFunSuite {
  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("keccak256 empty input") {
    assert(hex(Keccak.hash256(Array.emptyByteArray)) ===
      "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
  }

  test("keccak256 'abc'") {
    assert(hex(Keccak.hash256("abc".getBytes("UTF-8"))) ===
      "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")
  }

  test("keccak256 ERC-20 Transfer topic0") {
    assert(hex(Keccak.hash256(
      "Transfer(address,address,uint256)".getBytes("UTF-8"))) ===
      "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
  }

  test("sponge multi-block absorb vs SHA3-256 vectors (padding boundaries)") {
    // Same sponge as keccak256, NIST padding; vectors from hashlib.sha3_256.
    val want = Map(
      0 -> "a7ffc6f8bf1ed76651c14756a061d662f580ff4de43b49fa82d80a4b80f8434a",
      135 -> "8094bb53c44cfb1e67b7c30447f9a1c33696d2463ecc1d9c92538913392843c9",
      136 -> "3fc5559f14db8e453a0a3091edbd2bc25e11528d81c66fa570a4efdcc2695ee1",
      137 -> "f8d6846cedd2ccfadf15c5879ef95af724d799eed7391fb1c91f95344e738614",
      272 -> "a490357b9b3fb39d0a89a117734e5b020b1f33c7bf3fa3575c396425432003d3")
    want.foreach { case (n, h) =>
      assert(hex(Keccak.sha3_256(Array.fill[Byte](n)('a'.toByte))) === h,
        s"n=$n")
    }
  }

  test("eip55 checksum matches the four official EIP-55 test vectors") {
    val spark = SparkSessionFixture.spark
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val vectors = Seq(
      "5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed",
      "fB6916095ca1df60bB79Ce92cE3Ea74c37c5d359",
      "dbF03B407c01E7cD3CBea99509d93f8DDDC8C6FB",
      "D1220A0cf47c7B9Be7A2E6BA89F429762e7b9aDb")
    val got = vectors.map(_.toLowerCase).toDF("lower")
      .select(graft.operators.DomainFunctions.eip55(col("lower")).as("cs"))
      .collect().map(_.getString(0)).toSeq
    assert(got === vectors)
  }

  test("base58 bitcoin reference vectors") {
    assert(Base58.encode("Hello World!".getBytes("UTF-8")) ===
      "2NEpo7TZRRrLZSi2U")
    assert(Base58.encode(
      "The quick brown fox jumps over the lazy dog.".getBytes("UTF-8")) ===
      "USm3fpXnKG5EUBx2ndxBDMPVciP5hGey2Jh4NDv6gmeo1LkMeiKrLJUUBk6Z")
    // 0x287f = 10367 = 3*58^2 + 4*58 + 43 → "45k", plus two leading-zero '1's
    assert(Base58.encode(Array[Byte](0x00, 0x00, 0x28, 0x7f.toByte)) ===
      "1145k")
  }

  test("base58 edge cases") {
    assert(Base58.encode(Array.emptyByteArray) === "")
    assert(Base58.encode(Array[Byte](0)) === "1")
    assert(Base58.decode("") sameElements Array.emptyByteArray)
    assert(Base58.decode("1") sameElements Array[Byte](0))
    assert(Base58.decode("0invalid") === null)  // 0 not in alphabet
    assert(Base58.decode("I") === null)          // I not in alphabet
  }

  test("base58 roundtrip") {
    val inputs = Seq(
      Array.emptyByteArray,
      Array[Byte](0, 0, 0),
      "graft".getBytes("UTF-8"),
      Array.tabulate[Byte](64)(i => (i * 7 - 100).toByte))
    inputs.foreach { in =>
      assert(Base58.decode(Base58.encode(in)) sameElements in)
    }
  }

  test("u256 long roundtrip") {
    import graft.functions.ExprImpl
    for (v <- Seq(0L, 1L, 255L, 256L, Long.MaxValue)) {
      val bytes = ExprImpl.u256FromLong(v)
      assert(bytes.length === 32)
      assert(ExprImpl.u256ToDecimal(bytes).toBigDecimal === BigDecimal(v))
    }
    // unsigned interpretation of a negative long
    val neg = ExprImpl.u256ToDecimal(ExprImpl.u256FromLong(-1L))
    assert(neg.toBigDecimal === BigDecimal(2).pow(64) - 1)
  }

  test("u256 overflow to null past 38 digits") {
    import graft.functions.ExprImpl
    val big = Array.fill[Byte](32)(0xff.toByte) // 2^256-1: 78 digits
    assert(ExprImpl.u256ToDecimal(big) === null)
    val fits = new Array[Byte](32) // 10^38 - 1 fits exactly in 38 digits
    val v = BigInt(10).pow(38) - 1
    val vb = v.toByteArray
    System.arraycopy(vb, 0, fits, 32 - vb.length, vb.length)
    assert(ExprImpl.u256ToDecimal(fits).toBigDecimal === BigDecimal(v))
  }

  test("u256 sum wraps mod 2^256 and carries past 64/128-bit boundaries") {
    import java.math.BigInteger
    import graft.functions.ExprImpl
    def bi(bytes: Array[Byte]) = new BigInteger(1, bytes)
    // (2^256 - 1) + 1 wraps to 0
    val maxU = BigInteger.ONE.shiftLeft(256).subtract(BigInteger.ONE)
    assert(bi(ExprImpl.u256Wrap(maxU.add(BigInteger.ONE))) === BigInteger.ZERO)
    // a 70-digit sum (beyond Decimal(38)) round-trips exactly
    val big = new BigInteger("9" * 70)
    assert(bi(ExprImpl.u256Wrap(big)) === big)
    // wrap output is always 32 bytes, left-padded
    assert(ExprImpl.u256Wrap(BigInteger.TEN).length === 32)
    assert(bi(ExprImpl.u256Wrap(BigInteger.TEN)) === BigInteger.TEN)
  }

  test("u256_sum aggregate: exact 256-bit group sums end-to-end") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.{u256_from_long, u256_sum}
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    // sum of 1000 near-max longs overflows 64-bit arithmetic ~50x over
    val df = (1 to 1000).map(i => Long.MaxValue - i).toDF("v")
      .agg(u256_sum(u256_from_long(col("v") + lit(0L))).as("s"))
    val got = new java.math.BigInteger(1, df.head.getAs[Array[Byte]]("s"))
    val want = (1 to 1000).map(i => BigInt(Long.MaxValue) - i).sum
    assert(BigInt(got) === want)
  }

  test("graft functions callable from spark.sql text after registerSql") {
    val spark = SparkSessionFixture.spark
    graft.functions.registerSql(spark)
    val r = spark.sql(
      """SELECT
        |  lower(hex(keccak256(cast('Transfer(address,address,uint256)'
        |    AS BINARY)))) AS topic0,
        |  base58_encode(cast('Hello World!' AS BINARY)) AS b58""".stripMargin)
      .head
    assert(r.getString(0) ===
      "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
    assert(r.getString(1) === "2NEpo7TZRRrLZSi2U")
    val s = spark.sql(
      """SELECT u256_to_decimal(u256_sum(u256_from_long(id))) AS total
        |FROM range(1, 1001)""".stripMargin).head.getDecimal(0)
    assert(s.compareTo(new java.math.BigDecimal(500500)) === 0)
    // round-2 additions: arithmetic + LE codecs from SQL text
    val r2 = spark.sql(
      """SELECT
        |  CAST(u256_ratio_decimal(u256_from_long(CAST(1000 AS BIGINT)),
        |    u256_from_long(CAST(3 AS BIGINT)), 9) AS STRING) AS ratio,
        |  u256_to_decimal(u256_mul(u256_from_long(CAST(1 AS BIGINT) << 40),
        |    u256_from_long(CAST(1 AS BIGINT) << 30))) AS product,
        |  le_long(le_from_long(CAST(258 AS BIGINT), 4), 0, 4) AS roundtrip""".stripMargin)
      .head
    assert(r2.getString(0) === "333.333333333")
    assert(r2.getDecimal(1).toBigInteger ===
      java.math.BigInteger.ONE.shiftLeft(70))
    assert(r2.getLong(2) === 258L)
  }

  test("simhash64 deterministic and length-independent of order bias") {
    import graft.functions.ExprImpl
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = ArrayData.toArrayData(Array(1L, 2L, 3L))
    val b = ArrayData.toArrayData(Array(3L, 2L, 1L))
    assert(ExprImpl.simhash64(a) === ExprImpl.simhash64(b)) // order-free
    val single = ArrayData.toArrayData(Array(0x0f0f0f0fL))
    assert(ExprImpl.simhash64(single) === 0x0f0f0f0fL) // majority of 1 = value
  }

  test("cosine_similarity_i8: exact int accumulation, scale cancellation") {
    import graft.functions.ExprImpl
    import org.apache.spark.sql.catalyst.util.ArrayData
    def arr(xs: Byte*) = ArrayData.toArrayData(xs.toArray)
    // identical codes → 1.0 exactly (integer norms are exact)
    assert(ExprImpl.cosineSimI8(arr(1, -2, 3), arr(1, -2, 3)) === 1.0)
    // orthogonal → 0.0
    assert(ExprImpl.cosineSimI8(arr(127, 0), arr(0, 127)) === 0.0)
    // hand-computed: (3,4)·(-1,2) = -3+8 = 5; |a| = 5, |b| = √5
    assert(math.abs(ExprImpl.cosineSimI8(arr(3, 4), arr(-1, 2)) -
      5.0 / (5.0 * math.sqrt(5.0))) < 1e-15)
    // zero vector → 0.0, not NaN
    assert(ExprImpl.cosineSimI8(arr(0, 0), arr(1, 2)) === 0.0)
    // scale cancellation: the int8 cosine of quantized codes approximates
    // the float cosine of the originals regardless of per-vector scale
    val fa = ArrayData.toArrayData(Array(0.9f, -0.3f, 0.1f, 0.5f))
    val fb = ArrayData.toArrayData(Array(0.2f, 0.8f, -0.4f, 0.6f))
    def quant(xs: Array[Float]) = ArrayData.toArrayData(
      xs.map(x => math.round(x / xs.map(math.abs).max * 127).toByte))
    val exact = ExprImpl.cosineSim(fa, fb)
    val q = ExprImpl.cosineSimI8(
      quant(Array(0.9f, -0.3f, 0.1f, 0.5f)),
      quant(Array(0.2f, 0.8f, -0.4f, 0.6f)))
    assert(math.abs(exact - q) < 0.01, s"exact=$exact quant=$q")
  }

  test("u256 mul/div: exact values, 2^256 wraparound, div-by-zero null") {
    import java.math.BigInteger
    def w(v: BigInteger) = ExprImpl.u256Wrap(v)
    def bi(b: Array[Byte]) = new BigInteger(1, b)
    // exact product beyond 64-bit: (2^80 + 3) * (2^70 + 7)
    val a = BigInteger.ONE.shiftLeft(80).add(BigInteger.valueOf(3))
    val b = BigInteger.ONE.shiftLeft(70).add(BigInteger.valueOf(7))
    assert(bi(U256ArithImpl.mul(w(a), w(b))) === a.multiply(b))
    // wraparound: 2^200 * 2^60 = 2^260 exceeds 256 bits → mod 2^256
    val big = BigInteger.ONE.shiftLeft(200)
    val sh  = BigInteger.ONE.shiftLeft(60)
    val expected = big.multiply(sh).mod(BigInteger.ONE.shiftLeft(256))
    assert(bi(U256ArithImpl.mul(w(big), w(sh))) === expected)
    // integer division, and null on zero divisor
    assert(bi(U256ArithImpl.div(w(a), w(b))) === a.divide(b))
    assert(U256ArithImpl.div(w(a), w(BigInteger.ZERO)) === null)
  }

  test("u256 ratio decimal: exact scale-9 ratio, overflow + zero null") {
    import java.math.BigInteger
    def w(v: BigInteger) = ExprImpl.u256Wrap(v)
    val r = U256ArithImpl.ratioDecimal(
      w(BigInteger.valueOf(1000L)), w(BigInteger.valueOf(3L)), 9)
    assert(r.toBigDecimal === BigDecimal("333.333333333"))
    // operands a full u256 wide still ratio exactly when the result fits
    val huge = BigInteger.ONE.shiftLeft(255)
    val r2 = U256ArithImpl.ratioDecimal(w(huge), w(huge), 9)
    assert(r2.toBigDecimal === BigDecimal("1.000000000"))
    assert(U256ArithImpl.ratioDecimal(w(huge), w(BigInteger.ONE), 9) === null,
      "38-digit overflow must null")
    assert(U256ArithImpl.ratioDecimal(w(BigInteger.ONE),
      w(BigInteger.ZERO), 9) === null)
  }

  test("u256 mul/div agree with BigInteger over randomized wide operands") {
    import java.math.BigInteger
    import graft.functions.{ExprImpl, U256ArithImpl}
    def bi(b: Array[Byte]) = new BigInteger(1, b)
    def w(v: BigInteger) = ExprImpl.u256Wrap(v)
    val rng = new scala.util.Random(20260813L)
    val mod = BigInteger.ONE.shiftLeft(256)
    (1 to 200).foreach { _ =>
      // operand widths span the whole domain, incl. >128-bit products
      val a = new BigInteger(1 + rng.nextInt(255), rng.self)
      val b = new BigInteger(1 + rng.nextInt(255), rng.self)
      assert(bi(U256ArithImpl.mul(w(a), w(b))) === a.multiply(b).mod(mod),
        s"mul diverged for $a * $b")
      if (b.signum != 0)
        assert(bi(U256ArithImpl.div(w(a), w(b))) === a.divide(b),
          s"div diverged for $a / $b")
    }
  }

  test("shortvec compact-u16: known vectors, round trip, malformed rejects") {
    import graft.functions.ShortVecImpl
    def enc(n: Long): Seq[Int] = ShortVecImpl.encode(n).map(_ & 0xff).toSeq
    // the documented compact-u16 vectors
    assert(enc(0) === Seq(0x00))
    assert(enc(5) === Seq(0x05))
    assert(enc(127) === Seq(0x7f))
    assert(enc(128) === Seq(0x80, 0x01))
    assert(enc(255) === Seq(0xff, 0x01))
    assert(enc(16384) === Seq(0x80, 0x80, 0x01))
    assert(enc(65535) === Seq(0xff, 0xff, 0x03))
    assert(ShortVecImpl.encode(65536L) === null)
    assert(ShortVecImpl.encode(-1L) === null)
    // decode = (width << 32) | value; round trip every boundary + offset
    def dec(bs: Int*) = ShortVecImpl.decode(bs.map(_.toByte).toArray, 0)
    for (n <- Seq(0L, 1L, 127L, 128L, 255L, 16383L, 16384L, 65535L)) {
      val b = ShortVecImpl.encode(n)
      val r = ShortVecImpl.decode(Array[Byte](0x7e) ++ b, 1)
      assert((r & 0xffffffffL) === n && (r >>> 32).toInt === b.length)
    }
    assert(dec(0x80) === -1L, "dangling continuation must reject")
    assert(dec(0x80, 0x80) === -1L)
    assert(dec(0x80, 0x00) === -1L, "non-minimal encoding must reject")
    assert(dec(0xff, 0xff, 0x04) === -1L, "beyond 0xffff must reject")
    assert(ShortVecImpl.decode(Array.emptyByteArray, 0) === -1L)
    // the domain is tiny — prove encode∘decode is the identity over ALL
    // 65536 values, not a sample
    var n = 0L
    while (n <= 0xffffL) {
      val b = ShortVecImpl.encode(n)
      val r = ShortVecImpl.decode(b, 0)
      assert((r & 0xffffffffL) === n && (r >>> 32).toInt === b.length,
        s"round trip broke at $n")
      n += 1
    }
  }

  test("every declared function and minhash_scrambled evaluate the same " +
      "interpreted and compiled") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{GraftFunction, MinHashScrambled}
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def word(v: Long): Array[Byte] = ExprImpl.u256Wrap(java.math.BigInteger.valueOf(v))
    def array(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)
    val inputs: Map[DataType, Seq[Any]] = Map(
      BinaryType -> Seq(null, Array.emptyByteArray,
        bytes(0x80, 0x00), bytes(0x80), bytes(0xff, 0xff, 0x04), // bad compact-u16s
        bytes(0x05, 0xff, 0x01, 0x7f), Array.tabulate[Byte](20)(i => (i * 37).toByte),
        word(0), word(3), word(1000), word(-1), // word(-1): 2^256 - 1
        bytes(0x80 +: Seq.fill(31)(0): _*)), // -2^255 as a signed word
      StringType -> Seq(null, "", "abc", "2NEpo7TZRRrLZSi2U", "0invalid", "I", "héllo")
        .map(s => if (s == null) null else UTF8String.fromString(s)),
      LongType -> Seq(null, 0L, 1L, -1L, 127L, 128L, 65535L, 65536L,
        Long.MaxValue, Long.MinValue),
      ArrayType(LongType, containsNull = true) -> Seq(null, array(),
        array(1L, -2L, Long.MaxValue), array(5L, null, 7L)),
      ArrayType(FloatType, containsNull = true) -> Seq(null, array(),
        array(1f, -2f, 3.5f), array(0f, 0f, 0f), array(0.5f, null, -1f)),
      ArrayType(ByteType, containsNull = true) -> Seq(null, array(),
        array(1.toByte, -2.toByte, 3.toByte), array(127.toByte, -128.toByte),
        array(0.toByte, null, 4.toByte)))
    // out-of-range offsets and widths included: the kernels answer null
    val paramSets: Map[String, Seq[Seq[Int]]] = Map(
      "u256_ratio_decimal" -> Seq(Seq(0), Seq(9), Seq(18)),
      "le_long" -> Seq(Seq(0, 8), Seq(1, 4), Seq(16, 8), Seq(-1, 2), Seq(0, 9)),
      "le_decimal" -> Seq(Seq(0, 16), Seq(4, 8), Seq(10, 16), Seq(-1, 4), Seq(0, 17)),
      "le_from_long" -> Seq(Seq(0), Seq(3), Seq(8), Seq(12)),
      "shortvec_value" -> Seq(Seq(0), Seq(1), Seq(3), Seq(-1), Seq(40)),
      "shortvec_width" -> Seq(Seq(0), Seq(1), Seq(3), Seq(-1), Seq(40)),
      "md5_window" -> Seq(Seq(0, 15), Seq(7, 7), Seq(25, 7)),
      "minhashes" -> Seq(Seq(0), Seq(1), Seq(4)),
      "lsh_sign_bits" -> Seq(Seq(0), Seq(8), Seq(64)))
    /** Catalyst values in a form `==` compares by content. */
    def norm(v: Any, t: DataType): Any = (v, t) match {
      case (b: Array[Byte], _) => b.toSeq
      case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et)
      case _ => v
    }
    val answered = scala.collection.mutable.Set.empty[String]
    /** `e` on each of `rows`, through eval and through a generated
      * projection (no interpreted fallback). */
    def check(e: Expression, rows: Seq[Seq[Any]]): Unit = {
      val compiled = GenerateUnsafeProjection.generate(Seq(e))
      rows.foreach { in =>
        val row = InternalRow.fromSeq(in)
        val out = compiled(row)
        val got = if (out.isNullAt(0)) null else out.get(0, e.dataType)
        assert(norm(got, e.dataType) == norm(e.eval(row), e.dataType), s"$e on $in")
        if (got != null) answered += e.prettyName
      }
    }
    def product(types: Seq[DataType]): Seq[Seq[Any]] =
      types.foldRight(Seq(Seq.empty[Any]))((t, rest) => for (v <- inputs(t); r <- rest) yield v +: r)
    for (f <- GraftFunction.declared) {
      assert(f.paramNames.isEmpty || paramSets.contains(f.name), s"no parameters for ${f.name}")
      val refs = f.inputTypes.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }
      paramSets.getOrElse(f.name, Seq(Nil)).foreach(p => check(f.expr(refs, p), product(f.inputTypes)))
    }
    // the fused minhash reads its four chunk arrays in step: equal lengths
    val chunks = Seq(null, array(1L, 2L, 3L), array(-4L, Long.MaxValue, 0L), array(9L, null, 8L))
    val longs = ArrayType(LongType, containsNull = true)
    val Seq(a, b, c, d) = (0 until 4).map(BoundReference(_, longs, nullable = true))
    check(MinHashScrambled(a, b, c, d),
      for (w <- chunks; x <- chunks; y <- chunks; z <- chunks) yield Seq(w, x, y, z))
    assert(answered.toSet === GraftFunction.declared.map(_.name).toSet + "minhash_scrambled",
      "a function answered only nulls")
  }

  test("every Column-API function except variant_index resolves from SQL text " +
      "with the Column API's value") {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.functions._
    val spark = SparkSessionFixture.spark
    def word(v: Long): Array[Byte] = ExprImpl.u256Wrap(java.math.BigInteger.valueOf(v))
    val schema = StructType(Seq(StructField("b", BinaryType), StructField("s", StringType),
      StructField("l", LongType), StructField("w", BinaryType), StructField("w2", BinaryType),
      StructField("h", ArrayType(LongType)), StructField("f", ArrayType(FloatType)),
      StructField("f2", ArrayType(FloatType)), StructField("q", ArrayType(ByteType)),
      StructField("q2", ArrayType(ByteType))))
    val rows = Seq(
      Row(Array[Byte](5, 1, 2, 3, 4, 5, 6, 7, 8), "2NEpo7TZRRrLZSi2U", 258L, word(1000),
        word(3), Seq(1L, 2L, 3L), Seq(1f, -2f, 3f), Seq(0.5f, 0.5f, 2f),
        Seq[Byte](1, -2, 3), Seq[Byte](4, 5, -6)),
      Row(Array[Byte](0x80.toByte, 0x01), "0invalid", -1L, word(7), word(0), Seq(9L),
        Seq(0f), Seq(1f), Seq[Byte](0), Seq[Byte](1)),
      Row(null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    df.createOrReplaceTempView("graft_fn_inputs")
    val scalar: Seq[(String, Column)] = Seq(
      "keccak256(b)" -> keccak256(col("b")),
      "base58_encode(b)" -> base58_encode(col("b")),
      "base58_decode(s)" -> base58_decode(col("s")),
      "u256_from_long(l)" -> u256_from_long(col("l")),
      "u256_to_decimal(w)" -> u256_to_decimal(col("w")),
      "s256_from_long(l)" -> s256_from_long(col("l")),
      "s256_to_decimal(w)" -> s256_to_decimal(col("w")),
      "u256_mul(w, w2)" -> u256_mul(col("w"), col("w2")),
      "u256_div(w, w2)" -> u256_div(col("w"), col("w2")),
      "u256_ratio_decimal(w, w2, 9)" -> u256_ratio_decimal(col("w"), col("w2"), 9),
      "le_long(b, 1, 4)" -> le_long(col("b"), 1, 4),
      "le_decimal(b, 1, 8)" -> le_decimal(col("b"), 1, 8),
      "le_from_long(l, 3)" -> le_from_long(col("l"), 3),
      "shortvec_value(b, 0)" -> shortvec_value(col("b"), 0),
      "shortvec_width(b, 0)" -> shortvec_width(col("b"), 0),
      "shortvec_from_long(l)" -> shortvec_from_long(col("l")),
      "md5_window(s, 7, 7)" -> md5_window(col("s"), 7, 7),
      "md5_family(s)" -> md5_family(col("s")),
      "simhash64(h)" -> simhash64(col("h")),
      "minhashes(h, 3)" -> minhashes(col("h"), 3),
      "minhash_scrambled(h, h, h, h)" ->
        minhash_scrambled(col("h"), col("h"), col("h"), col("h")),
      "lsh_sign_bits(f, 8)" -> lsh_sign_bits(col("f"), 8),
      "cosine_similarity(f, f2)" -> cosine_similarity(col("f"), col("f2")),
      "dot_product(f, f2)" -> dot_product(col("f"), col("f2")),
      "cosine_similarity_i8(q, q2)" -> cosine_similarity_i8(col("q"), col("q2")))
    val aggregate = "u256_sum(w)" -> u256_sum(col("w"))
    val called = (scalar :+ aggregate).map(_._1.takeWhile(_ != '(')).toSet
    assert(called === sqlFunctions.map(_._1).toSet)
    for ((text, c) <- scalar) {
      val fromSql = spark.sql(s"SELECT $text AS r FROM graft_fn_inputs").collect().toSeq
      assert(fromSql === df.select(c.as("r")).collect().toSeq, text)
      assert(fromSql.exists(!_.isNullAt(0)), s"$text answered only nulls")
    }
    assert(spark.sql(s"SELECT ${aggregate._1} AS r FROM graft_fn_inputs").collect().toSeq ===
      df.agg(aggregate._2.as("r")).collect().toSeq)
  }

  test("a declared function's parameters take part in equality and printing") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import graft.functions.GraftFunction.{le_long, md5_window}
    val x = BoundReference(0, BinaryType, nullable = true)
    val e = le_long.expr(Seq(x), Seq(0, 8))
    assert(e === le_long.expr(Seq(x), Seq(0, 8)))
    assert(e !== le_long.expr(Seq(x), Seq(1, 8)))
    assert(e.toString === "le_long(input[0, binary, true], 0, 8)")
    // a reflective copy (makeCopy, which reads otherCopyArgs) keeps the
    // bound call, as does a new child
    val row = InternalRow(Array.tabulate[Byte](9)(i => (i + 1).toByte))
    val args = e.asInstanceOf[Product].productIterator.map(_.asInstanceOf[AnyRef]).toArray
    assert(e.makeCopy(args).eval(row) === 0x0807060504030201L)
    assert(e.withNewChildren(Seq(x)).eval(row) === 0x0807060504030201L)
    // the range check runs where the parameters are bound
    val s = BoundReference(0, StringType, nullable = true)
    intercept[IllegalArgumentException](md5_window.expr(Seq(s), Seq(30, 7)))
    intercept[IllegalArgumentException](le_long.fromSql(Seq(x, Literal(0))))
    intercept[IllegalArgumentException](le_long.fromSql(Seq(x, Literal(0), Literal("8"))))
  }

  test("Session.enforce registers graft's SQL functions once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.classic
    val fresh = SparkSessionFixture.spark.newSession()
    assert(!fresh.catalog.functionExists("le_long"))
    Session.enforce(fresh)
    assert(fresh.sql("SELECT le_long(X'0201', 0, 2)").head().getLong(0) === 0x0102L)
    val registry = fresh.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    val builder = registry.lookupFunctionBuilder(FunctionIdentifier("le_long"))
    Session.enforce(fresh)
    assert(registry.lookupFunctionBuilder(FunctionIdentifier("le_long")).get eq builder.get,
      "a second enforce replaced a registered function")
  }
}
