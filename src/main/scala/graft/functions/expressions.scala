package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the domain functions the reference engine
  * exposes (cherry-core: keccak topic0, anchor discriminators, base58,
  * u256 binary codecs) plus graft's SimHash primitive. All are codegen'd
  * (doGenCode calls straight into static JVM impls) so they stay inside
  * whole-stage codegen — no UDF serialization on the hot path.
  */
object ExprImpl {
  /** base58 decode that surfaces malformed input as null. */
  def base58Decode(s: UTF8String): Array[Byte] = Base58.decode(s.toString)

  def base58Encode(b: Array[Byte]): UTF8String =
    UTF8String.fromString(Base58.encode(b))

  /** Long (interpreted as unsigned 64-bit) → 32-byte big-endian u256. */
  def u256FromLong(v: Long): Array[Byte] = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 8) { out(31 - i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  /** 32-byte big-endian unsigned → Decimal(38,0); null when the value
    * exceeds 38 digits (Spark's max decimal precision — full 2^256 needs 78;
    * the overflow-to-null contract mirrors a lossy cast and is documented in
    * SURVEY.md round-2 notes for an unscaled-aggregation upgrade).
    */
  def u256ToDecimal(b: Array[Byte]): Decimal = {
    val bi = new BigInteger(1, b)
    val d = new java.math.BigDecimal(bi)
    if (d.precision > 38) null else Decimal(d, 38, 0)
  }

  private val U256_MOD = BigInteger.ONE.shiftLeft(256)

  /** Reduce mod 2^256 and render as 32-byte big-endian — ClickHouse
    * UInt256 wraparound semantics. */
  def u256Wrap(v: BigInteger): Array[Byte] = {
    val m = v.mod(U256_MOD)
    val raw = m.toByteArray // may carry a sign byte / be short
    val out = new Array[Byte](32)
    val src = math.max(0, raw.length - 32)
    val len = math.min(raw.length, 32)
    System.arraycopy(raw, src, out, 32 - len, len)
    out
  }

  /** splitmix64 finalizer — the deterministic PRNG behind the minhash
    * family and the LSH hyperplanes (seeded, reproducible across runs). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** k-permutation MinHash over pre-hashed shingles in ONE pass: the j-th
    * hash family member is mix64(h ^ seed_j), so k minima cost one traversal
    * of the shingle array instead of k (the built-in-functions formulation
    * would rescan per seed — at 100 TB that k× matters).
    */
  def minhashes(hashes: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var j = 0
        while (j < k) {
          val m = mix64(h ^ (j.toLong * 0xC2B2AE3D27D4EB4FL))
          if (m < mins(j)) mins(j) = m
          j += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  /** Constants of the scrambled-linear portable minhash family (the
    * round-9 d02/d12 oracle family — operators.Lsh documents the
    * derivation and the load-bearing XOR scramble; the SQL generator
    * reads THESE values so kernel and oracle cannot drift). */
  val MinhashK = 16
  private val mhMul: Array[Long] =
    Array.tabulate(MinhashK * 4)(j => (mix64(1000003L * (j + 1)) & 0x7FFFFFFFL) | 1L)
  private val mhXor: Array[Long] =
    Array.tabulate(MinhashK * 4)(j => mix64(15485863L * (j + 1)) & 0xFFFFFFFL)
  def minhashMul(i: Int, k: Int): Long = mhMul(i * 4 + k)
  def minhashXor(i: Int, k: Int): Long = mhXor(i * 4 + k)

  /** All 16 family minima in ONE pass over the four 28-bit chunk
    * arrays — the fused form of 16 × array_min(zip_with(...)) (measured
    * 3× on d02 at sf0.1: the builtin spelling allocates 32 intermediate
    * arrays per row). Null chunks (impossible for md5 output, but the
    * array type permits them) skip the shingle, matching zip_with's
    * null-propagation + array_min's null-skipping. */
  def minhashScrambled(x1: ArrayData, x2: ArrayData, x3: ArrayData,
      x4: ArrayData): ArrayData = {
    val mins = Array.fill(MinhashK)(Long.MaxValue)
    val n = x1.numElements()
    var j = 0
    while (j < n) {
      if (!x1.isNullAt(j) && !x2.isNullAt(j) &&
        !x3.isNullAt(j) && !x4.isNullAt(j)) {
        val a = x1.getLong(j); val b = x2.getLong(j)
        val c = x3.getLong(j); val d = x4.getLong(j)
        var i = 0
        while (i < MinhashK) {
          val o = i * 4
          val v = mhMul(o) * (a ^ mhXor(o)) +
            mhMul(o + 1) * (b ^ mhXor(o + 1)) +
            mhMul(o + 2) * (c ^ mhXor(o + 2)) +
            mhMul(o + 3) * (d ^ mhXor(o + 3))
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    ArrayData.toArrayData(mins)
  }

  /** Sign-random-projection LSH: bit p of the signature is the sign of
    * v · w_p where hyperplane w_p has deterministic ±1 weights derived from
    * mix64(p, d). P(bit match) = 1 - angle/π → hamming distance on
    * signatures estimates cosine similarity.
    */
  def lshSignBits(v: ArrayData, planes: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        if (!v.isNullAt(d)) { // input type permits null elements
          val w = if ((mix64(p.toLong * 1000003L + d) & 1L) == 0L) 1.0 else -1.0
          acc += v.getFloat(d).toDouble * w
        }
        d += 1
      }
      if (acc > 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Cosine similarity over two float vectors, accumulated in double.
    * Single fused loop (dot + both norms) — the hot inner kernel of the
    * ANN/near-dup operators, codegen'd so it inlines into the join stage.
    */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // null elements (permitted by the input type) contribute 0
      val x = if (a.isNullAt(i)) 0.0 else a.getFloat(i).toDouble
      val y = if (b.isNullAt(i)) 0.0 else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Plain inner product (no normalization) — the MIPS/recommender
    * scoring kernel; float elements widen to double BEFORE multiply so
    * the DuckDB oracle (DOUBLE[] lists) does bit-identical work.
    *
    * TOTAL-FUNCTION CONTRACT (deliberate, like the codec family's
    * allow_decode_fail): null elements contribute 0 and ragged lengths
    * truncate to the shorter vector — a scoring kernel inside a
    * corpus-wide scan must never throw or null-cascade on one malformed
    * embedding. This DIVERGES from DuckDB's list_inner_product (NULL
    * propagation, equal lengths assumed): the oracles only ever compare
    * the two on dense equal-length vectors, where they agree bitwise.
    * Same contract in [[cosineSim]]. */
  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else a.getFloat(i).toDouble
      val y = if (b.isNullAt(i)) 0.0 else b.getFloat(i).toDouble
      dot += x * y
      i += 1
    }
    dot
  }

  /** Cosine similarity over two int8-quantized vectors. Symmetric
    * (no-zero-point) quantization cancels each vector's scale factor in
    * the cosine ratio, so the kernel runs on the raw int8 codes — exact
    * integer dot/norm accumulation in long, one double division at the
    * end, and 4× less memory traffic than the float32 kernel (s04's
    * storage/bandwidth story at 100 TB). */
  def cosineSimI8(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0L else a.getByte(i).toLong
      val y = if (b.isNullAt(i)) 0L else b.getByte(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
  }

  /** SimHash over pre-hashed 64-bit token hashes: majority vote per bit. */
  def simhash64(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Per-thread MD5 instance — MessageDigest is not thread-safe and
    * per-call getInstance churns allocations on the per-token hot path. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Hex nibbles [start, start+len) of a digest as one long (len ≤ 15):
    * nibble i is the high half of byte i/2 when i is even, low half
    * otherwise — exactly the value `conv(substring(hex, start+1, len),
    * 16, 10)` parses from the lowercase hex rendering. */
  private def nibbleWindow(d: Array[Byte], start: Int, len: Int): Long = {
    var v = 0L
    var i = start
    val end = start + len
    while (i < end) {
      val b = d(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }

  /** Digest-direct twin of the portable-family SQL spelling
    * conv(substring(md5(s), start+1, len), 16, 10): one MD5 over the
    * string's UTF-8 bytes, window extracted straight from digest bytes —
    * no 32-char hex rendering, no substring, no string-parsing conv.
    * Values are bit-identical (Md5WindowSpec pins the equality), so the
    * DuckDB oracles replaying the hex spelling keep matching. */
  def md5Window(s: UTF8String, start: Int, len: Int): Long = {
    val md = md5Local.get()
    md.reset()
    nibbleWindow(md.digest(s.getBytes), start, len)
  }

  /** All five portable-family coordinates of ONE digest in one pass:
    * [hash60, chunk28₀, chunk28₁, chunk28₂, chunk28₃] — the fused form
    * of Shingles.md5Hash60Of + 4 × md5Chunk28 over a shared md5 hex
    * column (which paid one hex render plus five conv parses per
    * shingle). */
  def md5Family(s: UTF8String): ArrayData = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ArrayData.toArrayData(Array(
      nibbleWindow(d, 0, 15), nibbleWindow(d, 0, 7), nibbleWindow(d, 7, 7),
      nibbleWindow(d, 14, 7), nibbleWindow(d, 21, 7)))
  }
}

/** keccak256(binary) → 32-byte binary. Reference: evm_signature_to_topic0
  * (erc20_transfers.py:94). */
case class KeccakHash256(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "keccak256"
  override protected def nullSafeEval(input: Any): Any =
    Keccak.hash256(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Keccak.hash256($c)")
  override protected def withNewChildInternal(newChild: Expression): KeccakHash256 =
    copy(child = newChild)
}

/** base58_encode(binary) → string (Bitcoin/Solana alphabet). */
case class Base58Encode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "base58_encode"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.base58Encode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.base58Encode($c)")
  override protected def withNewChildInternal(newChild: Expression): Base58Encode =
    copy(child = newChild)
}

/** base58_decode(string) → binary; null on malformed input
  * (base58_decode_string, orca_swaps.py:235-260). */
case class Base58Decode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "base58_decode"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.base58Decode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.ExprImpl.base58Decode($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Base58Decode =
    copy(child = newChild)
}

/** u256_from_long(long) → 32-byte big-endian binary (unsigned widen). */
case class U256FromLong(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "u256_from_long"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.u256FromLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.u256FromLong($c)")
  override protected def withNewChildInternal(newChild: Expression): U256FromLong =
    copy(child = newChild)
}

/** u256_to_decimal(32-byte BE binary) → Decimal(38,0), null on overflow.
  * Reference: ERC-20 amounts decoded as Decimal256 (erc20 pipeline DDL). */
case class U256ToDecimal(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true
  override def prettyName: String = "u256_to_decimal"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.u256ToDecimal(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.ExprImpl.u256ToDecimal($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): U256ToDecimal =
    copy(child = newChild)
}

/** minhashes(array<long>, k) → array<long>: k MinHash values in one pass
  * (SURVEY.md d02/s02 — the LSH scale path for near-dup detection). */
case class MinHashes(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType, containsNull = true))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhashes"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.minhashes(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.minhashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashes =
    copy(child = newChild)
}

/** minhash_scrambled(x1, x2, x3, x4) → array<long>: the 16-member
  * portable family's minima in one fused pass (SURVEY.md d02/d12 —
  * see ExprImpl.minhashScrambled; operators.Lsh generates the
  * bit-identical SQL twin). */
case class MinHashScrambled(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq.fill(4)(ArrayType(LongType, containsNull = true))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_scrambled"
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    ExprImpl.minhashScrambled(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.ExprImpl.minhashScrambled($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): MinHashScrambled =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** md5_window(string, start, len) → long: hex-nibble window [start,
  * start+len) of md5(input) — the codegen'd twin of
  * conv(substring(md5(c), start+1, len), 16, 10) (the oracle-portable
  * hash family's SQL spelling; SURVEY.md d03/t04). */
case class Md5Window(child: Expression, start: Int, len: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(start >= 0 && len >= 1 && len <= 15 && start + len <= 32,
    s"md5 nibble window [$start, ${start + len}) outside a 32-nibble digest " +
      "or wider than a positive long")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_window"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.md5Window(input.asInstanceOf[UTF8String], start, len)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.md5Window($c, $start, $len)")
  override protected def withNewChildInternal(newChild: Expression): Md5Window =
    copy(child = newChild)
}

/** md5_family(string) → array<long>: [hash60, x1, x2, x3, x4] of one
  * digest — the five portable-family coordinates d02/d12 derive per
  * shingle, in one fused pass (SURVEY.md d02/d12). */
case class Md5Family(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_family"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.md5Family(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.md5Family($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Family =
    copy(child = newChild)
}

/** lsh_sign_bits(array<float>, planes) → long signature for
  * sign-random-projection ANN bucketing (SURVEY.md s02). */
case class LshSignBits(child: Expression, planes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sign_bits"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.lshSignBits(input.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.lshSignBits($c, $planes)")
  override protected def withNewChildInternal(newChild: Expression): LshSignBits =
    copy(child = newChild)
}

/** cosine_similarity(array<float>, array<float>) → double; fused
  * dot+norms loop, codegen'd (SURVEY.md s01/d05 hot kernel). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ExprImpl.cosineSim($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** dot_product(array<float>, array<float>) → double: the unnormalized
  * MIPS scoring kernel (CosineSimilarity without the norms). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ExprImpl.dotProduct($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** cosine_similarity_i8(array<tinyint>, array<tinyint>) → double; the
  * int8-quantized twin of CosineSimilarity (see ExprImpl.cosineSimI8 —
  * symmetric quantization scales cancel, so cosine runs on raw codes). */
case class CosineSimilarityI8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ByteType), ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity_i8"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.cosineSimI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ExprImpl.cosineSimI8($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityI8 =
    copy(left = newLeft, right = newRight)
}

/** u256_sum(32-byte BE binary) → 32-byte BE binary: exact unsigned 256-bit
  * SUM with 2^256 wraparound — ClickHouse UInt256/Decimal256 aggregation
  * semantics, which Spark's DecimalType (38 digits max; 2^256 needs 78)
  * cannot express. A TypedImperativeAggregate over BigInteger: partial
  * sums combine map-side, the merge shuffles one 33-byte buffer per group.
  */
case class U256Sum(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BigInteger] with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "u256_sum"
  override def createAggregationBuffer(): BigInteger = BigInteger.ZERO
  override def update(buf: BigInteger, input: InternalRow): BigInteger = {
    val v = child.eval(input)
    if (v == null) buf
    else buf.add(new BigInteger(1, v.asInstanceOf[Array[Byte]]))
  }
  override def merge(a: BigInteger, b: BigInteger): BigInteger = a.add(b)
  override def eval(buf: BigInteger): Any = ExprImpl.u256Wrap(buf)
  override def serialize(buf: BigInteger): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): BigInteger =
    new BigInteger(bytes)
  override def withNewMutableAggBufferOffset(o: Int): U256Sum =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): U256Sum =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): U256Sum =
    copy(child = newChildren.head)
}

/** simhash64(array<long>) → long: per-bit majority over token hashes.
  * graft's primitive for near-dup detection at scale (SURVEY.md d03). */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType, containsNull = true))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    ExprImpl.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

// ---- little-endian binary codecs (Borsh instruction-data decode) ----
// The reference decodes SVM instruction payloads as little-endian fields
// after a discriminator prefix (raydium_swaps.py:47-186 InstructionSignature
// / DynType.U64/U128/Bool). These are the codegen'd primitives the
// data-driven variant registry (operators/SvmInstr.scala) composes.

object LeImpl {
  /** Unsigned little-endian integer of `width` ≤ 8 bytes at 0-based `off`;
    * null when out of range or (width 8) the value exceeds Long.MaxValue. */
  def leLong(b: Array[Byte], off: Int, width: Int): java.lang.Long = {
    if (off < 0 || width <= 0 || width > 8 || off + width > b.length) return null
    var v = 0L
    var i = width - 1
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
    if (width == 8 && v < 0) null else java.lang.Long.valueOf(v)
  }

  /** Unsigned little-endian integer of `width` ≤ 16 bytes at `off` as
    * Decimal(38,0); null when out of range or beyond 38 digits (u128 max
    * has 39 — same overflow-to-null contract as u256_to_decimal). */
  def leDecimal(b: Array[Byte], off: Int, width: Int): Decimal = {
    if (off < 0 || width <= 0 || width > 16 || off + width > b.length) return null
    val be = new Array[Byte](width)
    var i = 0
    while (i < width) { be(i) = b(off + width - 1 - i); i += 1 }
    val d = new java.math.BigDecimal(new BigInteger(1, be))
    if (d.precision > 38) null else Decimal(d, 38, 0)
  }

  /** Long → `width`-byte little-endian binary (unsigned truncate) — the
    * encode side, for synthesizing ABI-shaped test payloads. */
  def leFromLong(v: Long, width: Int): Array[Byte] = {
    val out = new Array[Byte](width)
    var x = v
    var i = 0
    while (i < width && i < 8) { out(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
    out
  }
}

/** le_long(binary) → long: unsigned LE field at fixed (offset, width). */
case class LeLong(child: Expression, offset: Int, width: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "le_long"
  override protected def nullSafeEval(input: Any): Any =
    LeImpl.leLong(input.asInstanceOf[Array[Byte]], offset, width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // fresh name: a fixed local would collide when the expression
      // appears twice in one codegen scope with a non-nullable child
      val ll = ctx.freshName("leLong")
      s"""
         |java.lang.Long $ll = graft.functions.LeImpl.leLong($c, $offset, $width);
         |if ($ll == null) { ${ev.isNull} = true; } else { ${ev.value} = $ll.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): LeLong =
    copy(child = newChild)
}

/** le_decimal(binary) → Decimal(38,0): unsigned LE field (u128 and friends). */
case class LeDecimal(child: Expression, offset: Int, width: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true
  override def prettyName: String = "le_decimal"
  override protected def nullSafeEval(input: Any): Any =
    LeImpl.leDecimal(input.asInstanceOf[Array[Byte]], offset, width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.LeImpl.leDecimal($c, $offset, $width);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): LeDecimal =
    copy(child = newChild)
}

/** le_from_long(long) → width-byte LE binary (encode side). */
case class LeFromLong(child: Expression, width: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "le_from_long"
  override protected def nullSafeEval(input: Any): Any =
    LeImpl.leFromLong(input.asInstanceOf[Long], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LeImpl.leFromLong($c, $width)")
  override protected def withNewChildInternal(newChild: Expression): LeFromLong =
    copy(child = newChild)
}

/** A variant registry's match table as parallel arrays, row i being
  * (program id, discriminator, minimum payload length). */
final class VariantTable(val programIds: Array[Array[Byte]],
    val discriminators: Array[Array[Byte]], val minLengths: Array[Int])
    extends Serializable

object VariantImpl {
  /** 0-based index of the first row whose program id equals `pid`, whose
    * minimum length fits in `data` and whose discriminator prefixes
    * `data`; -1 when no row matches. */
  def index(t: VariantTable, pid: Array[Byte], data: Array[Byte]): Int = {
    var i = 0
    while (i < t.minLengths.length) {
      val d = t.discriminators(i)
      if (data.length >= t.minLengths(i) &&
        java.util.Arrays.equals(pid, t.programIds(i)) &&
        java.util.Arrays.equals(data, 0, d.length, d, 0, d.length)) return i
      i += 1
    }
    -1
  }
}

/** variant_index(program_id, data) → int: the index of the first
  * registry variant that matches — equal program id, a payload at least
  * `minLength` bytes long, and the variant's discriminator as the
  * payload's prefix — or null when none does or either input is null.
  * One static call over a small table replaces a per-variant chain of
  * equality, length and substring predicates, so a decode that consults
  * the match once per output column stays small in generated code. */
case class VariantIndex(left: Expression, right: Expression,
    variants: Seq[VariantIndex.Variant])
    extends BinaryExpression with ExpectsInputTypes {
  @transient private lazy val table = new VariantTable(
    variants.map(_.programId.toArray).toArray,
    variants.map(_.discriminator.toArray).toArray,
    variants.map(_.minLength).toArray)
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "variant_index"
  override def toString: String =
    s"$prettyName($left, $right, ${variants.size} variants)"
  override protected def nullSafeEval(p: Any, d: Any): Any = {
    val i = VariantImpl.index(table, p.asInstanceOf[Array[Byte]],
      d.asInstanceOf[Array[Byte]])
    if (i < 0) null else i
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("variantTable", table,
      classOf[VariantTable].getName)
    nullSafeCodeGen(ctx, ev, (p, d) =>
      s"""
         |${ev.value} = graft.functions.VariantImpl.index($t, $p, $d);
         |if (${ev.value} < 0) { ${ev.isNull} = true; }
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VariantIndex =
    copy(left = newLeft, right = newRight)
}

object VariantIndex {
  /** One registry row's match key; byte sequences compare by value, so
    * two expressions over equal registries are semantically equal. */
  final case class Variant(programId: Seq[Byte], discriminator: Seq[Byte],
      minLength: Int) {
    require(minLength >= discriminator.length,
      "minimum length shorter than the discriminator")
  }
}

// ---- Solana compact-u16 (ShortVec) codec ----
// Solana messages length-prefix their account/instruction/signature vectors
// with a compact-u16: 7-bit groups, least-significant first, high bit =
// continuation, at most 3 bytes, value ≤ 0xffff, minimal encoding (a zero
// final continuation byte is rejected). The decode side complements the
// fixed-offset Borsh readers above for the variable-length message layer.

object ShortVecImpl {
  /** Decode at 0-based `off`. Returns -1 on malformed/truncated/
    * non-canonical input, else (widthBytes << 32) | value. */
  def decode(b: Array[Byte], off: Int): Long = {
    if (off < 0 || off >= b.length) return -1L
    var v = 0
    var i = off
    var shift = 0
    while (i < b.length && shift <= 14) {
      val x = b(i) & 0xff
      val grp = x & 0x7f
      if (shift == 14 && grp > 3) return -1L // beyond 0xffff
      if ((x & 0x80) == 0) {
        if (grp == 0 && i != off) return -1L // non-minimal encoding
        v |= grp << shift
        return ((i - off + 1).toLong << 32) | (v & 0xffffL)
      }
      v |= grp << shift
      shift += 7
      i += 1
    }
    -1L // truncated (continuation bit into EOF) or over-long
  }

  /** Encode a value in [0, 0xffff]; null (for the expression layer) when
    * out of range. */
  def encode(n: Long): Array[Byte] = {
    if (n < 0 || n > 0xffff) return null
    var v = n.toInt
    val out = new Array[Byte](3)
    var i = 0
    var cont = true
    while (cont) {
      var x = v & 0x7f
      v >>>= 7
      if (v != 0) x |= 0x80 else cont = false
      out(i) = x.toByte
      i += 1
    }
    java.util.Arrays.copyOf(out, i)
  }
}

/** shortvec_value(binary) → long: compact-u16 value at fixed offset. */
case class ShortvecValue(child: Expression, offset: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "shortvec_value"
  override protected def nullSafeEval(input: Any): Any = {
    val r = ShortVecImpl.decode(input.asInstanceOf[Array[Byte]], offset)
    if (r < 0) null else java.lang.Long.valueOf(r & 0xffffffffL)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("sv")
      s"""
         |long $r = graft.functions.ShortVecImpl.decode($c, $offset);
         |if ($r < 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r & 0xffffffffL; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ShortvecValue =
    copy(child = newChild)
}

/** shortvec_width(binary) → int: bytes the compact-u16 prefix occupies. */
case class ShortvecWidth(child: Expression, offset: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "shortvec_width"
  override protected def nullSafeEval(input: Any): Any = {
    val r = ShortVecImpl.decode(input.asInstanceOf[Array[Byte]], offset)
    if (r < 0) null else java.lang.Integer.valueOf((r >>> 32).toInt)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("sw")
      s"""
         |long $r = graft.functions.ShortVecImpl.decode($c, $offset);
         |if ($r < 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = (int) ($r >>> 32); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ShortvecWidth =
    copy(child = newChild)
}

/** shortvec_from_long(long) → 1–3-byte compact-u16 binary (encode side). */
case class ShortvecFromLong(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "shortvec_from_long"
  override protected def nullSafeEval(input: Any): Any =
    ShortVecImpl.encode(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.ShortVecImpl.encode($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ShortvecFromLong =
    copy(child = newChild)
}

// ---- u256 arithmetic beyond SUM (Decimal256 mul/div family) ----
// The reference's price math multiplies/divides Decimal(38,9) values
// (swap_prices.py:203-217) and ClickHouse stores the amounts as
// Decimal256/UInt256. These extend the u256 binary codec family with the
// arithmetic ops, keeping the full 256-bit domain internal and surfacing
// Spark-typed results only at the edges.

object U256ArithImpl {
  import java.math.{BigDecimal => JBigDecimal}

  private def bi(b: Array[Byte]): BigInteger = new BigInteger(1, b)

  /** a * b mod 2^256 → 32-byte BE (ClickHouse UInt256 wraparound). */
  def mul(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    ExprImpl.u256Wrap(bi(a).multiply(bi(b)))

  /** a / b (integer division) → 32-byte BE; null on division by zero. */
  def div(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val d = bi(b)
    if (d.signum == 0) null else ExprImpl.u256Wrap(bi(a).divide(d))
  }

  /** floor(a * 10^scale / b) as Decimal(38, scale) — the exact ratio the
    * reference computes in Decimal(38,9) (swap_prices.py:203-217), done in
    * the unbounded integer domain so a and b may each be full u256. Null
    * on b = 0 or when the result exceeds 38 digits. */
  def ratioDecimal(a: Array[Byte], b: Array[Byte], scale: Int): Decimal = {
    val d = bi(b)
    if (d.signum == 0) return null
    val unscaled = bi(a).multiply(BigInteger.TEN.pow(scale)).divide(d)
    val dec = new JBigDecimal(unscaled, scale)
    if (dec.precision > 38) null else Decimal(dec, 38, scale)
  }
}

/** u256_mul(a, b) → 32-byte BE binary, mod 2^256. */
case class U256Mul(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "u256_mul"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    U256ArithImpl.mul(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.U256ArithImpl.mul($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): U256Mul =
    copy(left = newLeft, right = newRight)
}

/** u256_div(a, b) → 32-byte BE binary (integer division); null on b=0. */
case class U256Div(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "u256_div"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    U256ArithImpl.div(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.functions.U256ArithImpl.div($a, $b);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): U256Div =
    copy(left = newLeft, right = newRight)
}

/** u256_ratio_decimal(a, b) → Decimal(38, scale) = floor(a·10^scale / b);
  * null on b=0 or 38-digit overflow. */
case class U256RatioDecimal(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "u256_ratio_decimal"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    U256ArithImpl.ratioDecimal(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.functions.U256ArithImpl.ratioDecimal($a, $b, $scale);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): U256RatioDecimal =
    copy(left = newLeft, right = newRight)
}

// ---- signed 256-bit codecs (intN event params, e.g. Uniswap V3 Swap) ----

object S256Impl {
  /** 32-byte BE two's-complement word → Decimal(38,0); null past 38
    * digits (i256 extremes need 78). */
  def s256ToDecimal(b: Array[Byte]): Decimal = {
    if (b.length != 32) return null
    val d = new java.math.BigDecimal(new BigInteger(b)) // signed ctor
    if (d.precision > 38) null else Decimal(d, 38, 0)
  }

  /** Long → 32-byte BE sign-extended two's-complement (encode side). */
  def s256FromLong(v: Long): Array[Byte] = {
    val out = Array.fill[Byte](32)(if (v < 0) 0xff.toByte else 0x00)
    var x = v
    var i = 31
    while (i >= 24) { out(i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
    out
  }
}

/** s256_to_decimal(32-byte BE two's-complement) → Decimal(38,0). */
case class S256ToDecimal(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true
  override def prettyName: String = "s256_to_decimal"
  override protected def nullSafeEval(input: Any): Any =
    S256Impl.s256ToDecimal(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.S256Impl.s256ToDecimal($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): S256ToDecimal =
    copy(child = newChild)
}

/** s256_from_long(long) → 32-byte BE sign-extended binary. */
case class S256FromLong(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "s256_from_long"
  override protected def nullSafeEval(input: Any): Any =
    S256Impl.s256FromLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.S256Impl.s256FromLong($c)")
  override protected def withNewChildInternal(newChild: Expression): S256FromLong =
    copy(child = newChild)
}
