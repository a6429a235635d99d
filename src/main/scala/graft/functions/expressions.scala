package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the domain functions the reference engine
  * exposes (cherry-core: keccak topic0, anchor discriminators, base58,
  * u256 binary codecs) plus graft's SimHash primitive. All are codegen'd
  * (doGenCode calls straight into static JVM impls) so they stay inside
  * whole-stage codegen — no UDF serialization on the hot path. Functions
  * of one or two columns are [[GraftFunction]] declarations evaluated by
  * two generic nodes; the rest are written out below.
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

/** One graft SQL function of one or two columns, declared once: its SQL
  * name, its input types, the static method generated code calls
  * (relative to `graft.functions`), whether it can return null for
  * non-null input, and the names of its integer parameters (literals in
  * SQL text, `Int`s in the Column API, trailing arguments of `method`).
  * `resultType` gives the result type for the parameters; `bind` gives
  * the Scala call interpreted evaluation makes, with the parameters
  * captured. The first parameter list is the function's identity. */
final case class GraftFunction(name: String, inputTypes: Seq[DataType],
    method: String, nullable: Boolean, paramNames: Seq[String])(
    val resultType: Seq[Int] => DataType, bind: Seq[Int] => AnyRef) {
  private def usage = s"$name takes ${inputTypes.size} column(s) and the " +
    s"integer parameter(s) (${paramNames.mkString(", ")})"

  /** This function over `children`, with `params` bound once. */
  def expr(children: Seq[Expression], params: Seq[Int]): Expression = {
    require(children.size == inputTypes.size && params.size == paramNames.size, usage)
    (children, bind(params)) match {
      case (Seq(c), call: Function1[Any, Any] @unchecked) =>
        UnaryFunction(this, params, c)(call)
      case (Seq(l, r), call: Function2[Any, Any, Any] @unchecked) =>
        BinaryFunction(this, params, l, r)(call)
    }
  }

  /** The SQL builder: the columns, then each parameter as an integer
    * literal, since the parameters shape the expression itself. */
  def fromSql(args: Seq[Expression]): Expression = {
    require(args.size == inputTypes.size + paramNames.size, usage)
    val (columns, literals) = args.splitAt(inputTypes.size)
    expr(columns, literals.zip(paramNames).map { case (e, n) => GraftFunction.litInt(e, n) })
  }
}

/** What the two generic nodes share: types and printing from the
  * declaration, and the three templates of their generated code. */
sealed trait FunctionNode extends ExpectsInputTypes {
  def fn: GraftFunction
  def params: Seq[Int]
  override def inputTypes: Seq[DataType] = fn.inputTypes
  override def dataType: DataType = fn.resultType(params)
  override def nullable: Boolean = fn.nullable || children.exists(_.nullable)
  override def prettyName: String = fn.name
  // prints as name(children…, params…)
  override protected def stringArgs: Iterator[Any] = children.iterator ++ params

  /** `fn.method` over the children's values with the parameters inlined
    * as literals, in the node's null-safe wrapper `nullSafe`: a plain
    * assignment when the result is never null, a null check on an object
    * result, and a boxed local for a primitive result that can be null. */
  protected def genCall(ctx: CodegenContext, ev: ExprCode,
      nullSafe: (Seq[String] => String) => ExprCode): ExprCode = {
    def call(args: Seq[String]): String =
      s"graft.functions.${fn.method}(${(args ++ params.map(_.toString)).mkString(", ")})"
    if (!fn.nullable) nullSafe(args => s"${ev.value} = ${call(args)};")
    else if (!CodeGenerator.isPrimitiveType(dataType)) nullSafe(args =>
      s"""
         |${ev.value} = ${call(args)};
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
    else nullSafe { args =>
      // fresh name: a fixed local would collide when the expression
      // appears twice in one codegen scope with a non-nullable child
      val boxed = ctx.freshName("boxed")
      val unboxed = s"$boxed.${CodeGenerator.javaType(dataType)}Value()"
      s"""
         |${CodeGenerator.boxedType(dataType)} $boxed = ${call(args)};
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $unboxed; }
       """.stripMargin
    }
  }
}

/** A [[GraftFunction]] of one column. `call` is its Scala call with
  * `params` bound; `copy` and `otherCopyArgs` pass it on. */
case class UnaryFunction(fn: GraftFunction, params: Seq[Int], child: Expression)(
    call: Any => Any) extends UnaryExpression with FunctionNode {
  override protected def nullSafeEval(input: Any): Any = call(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genCall(ctx, ev, body => nullSafeCodeGen(ctx, ev, c => body(Seq(c))))
  override protected def otherCopyArgs: Seq[AnyRef] = call :: Nil
  override protected def withNewChildInternal(newChild: Expression): UnaryFunction =
    copy(child = newChild)(call)
}

/** A [[GraftFunction]] of two columns; see [[UnaryFunction]]. */
case class BinaryFunction(fn: GraftFunction, params: Seq[Int], left: Expression,
    right: Expression)(call: (Any, Any) => Any)
    extends BinaryExpression with FunctionNode {
  override protected def nullSafeEval(a: Any, b: Any): Any = call(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genCall(ctx, ev, body => nullSafeCodeGen(ctx, ev, (a, b) => body(Seq(a, b))))
  override protected def otherCopyArgs: Seq[AnyRef] = call :: Nil
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BinaryFunction =
    copy(left = newLeft, right = newRight)(call)
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

  /** The value [[decode]] reads, boxed; null where it rejects. */
  def value(b: Array[Byte], off: Int): java.lang.Long = {
    val r = decode(b, off)
    if (r < 0) null else java.lang.Long.valueOf(r & 0xffffffffL)
  }

  /** The bytes the prefix [[decode]] reads occupies, boxed; null where
    * it rejects. */
  def width(b: Array[Byte], off: Int): java.lang.Integer = {
    val r = decode(b, off)
    if (r < 0) null else java.lang.Integer.valueOf((r >>> 32).toInt)
  }
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

/** The declarations: each function's name, types, kernel and parameters,
  * stated once. `functions.sqlFunctions` and the Column API are built
  * from [[declared]]. */
object GraftFunction {
  /** Integer parameters (offsets, widths, scales) must be literals in SQL
    * text. Any integral literal width is accepted (8, 8L, 8S, 8Y) as long
    * as the value fits Int. */
  private[functions] def litInt(e: Expression, what: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) if v.isValidInt => v.toInt
      case Literal(v: Short, _) => v.toInt
      case Literal(v: Byte, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  /** A function of one column of type `in`; `call` reads the value as
    * an `A`, the Scala type Catalyst holds `in` in. */
  private def unary[A](name: String, in: DataType, out: DataType, method: String,
      nullable: Boolean = false, params: Seq[String] = Nil)(
      call: Seq[Int] => A => Any): GraftFunction =
    GraftFunction(name, Seq(in), method, nullable, params)(_ => out, call)

  /** A function of two columns of type `in`. */
  private def binary[A](name: String, in: DataType, out: DataType, method: String,
      nullable: Boolean = false)(call: (A, A) => Any): GraftFunction =
    GraftFunction(name, Seq(in, in), method, nullable, Nil)(_ => out, _ => call)

  private val longs = ArrayType(LongType, containsNull = true)
  private val minima = ArrayType(LongType, containsNull = false)
  private val floats = ArrayType(FloatType)
  private val decimal = DecimalType(38, 0)

  // ---- cherry-core's codecs ----

  /** keccak256(binary) → 32-byte binary. Reference: evm_signature_to_topic0
    * (erc20_transfers.py:94). */
  val keccak256 = unary("keccak256", BinaryType, BinaryType, "Keccak.hash256")(
    _ => (b: Array[Byte]) => Keccak.hash256(b))
  /** base58_encode(binary) → string (Bitcoin/Solana alphabet). */
  val base58_encode = unary("base58_encode", BinaryType, StringType,
    "ExprImpl.base58Encode")(_ => (b: Array[Byte]) => ExprImpl.base58Encode(b))
  /** base58_decode(string) → binary; null on malformed input
    * (base58_decode_string, orca_swaps.py:235-260). */
  val base58_decode = unary("base58_decode", StringType, BinaryType,
    "ExprImpl.base58Decode", nullable = true)(
    _ => (s: UTF8String) => ExprImpl.base58Decode(s))
  /** u256_from_long(long) → 32-byte big-endian binary (unsigned widen). */
  val u256_from_long = unary("u256_from_long", LongType, BinaryType,
    "ExprImpl.u256FromLong")(_ => (v: Long) => ExprImpl.u256FromLong(v))
  /** u256_to_decimal(32-byte BE binary) → Decimal(38,0), null on overflow.
    * Reference: ERC-20 amounts decoded as Decimal256 (erc20 pipeline DDL). */
  val u256_to_decimal = unary("u256_to_decimal", BinaryType, decimal,
    "ExprImpl.u256ToDecimal", nullable = true)(
    _ => (b: Array[Byte]) => ExprImpl.u256ToDecimal(b))
  /** s256_from_long(long) → 32-byte BE sign-extended binary. */
  val s256_from_long = unary("s256_from_long", LongType, BinaryType,
    "S256Impl.s256FromLong")(_ => (v: Long) => S256Impl.s256FromLong(v))
  /** s256_to_decimal(32-byte BE two's-complement) → Decimal(38,0). */
  val s256_to_decimal = unary("s256_to_decimal", BinaryType, decimal,
    "S256Impl.s256ToDecimal", nullable = true)(
    _ => (b: Array[Byte]) => S256Impl.s256ToDecimal(b))
  /** u256_mul(a, b) → 32-byte BE binary, mod 2^256. */
  val u256_mul = binary("u256_mul", BinaryType, BinaryType, "U256ArithImpl.mul")(
    (a: Array[Byte], b: Array[Byte]) => U256ArithImpl.mul(a, b))
  /** u256_div(a, b) → 32-byte BE binary (integer division); null on b=0. */
  val u256_div = binary("u256_div", BinaryType, BinaryType, "U256ArithImpl.div",
    nullable = true)((a: Array[Byte], b: Array[Byte]) => U256ArithImpl.div(a, b))
  /** u256_ratio_decimal(a, b, scale) → Decimal(38, scale) =
    * floor(a·10^scale / b); null on b=0 or 38-digit overflow. */
  val u256_ratio_decimal = GraftFunction("u256_ratio_decimal",
    Seq(BinaryType, BinaryType), "U256ArithImpl.ratioDecimal", nullable = true,
    Seq("scale"))(p => DecimalType(38, p(0)), p => {
    val scale = p(0)
    (a: Array[Byte], b: Array[Byte]) => U256ArithImpl.ratioDecimal(a, b, scale)
  })

  // ---- little-endian fields (Borsh) and compact-u16 (ShortVec) ----

  /** le_long(binary, offset, width) → long: unsigned LE field. */
  val le_long = unary("le_long", BinaryType, LongType, "LeImpl.leLong",
    nullable = true, Seq("offset", "width")) { p =>
    val (offset, width) = (p(0), p(1))
    (b: Array[Byte]) => LeImpl.leLong(b, offset, width)
  }
  /** le_decimal(binary, offset, width) → Decimal(38,0): unsigned LE field
    * (u128 and friends). */
  val le_decimal = unary("le_decimal", BinaryType, decimal, "LeImpl.leDecimal",
    nullable = true, Seq("offset", "width")) { p =>
    val (offset, width) = (p(0), p(1))
    (b: Array[Byte]) => LeImpl.leDecimal(b, offset, width)
  }
  /** le_from_long(long, width) → width-byte LE binary (encode side). */
  val le_from_long = unary("le_from_long", LongType, BinaryType,
    "LeImpl.leFromLong", params = Seq("width")) { p =>
    val width = p(0)
    (v: Long) => LeImpl.leFromLong(v, width)
  }
  /** shortvec_value(binary, offset) → long: compact-u16 value. */
  val shortvec_value = unary("shortvec_value", BinaryType, LongType,
    "ShortVecImpl.value", nullable = true, Seq("offset")) { p =>
    val offset = p(0)
    (b: Array[Byte]) => ShortVecImpl.value(b, offset)
  }
  /** shortvec_width(binary, offset) → int: bytes the compact-u16 occupies. */
  val shortvec_width = unary("shortvec_width", BinaryType, IntegerType,
    "ShortVecImpl.width", nullable = true, Seq("offset")) { p =>
    val offset = p(0)
    (b: Array[Byte]) => ShortVecImpl.width(b, offset)
  }
  /** shortvec_from_long(long) → 1–3-byte compact-u16 binary; null out of
    * range (encode side). */
  val shortvec_from_long = unary("shortvec_from_long", LongType, BinaryType,
    "ShortVecImpl.encode", nullable = true)(_ => (v: Long) => ShortVecImpl.encode(v))

  // ---- text, near-dup and vector kernels ----

  /** md5_window(string, start, len) → long: hex-nibble window [start,
    * start+len) of md5(input), the codegen'd twin of
    * conv(substring(md5(c), start+1, len), 16, 10) (the oracle-portable
    * hash family's SQL spelling; SURVEY.md d03/t04). */
  val md5_window = unary("md5_window", StringType, LongType, "ExprImpl.md5Window",
    params = Seq("start", "len")) { p =>
    val (start, len) = (p(0), p(1))
    require(start >= 0 && len >= 1 && len <= 15 && start + len <= 32,
      s"md5 nibble window [$start, ${start + len}) outside a 32-nibble digest " +
        "or wider than a positive long")
    (s: UTF8String) => ExprImpl.md5Window(s, start, len)
  }
  /** md5_family(string) → array<long>: [hash60, x1, x2, x3, x4] of one
    * digest, the five portable-family coordinates d02/d12 derive per
    * shingle, in one fused pass. */
  val md5_family = unary("md5_family", StringType, minima, "ExprImpl.md5Family")(
    _ => (s: UTF8String) => ExprImpl.md5Family(s))
  /** simhash64(array<long>) → long: per-bit majority over token hashes
    * (SURVEY.md d03). */
  val simhash64 = unary("simhash64", longs, LongType, "ExprImpl.simhash64")(
    _ => (h: ArrayData) => ExprImpl.simhash64(h))
  /** minhashes(array<long>, k) → array<long>: k MinHash values in one pass
    * (SURVEY.md d02/s02). */
  val minhashes = unary("minhashes", longs, minima, "ExprImpl.minhashes",
    params = Seq("k")) { p =>
    val k = p(0)
    (h: ArrayData) => ExprImpl.minhashes(h, k)
  }
  /** lsh_sign_bits(array<float>, planes) → long signature for
    * sign-random-projection ANN bucketing (SURVEY.md s02). */
  val lsh_sign_bits = unary("lsh_sign_bits", floats, LongType,
    "ExprImpl.lshSignBits", params = Seq("planes")) { p =>
    val planes = p(0)
    (v: ArrayData) => ExprImpl.lshSignBits(v, planes)
  }
  /** cosine_similarity(array<float>, array<float>) → double; fused
    * dot+norms loop (SURVEY.md s01/d05 hot kernel). */
  val cosine_similarity = binary("cosine_similarity", floats, DoubleType,
    "ExprImpl.cosineSim")((a: ArrayData, b: ArrayData) => ExprImpl.cosineSim(a, b))
  /** dot_product(array<float>, array<float>) → double: the unnormalized
    * MIPS scoring kernel. */
  val dot_product = binary("dot_product", floats, DoubleType,
    "ExprImpl.dotProduct")((a: ArrayData, b: ArrayData) => ExprImpl.dotProduct(a, b))
  /** cosine_similarity_i8(array<tinyint>, array<tinyint>) → double: the
    * int8-quantized twin of cosine_similarity (symmetric quantization
    * scales cancel, so cosine runs on the raw codes). */
  val cosine_similarity_i8 = binary("cosine_similarity_i8", ArrayType(ByteType),
    DoubleType, "ExprImpl.cosineSimI8")(
    (a: ArrayData, b: ArrayData) => ExprImpl.cosineSimI8(a, b))

  val declared: Seq[GraftFunction] = Seq(keccak256, base58_encode,
    base58_decode, u256_from_long, u256_to_decimal, s256_from_long,
    s256_to_decimal, u256_mul, u256_div, u256_ratio_decimal, le_long,
    le_decimal, le_from_long, shortvec_value, shortvec_width,
    shortvec_from_long, md5_window, md5_family, simhash64, minhashes,
    lsh_sign_bits, cosine_similarity, dot_product, cosine_similarity_i8)
}
