package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Interop

/** Column-level API over graft's custom Catalyst expressions — the Scala
  * twin of cherry-core's function surface (keccak/base58/u256) plus the
  * simhash primitive used by the dedup operators. `registerSql` exposes
  * the same functions to `spark.sql(...)` text.
  */
package object functions {

  /** (name, builder) pairs for every graft SQL function. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "keccak256" -> (es => KeccakHash256(es.head)),
    "base58_encode" -> (es => Base58Encode(es.head)),
    "base58_decode" -> (es => Base58Decode(es.head)),
    "u256_from_long" -> (es => U256FromLong(es.head)),
    "u256_to_decimal" -> (es => U256ToDecimal(es.head)),
    "s256_from_long" -> (es => S256FromLong(es.head)),
    "s256_to_decimal" -> (es => S256ToDecimal(es.head)),
    "simhash64" -> (es => SimHash64(es.head)),
    "md5_window" ->
      (es => Md5Window(es(0), litInt(es(1), "start"), litInt(es(2), "len"))),
    "md5_family" -> (es => Md5Family(es.head)),
    "cosine_similarity" -> (es => CosineSimilarity(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "cosine_similarity_i8" -> (es => CosineSimilarityI8(es(0), es(1))),
    "u256_sum" -> (es => U256Sum(es.head).toAggregateExpression()),
    "u256_mul" -> (es => U256Mul(es(0), es(1))),
    "u256_div" -> (es => U256Div(es(0), es(1))),
    "u256_ratio_decimal" ->
      (es => U256RatioDecimal(es(0), es(1), litInt(es(2), "scale"))),
    "le_long" ->
      (es => LeLong(es(0), litInt(es(1), "offset"), litInt(es(2), "width"))),
    "le_decimal" ->
      (es => LeDecimal(es(0), litInt(es(1), "offset"), litInt(es(2), "width"))),
    "le_from_long" -> (es => LeFromLong(es(0), litInt(es(1), "width"))),
    "shortvec_value" ->
      (es => ShortvecValue(es(0), litInt(es(1), "offset"))),
    "shortvec_width" ->
      (es => ShortvecWidth(es(0), litInt(es(1), "offset"))),
    "shortvec_from_long" -> (es => ShortvecFromLong(es(0))))

  /** Static int parameters (offsets/widths/scales) must be literals in
    * SQL text — they shape the expression itself. Any integral literal
    * width is accepted (8, 8L, 8S, 8Y) as long as the value fits Int. */
  private def litInt(e: Expression, what: String): Int = {
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

  /** Make every graft function callable from SQL text on this session. */
  def registerSql(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (n, b) => Interop.registerFunction(spark, n, b) }
  private def u(c: Column)(f: org.apache.spark.sql.catalyst.expressions.Expression
      => org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Interop.column(f(Interop.expression(c)))

  def keccak256(c: Column): Column      = u(c)(KeccakHash256)
  def base58_encode(c: Column): Column  = u(c)(Base58Encode)
  def base58_decode(c: Column): Column  = u(c)(Base58Decode)
  def u256_from_long(c: Column): Column = u(c)(U256FromLong)
  def u256_to_decimal(c: Column): Column = u(c)(U256ToDecimal)
  def simhash64(c: Column): Column      = u(c)(SimHash64)
  def md5_window(c: Column, start: Int, len: Int): Column =
    u(c)(Md5Window(_, start, len))
  def md5_family(c: Column): Column     = u(c)(Md5Family)
  def s256_from_long(c: Column): Column = u(c)(S256FromLong)
  def s256_to_decimal(c: Column): Column = u(c)(S256ToDecimal)
  def le_long(c: Column, off: Int, w: Int): Column = u(c)(LeLong(_, off, w))
  def le_decimal(c: Column, off: Int, w: Int): Column = u(c)(LeDecimal(_, off, w))
  def le_from_long(c: Column, w: Int): Column = u(c)(LeFromLong(_, w))
  def shortvec_value(c: Column, off: Int): Column = u(c)(ShortvecValue(_, off))
  def shortvec_width(c: Column, off: Int): Column = u(c)(ShortvecWidth(_, off))
  def shortvec_from_long(c: Column): Column = u(c)(ShortvecFromLong)
  /** Index of the first matching registry variant, or null. */
  def variant_index(programId: Column, data: Column,
      variants: Seq[VariantIndex.Variant]): Column =
    Interop.column(VariantIndex(Interop.expression(programId),
      Interop.expression(data), variants))
  def minhashes(c: Column, k: Int): Column = u(c)(MinHashes(_, k))
  def minhash_scrambled(x1: Column, x2: Column, x3: Column,
      x4: Column): Column =
    Interop.column(MinHashScrambled(Interop.expression(x1),
      Interop.expression(x2), Interop.expression(x3),
      Interop.expression(x4)))
  def lsh_sign_bits(c: Column, planes: Int): Column = u(c)(LshSignBits(_, planes))
  def cosine_similarity(a: Column, b: Column): Column =
    Interop.column(CosineSimilarity(Interop.expression(a), Interop.expression(b)))
  def dot_product(a: Column, b: Column): Column =
    Interop.column(DotProduct(Interop.expression(a), Interop.expression(b)))
  def cosine_similarity_i8(a: Column, b: Column): Column =
    Interop.column(CosineSimilarityI8(Interop.expression(a), Interop.expression(b)))
  /** Exact 256-bit unsigned SUM (ClickHouse UInt256 semantics). */
  def u256_sum(c: Column): Column =
    Interop.column(U256Sum(Interop.expression(c)).toAggregateExpression())
  def u256_mul(a: Column, b: Column): Column =
    Interop.column(U256Mul(Interop.expression(a), Interop.expression(b)))
  def u256_div(a: Column, b: Column): Column =
    Interop.column(U256Div(Interop.expression(a), Interop.expression(b)))
  /** floor(a·10^scale / b) as Decimal(38, scale) — exact Decimal256-style
    * ratio math (swap_prices.py:203-217). */
  def u256_ratio_decimal(a: Column, b: Column, scale: Int): Column =
    Interop.column(U256RatioDecimal(Interop.expression(a),
      Interop.expression(b), scale))
}
