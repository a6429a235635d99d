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
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] =
    GraftFunction.declared.map(f => f.name -> (f.fromSql _)) ++ Seq(
      "minhash_scrambled" -> (es => MinHashScrambled(es(0), es(1), es(2), es(3))),
      "u256_sum" -> (es => U256Sum(es.head).toAggregateExpression()))

  /** Make every graft function callable from SQL text on this session.
    * Idempotent; `Session.enforce` runs it. */
  def registerSql(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (n, b) => Interop.registerFunction(spark, n, b) }

  /** `f` over `columns`, with `params` for its integer parameters. */
  private def call(f: GraftFunction, columns: Column*)(params: Int*): Column =
    Interop.column(f.expr(columns.map(Interop.expression), params))

  def keccak256(c: Column): Column = call(GraftFunction.keccak256, c)()
  def base58_encode(c: Column): Column = call(GraftFunction.base58_encode, c)()
  def base58_decode(c: Column): Column = call(GraftFunction.base58_decode, c)()
  def u256_from_long(c: Column): Column = call(GraftFunction.u256_from_long, c)()
  def u256_to_decimal(c: Column): Column = call(GraftFunction.u256_to_decimal, c)()
  def s256_from_long(c: Column): Column = call(GraftFunction.s256_from_long, c)()
  def s256_to_decimal(c: Column): Column = call(GraftFunction.s256_to_decimal, c)()
  def u256_mul(a: Column, b: Column): Column = call(GraftFunction.u256_mul, a, b)()
  def u256_div(a: Column, b: Column): Column = call(GraftFunction.u256_div, a, b)()
  /** floor(a·10^scale / b) as Decimal(38, scale) — exact Decimal256-style
    * ratio math (swap_prices.py:203-217). */
  def u256_ratio_decimal(a: Column, b: Column, scale: Int): Column =
    call(GraftFunction.u256_ratio_decimal, a, b)(scale)
  /** Exact 256-bit unsigned SUM (ClickHouse UInt256 semantics). */
  def u256_sum(c: Column): Column =
    Interop.column(U256Sum(Interop.expression(c)).toAggregateExpression())
  def le_long(c: Column, off: Int, w: Int): Column = call(GraftFunction.le_long, c)(off, w)
  def le_decimal(c: Column, off: Int, w: Int): Column =
    call(GraftFunction.le_decimal, c)(off, w)
  def le_from_long(c: Column, w: Int): Column = call(GraftFunction.le_from_long, c)(w)
  def shortvec_value(c: Column, off: Int): Column =
    call(GraftFunction.shortvec_value, c)(off)
  def shortvec_width(c: Column, off: Int): Column =
    call(GraftFunction.shortvec_width, c)(off)
  def shortvec_from_long(c: Column): Column = call(GraftFunction.shortvec_from_long, c)()
  /** Index of the first matching registry variant, or null. */
  def variant_index(programId: Column, data: Column,
      variants: Seq[VariantIndex.Variant]): Column =
    Interop.column(VariantIndex(Interop.expression(programId),
      Interop.expression(data), variants))
  def md5_window(c: Column, start: Int, len: Int): Column =
    call(GraftFunction.md5_window, c)(start, len)
  def md5_family(c: Column): Column = call(GraftFunction.md5_family, c)()
  def simhash64(c: Column): Column = call(GraftFunction.simhash64, c)()
  def minhashes(c: Column, k: Int): Column = call(GraftFunction.minhashes, c)(k)
  def minhash_scrambled(x1: Column, x2: Column, x3: Column,
      x4: Column): Column =
    Interop.column(MinHashScrambled(Interop.expression(x1),
      Interop.expression(x2), Interop.expression(x3),
      Interop.expression(x4)))
  def lsh_sign_bits(c: Column, planes: Int): Column =
    call(GraftFunction.lsh_sign_bits, c)(planes)
  def cosine_similarity(a: Column, b: Column): Column =
    call(GraftFunction.cosine_similarity, a, b)()
  def dot_product(a: Column, b: Column): Column = call(GraftFunction.dot_product, a, b)()
  def cosine_similarity_i8(a: Column, b: Column): Column =
    call(GraftFunction.cosine_similarity_i8, a, b)()
}
