package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pipelines

/** p01's one-pass fold on a planted events table: the cases the sf0.01
  * oracle never reaches (it has no null user_id) — null-user swaps, a
  * purchase whose props lack `$.k`, a single-swap user, and non-swap
  * events between swaps — against hand-computed rows.
  */
class SwapsPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  /** events.parquet with the events table's schema; one row per tuple, ts as
    * hours from t0, event_id in row order. */
  private def eventsDir(
      rows: Seq[(java.lang.Long, Int, String, Double, String)]): String = {
    val dir = Files.createTempDirectory("graft-swaps").toString
    val t0 = 1700000000000L // millis
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val data = rows.zipWithIndex.map { case ((user, hours, typ, v, props), i) =>
      Row(i.toLong, new Timestamp(t0 + hours * 3600000L), user, typ, v, props)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("p01: null users, a null amount, a lone swap and non-swap events") {
    def e(u: java.lang.Long, h: Int, t: String, v: Double = 0.0,
        props: String = "{}") = (u, h, t, v, props)
    val dir = eventsDir(Seq(
      // u1: click 10 -> purchase 4 matches (in 10, out 4); purchase 4's
      // successor has no $.k, so its match drops; that null-amount
      // purchase -> click 7 matches with a null out (in 7); the view and
      // signup between swaps are not swaps. n_swaps 4, n_matched 2.
      e(1L, 0, "click", 10.0), e(1L, 1, "view", 99.0),
      e(1L, 2, "purchase", props = """{"k": 4}"""), e(1L, 3, "signup"),
      e(1L, 4, "purchase", props = """{"j": 1}"""), e(1L, 5, "click", 7.0),
      // u2: one swap -> nothing to match, no output row
      e(2L, 0, "click", 5.0), e(2L, 1, "view", 3.0),
      // u3: purchase 2.5 -> purchase 1.25 across a view and a signup
      // (in 1.25, out 2.5). n_swaps 2, n_matched 1.
      e(3L, 0, "purchase", props = """{"k": 2.5}"""), e(3L, 1, "view"),
      e(3L, 2, "signup"), e(3L, 3, "purchase", props = """{"k": 1.25}"""),
      // null users: two adjacent swaps that must never surface
      e(null, 0, "click", 100.0), e(null, 1, "click", 200.0),
      e(null, 2, "purchase", props = """{"k": 3}""")))
    val df = Pipelines.p01SwapsPipeline(spark, dir)
    assert(df.columns.toSeq ===
      Seq("user_id", "n_swaps", "sum_in", "sum_out", "n_matched"))
    assert(df.collect().toSeq === Seq(
      Row(1L, 4L, 17.0, 4.0, 2L),
      Row(3L, 2L, 1.25, 2.5, 1L)))
  }
}
