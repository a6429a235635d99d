package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Funnel, Relational}

/** The hot-user (power-law) safety specs for q44: the funnel plan must
  * carry three longs of per-user state through a secondary-sort
  * streaming fold — NEVER a per-user event array — so one bot user
  * holding ~10% of a 100 TB corpus costs a sort-spill, not a task OOM.
  * Planted skew at spec scale verifies correctness under the skew; the
  * plan-shape test pins the no-array property itself.
  */
class FunnelSkewSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  private val W = 24L * 3600 * 1000000

  /** The reference level: the micro-batch fold over q44's chain, fed
    * one user's events in any order (it sorts its slice). */
  private def foldLevel(es: Seq[Funnel.FEv]): Long = {
    val levelOf = Funnel.chain3.zipWithIndex.toMap
    Funnel.levelK(Funnel.foldFunnelK(W, levelOf,
      Funnel.unreachedK(Funnel.chain3.length), es.iterator))
  }

  /** Deterministic planted power-law corpus: user 1 holds ~10% of all
    * events; 500 cold users share the rest. Types and hours come from
    * a fixed-seed PRNG so the spec replays byte-identically. */
  private def skewedRows(): Seq[(Long, Long, Double, String)] = {
    val rnd = new scala.util.Random(20260816L)
    val types = Array("view", "click", "purchase", "error", "signup")
    var eid = 0L
    def mk(u: Long): (Long, Long, Double, String) = {
      eid += 1
      (u, eid, rnd.nextDouble() * 2000.0, types(rnd.nextInt(types.length)))
    }
    val hot = Seq.fill(4000)(mk(1L))
    val cold = (2L to 501L).flatMap(u => Seq.fill(72)(mk(u)))
    hot ++ cold // 4000 / 40000 = 10% on one key
  }

  private def writeEvents(rows: Seq[(Long, Long, Double, String)]): String = {
    val dir = Files.createTempDirectory("graft-skew").toString
    val t0 = 1700000000000000L
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val data = rows.map { case (u, eid, hours, typ) =>
      Row(eid, new Timestamp((t0 + (hours * 3600e6).toLong) / 1000L),
        u, typ, 1.0, "{}")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q44 on a planted 10%-hot-user corpus matches the reference fold") {
    val rows = skewedRows()
    val dir = writeEvents(rows)
    val t0us = 1700000000000000L
    // driver-side reference: per user, the shared fold over the user's
    // funnel events in (ts, event_id) order — micros truncated to the
    // millisecond exactly as the Timestamp write path does
    val expect = rows.groupBy(_._1).map { case (u, es) =>
      val fes = es.collect { case (_, eid, h, t)
          if t == "view" || t == "click" || t == "purchase" =>
        Funnel.FEv(u, eid, (t0us + (h * 3600e6).toLong) / 1000L * 1000L, t)
      }
      u -> foldLevel(fes)
    }
    val got = Relational.q44Funnel(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === expect.size)
    assert(got === expect)
    assert(got(1L) === 3L, "a 4000-event hot user should convert")
  }

  test("q44's plan carries three-long state, never per-user arrays") {
    val qe = Relational.q44Funnel(spark, SparkSessionFixture.sfDir)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("collect_list"),
      "per-user event arrays are the hot-user OOM — q44 must stream")
    assert(!plan.contains("sort_array"))
    assert(plan.contains("MapPartitions"),
      "expected the secondary-sort mapPartitions fold in the plan")
  }

  test("levelsByUser streams a clustered iterator exactly as the fold") {
    val rnd = new scala.util.Random(7L)
    val types = Array("view", "click", "purchase")
    val evs = (1L to 40L).flatMap { u =>
      Seq.fill(rnd.nextInt(30) + 1)(Funnel.FEv(u, rnd.nextLong(1000000),
        rnd.nextLong(100L * W), types(rnd.nextInt(3))))
    }
    // cluster by user, secondary-sort within — the q44 partition shape
    val clustered = evs.sortBy(e => (e.user_id, e.ts_us, e.event_id))
    val got = Funnel.levelsByUserK(W, Funnel.chain3, clustered.iterator)
      .map(uf => uf.user_id -> uf.funnel_level).toMap
    val expect = evs.groupBy(_.user_id).map { case (u, es) =>
      u -> foldLevel(es)
    }
    assert(got === expect)
  }

  test("levelsByUserK streams a clustered iterator, hot user included, " +
    "exactly as foldFunnelK") {
    val rnd = new scala.util.Random(7L)
    val types = Array("view", "click", "purchase")
    def evsOf(u: Long, n: Int) = Seq.fill(n)(Funnel.FEv(u,
      rnd.nextLong(1000000), rnd.nextLong(100L * W), types(rnd.nextInt(3))))
    // user 0 is hot: 4000 events, as many as the 40 cold users together
    val evs = evsOf(0L, 4000) ++
      (1L to 40L).flatMap(u => evsOf(u, rnd.nextInt(30) + 1))
    // cluster by user, secondary-sort within — the q44 partition shape
    val clustered = evs.sortBy(e => (e.user_id, e.ts_us, e.event_id))
    val got = Funnel.levelsByUserK(W, Funnel.chain3, clustered.iterator)
      .map(uf => uf.user_id -> uf.funnel_level).toMap
    val expect = evs.groupBy(_.user_id).map { case (u, es) =>
      u -> foldLevel(es)
    }
    assert(got === expect)
    assert(got(0L) === 3L, "a 4000-event hot user should convert")
  }
}
