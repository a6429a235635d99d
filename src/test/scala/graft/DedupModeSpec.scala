package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The two output shapes of one near-dup relation: d02/d06 emit the
  * pair list, d14/d15 the keep-first assignment. The assignment must
  * be DERIVABLE from the pairs — the keep-first canonical recomputed
  * per-doc from the pair list is the assignment — so any drift between
  * the two banding paths breaks the re-derivation.
  */
class DedupModeSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  /** Keep-first canonical from an undirected pair list: canonical(d) =
    * min({d} ∪ partners(d)); everything else is its own canonical. */
  private def canonFromPairs(ids: Seq[Long],
      pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val best = scala.collection.mutable.Map.empty[Long, Long]
    pairs.foreach { case (a, b) =>
      best(b) = math.min(best.getOrElse(b, b), a)
      best(a) = math.min(best.getOrElse(a, a), b)
    }
    ids.map(d => d -> math.min(d, best.getOrElse(d, d))).toMap
  }

  private def assertDerives(assign: org.apache.spark.sql.DataFrame,
      ids: Seq[Long], pairs: Seq[(Long, Long)]): Unit = {
    val want = canonFromPairs(ids, pairs)
    val got = assign.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (d, c) =>
      assert(got(d) === ((c, c < d)),
        s"doc $d: assignment ${got(d)} != pair-derived ($c, ${c < d})")
    }
  }

  test("d02: the pair output derives d14's assignment") {
    val pairs = Dedup.d02DedupMinhash(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assertDerives(Dedup.d14DedupAssign(spark, sfDir), ids, pairs.toSeq)
  }

  test("d06: the pair output derives d15's assignment") {
    val pairs = Dedup.d06DedupEmbeddingLsh(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assertDerives(Dedup.d15EmbeddingAssign(spark, sfDir), ids, pairs.toSeq)
  }
}
