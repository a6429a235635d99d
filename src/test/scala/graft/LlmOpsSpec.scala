package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Behavior specs for the LLM-training-data operators (SURVEY.md §2
  * d/s/t/m): recall on planted near-duplicates, language-ID on real
  * sentences, fingerprint invariance, ANN recall of the LSH path against
  * the exact path, and the multimodal schema/stat contract. Planted cases
  * run against a temp table dir so the full loader→operator path is what's
  * under test.
  */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  /** Write a documents.parquet with the driver's schema into a temp dir. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = Files.createTempDirectory("graft-docs").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val data = rows.map { case (id, text) =>
      Row(id, text, "en", "srcT", text.length.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val vocabA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu one two three four".split(" ")
  private val baseText = vocabA.mkString(" ")                  // 30 words
  private val nearDup = (vocabA.updated(14, "CHANGED")).mkString(" ")
  private val unrelated = (1 to 30).map(i => s"w$i").mkString(" ")

  test("m09 scene split: a planted feature jump cuts exactly one " +
    "boundary; uniform docs stay one scene") {
    // doc 0: two 128-char halves — all-'x' frames (f1=0, f2=0) then
    // 'e '-patterned frames (f1=32, f2=32): L1 jump 64 > 6 at frame 2.
    // doc 1: uniform → a single scene spanning every frame.
    val dir = docsDir(Seq(
      (0L, "x" * 128 + "e " * 64),
      (1L, "x" * 256)))
    val got = graft.operators.Multimodal.m09SceneSplit(spark, dir)
      .orderBy("doc_id", "scene_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getLong(4))).toSeq
    assert(got === Seq(
      (0L, 1L, 0, 1, 2L), (0L, 2L, 2, 3, 2L), (1L, 1L, 0, 3, 4L)))
  }

  test("t21 tf-idf: a planted rare token outranks the corpus-wide filler") {
    // doc 0 carries 'zzrare' once; 'filler' floods every doc. idf makes
    // the singleton win doc 0's rank 1 despite tf 1 vs filler's tf 5.
    val dir = docsDir(Seq(
      (0L, "filler filler filler filler filler zzrare"),
      (1L, "filler filler filler filler filler aa"),
      (2L, "filler filler filler filler filler bb"),
      (3L, "filler filler filler filler filler cc")))
    val out = graft.operators.TextAnalysis.t21TfidfKeywords(spark, dir)
    val top = out.filter(col("doc_id") === 0L && col("rnk") === 1L)
      .select("token", "tf", "df").collect()
    assert(top.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq(("zzrare", 1L, 1L)))
    // exactly min(5, distinct tokens) rows per doc, ranks contiguous
    val perDoc = out.groupBy("doc_id").agg(
      count(lit(1)).as("n"), max("rnk").as("mx")).collect()
    perDoc.foreach(r => assert(r.getLong(1) === r.getInt(2).toLong))
    // score arithmetic: tf * (2N - 2df + 1) * 1000 div (2df + 1)
    val z = out.filter(col("token") === "zzrare").select("score_q")
      .head().getLong(0)
    assert(z === (1L * (2 * 4 - 2 * 1 + 1) * 1000L) / (2 * 1 + 1))
  }

  test("t10 contamination flags every planted doc, nothing boundary-only") {
    val out = graft.operators.TextAnalysis
      .t10Contamination(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every corpus doc carrying the probe phrase (37 | doc_id, not an
    // eval doc) must be flagged with AT LEAST the 8 in-phrase 13-grams
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val planted = (0L until nDocs).filter(d => d % 37 == 0 && d % 50 != 0)
    planted.foreach { d =>
      assert(out.contains(d), s"planted doc $d not flagged")
      assert(out(d) >= 8, s"doc $d: expected >=8 shared grams, got ${out(d)}")
    }
  }

  test("t11 stratified sample hits per-stratum rates and is deterministic") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = graft.operators.TextAnalysis
      .t11StratifiedSample(spark, sfDir).collect()
    val kept = sampled.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // zh keeps everything ('ff' threshold); en keeps ~12.5% (binomial
    // slack at n≈200: accept 4%..25%)
    assert(kept("zh") === totals("zh").toInt)
    val enRate = kept.getOrElse("en", 0).toDouble / totals("en")
    assert(enRate > 0.04 && enRate < 0.25, s"en rate $enRate")
    // determinism: a second run returns the identical id set
    val again = graft.operators.TextAnalysis
      .t11StratifiedSample(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(again === sampled.map(_.getLong(0)).toSet)
  }

  test("d07 url dedup: variants collapse, keeper is min, rules verified") {
    val rows = graft.operators.Dedup.d07UrlDedup(spark, sfDir).collect()
    // every canonical url is fully normalized: no case, ports, www, utm
    rows.foreach { r =>
      val u = r.getString(0)
      assert(u === u.toLowerCase && !u.contains("www.") &&
        !u.contains(":443") && !u.contains(":80") && !u.contains("utm_") &&
        !u.endsWith("/"), s"un-normalized canonical: $u")
    }
    // doc d and d+400 share (source, item) → exactly the n_variants=2 rows
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val expectedPairs = math.max(0L, nDocs - 400L)
    assert(rows.count(_.getLong(2) === 2L) === expectedPairs)
    rows.filter(_.getLong(2) === 2L).foreach { r =>
      assert(r.getLong(1) < 400L, s"keeper must be the lower doc_id: $r")
    }
  }

  test("d08 clusters close transitive chains a~b~c into one component") {
    val words = (1 to 60).map(i => f"tok$i%02d")
    val dir = docsDir(Seq(
      (0L, words.slice(0, 30).mkString(" ")),   // overlaps doc 1 only
      (1L, words.slice(15, 45).mkString(" ")),  // bridges 0 and 2
      (2L, words.slice(30, 60).mkString(" ")),  // overlaps doc 1 only
      (3L, (1 to 30).map(i => s"zz$i").mkString(" ")))) // isolated
    val out = graft.operators.Dedup.d08DedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0 and 2 share NO shingles, yet belong to one component via 1 —
    // the case pairwise keep-lowest handles wrong and clustering fixes
    assert(out === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("d02 minhash-LSH finds exact and near duplicates, skips unrelated") {
    val dir = docsDir(Seq(
      0L -> baseText, 1L -> baseText, 2L -> nearDup, 3L -> unrelated))
    val pairs = Dedup.d02DedupMinhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup must collide and pass tau")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
      "one-word mutation keeps 3-gram jaccard ~0.8 >= 0.6")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("d03 simhash pairs exact duplicates at hamming 0") {
    val dir = docsDir(Seq(0L -> baseText, 1L -> baseText, 2L -> unrelated))
    val rows = Dedup.d03DedupSimhash(spark, dir).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)))
    assert(rows.head.getInt(2) === 0, "identical text → identical signature")
  }

  test("d04 exact jaccard agrees with hand computation on the planted pair") {
    val dir = docsDir(Seq(0L -> baseText, 1L -> nearDup, 2L -> unrelated))
    val byPair = Dedup.d04NgramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // 30 words → 28 distinct shingles; a word-14 mutation replaces 3 of
    // them → |∩|=25, |∪|=31.
    assert(math.abs(byPair((0L, 1L)) - 25.0 / 31.0) < 1e-12)
    assert(!byPair.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("d16 containment flags the quoted-inside case Jaccard misses") {
    val extra = (1 to 70).map(i => s"pad$i").mkString(" ")
    val dir = docsDir(Seq(
      0L -> baseText,                    // 30 words, fully quoted in 1
      1L -> (baseText + " " + extra),    // 100-word container
      2L -> unrelated))
    val rows = Dedup.d16Containment(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    // the quoted doc is 100% contained; the container is far below τ
    val (aInB, bInA) = rows((0L, 1L))
    assert(aInB === 1.0 && bInA < 0.4, s"containment: $aInB / $bInA")
    assert(!rows.keySet.exists(p => p._1 == 2L || p._2 == 2L))
    // and symmetric Jaccard on the same pair sits below d02's τ=0.6 —
    // the case this operator exists for
    val jac = Dedup.d04NgramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jac((0L, 1L)) < 0.6,
      s"planted pair must be invisible to resemblance: ${jac((0L, 1L))}")
  }

  test("t05 sketch stats: exact facts match, tolerance flags all true") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val got = TextAnalysis.t05CorpusStats(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val docs = graft.sources.Tables(spark, sfDir).documents
    val exact = docs.groupBy("source")
      .agg(countDistinct(col("lang")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === exact.keySet)
    exact.foreach { case (src, d) =>
      val r = got(src)
      assert(r.getLong(2) === d, s"$src n_langs_exact")
      // every sketch must sit inside its advertised error band — this
      // is the same contract the DuckDB oracle pins to TRUE
      assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6),
        s"$src sketch outside tolerance: $r")
    }
  }

  test("words equals the non-empty split filter row for row, sizes " +
    "included: null, empty, blank, edge and doubled spaces, mixed case") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{filter, length, lower, size, split}
    val texts = Seq(null, "", "   ", " lead", "trail ", "a  b",
      "  two   gaps  ", "Mixed CASE Words")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 2),
      StructType(Seq(StructField("text", StringType))))
    // the spelling every tokenizer site used before
    val old = (c: Column) => filter(split(c, " "), w => length(w) > 0)
    val t = col("text")
    val rows = df.select(t,
      TextAnalysis.words(t), old(t),
      TextAnalysis.words(lower(t)), old(lower(t)),
      size(TextAnalysis.words(t)), size(old(t)),
      TextAnalysis.tokCount(t), size(old(lower(t)))).collect()
    assert(rows.length === texts.length)
    rows.foreach { r =>
      for (i <- 1 until 9 by 2)
        assert(r.get(i) == r.get(i + 1), s"text '${r.get(0)}', column $i")
    }
    val byText = rows.map(r => Option(r.getString(0)) -> r).toMap
    assert(byText(None).isNullAt(1), "null text tokenizes to null")
    assert(byText(Some("")).getSeq[String](1).isEmpty)
    assert(byText(Some("   ")).getSeq[String](1).isEmpty)
    assert(byText(Some("  two   gaps  ")).getSeq[String](1) ===
      Seq("two", "gaps"))
    assert(byText(Some("Mixed CASE Words")).getSeq[String](3) ===
      Seq("mixed", "case", "words"))
  }

  test("t01 language ID picks the stopword-dominant language") {
    val dir = docsDir(Seq(
      0L -> "the cat sat on the mat and it is happy you see that",
      1L -> "der hund ist nicht zu haus und ich bin mit dem auto",
      2L -> "el perro y el gato de la casa que corre por los campos con una bola",
      3L -> "le chien est dans la maison pour les enfants et pas une fois",
      4L -> "qwerty zxcvb asdfgh"))
    val got = TextAnalysis.t01LangId(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(0L -> "en", 1L -> "de", 2L -> "es", 3L -> "fr",
      4L -> "unknown"))
  }

  test("t04 fingerprint is content-determined and content-sensitive") {
    val dir = docsDir(Seq(0L -> baseText, 1L -> baseText, 2L -> unrelated))
    val rows = TextAnalysis.t04Fingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(0L) === rows(1L), "same content → same fingerprint")
    // A small mutation may keep the min/max sample (that robustness is the
    // point of min-sampling); disjoint content must not.
    assert(rows(0L) !== rows(2L), "disjoint content → different fingerprint")
  }

  test("s05 PQ ANN: ADC over 4-bit codes keeps usable recall vs s01") {
    val exact = Similarity.s01AnnBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.s05AnnPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.keySet === (0L until 10L).toSet)
    approx.values.foreach(s => assert(s.size === 5))
    val hits = exact.keys.toSeq.map(q =>
      (exact(q) intersect approx.getOrElse(q, Set.empty)).size).sum
    val recall = hits.toDouble / (exact.size * 5)
    // ≥ 0.6 (raised round 9 with the top-100 shortlist): the bar a
    // targeted-mining user would actually accept from a PQ index
    assert(recall >= 0.6, s"PQ recall@5 too low: $recall")
  }

  test("s09 recall eval: one row per ladder rung, recall consistent with" +
    " the per-method specs and n_hit arithmetic") {
    val rows = Similarity.s09AnnRecallEval(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet === Set("int8", "ivf", "lsh", "pq"))
    rows.foreach { case (m, (nExact, nHit, recall)) =>
      assert(nExact === 50L, s"$m truth set must be Q*k = 50")
      assert(nHit >= 0L && nHit <= nExact)
      assert(math.abs(recall - nHit.toDouble / nExact) < 1e-12,
        s"$m recall must be n_hit/n_exact")
    }
    // the same bars the per-method specs pin, now as queryable data
    assert(rows("int8")._3 >= 0.8, s"int8: ${rows("int8")}")
    assert(rows("pq")._3 >= 0.6, s"pq: ${rows("pq")}")
    assert(rows("ivf")._3 >= 0.5, s"ivf: ${rows("ivf")}")
    assert(rows("lsh")._3 >= 0.2, s"lsh: ${rows("lsh")}")
  }

  test("s02 LSH ANN returns well-formed top-k with usable recall vs s01") {
    val exact = Similarity.s01AnnBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.s02AnnLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.keySet === (0L until 10L).toSet)
    // .keys is a Set — map to a Seq BEFORE summing or equal per-query
    // counts collapse and undercount
    val hits = exact.keys.toSeq.map(q =>
      (exact(q) intersect approx.getOrElse(q, Set.empty)).size).sum
    val recall = hits.toDouble / (exact.size * 5)
    assert(recall >= 0.2, s"LSH recall@5 too low: $recall")
  }

  test("s03 IVF ANN returns well-formed top-k with usable recall vs s01") {
    val exact = Similarity.s01AnnBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.s03AnnIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.keySet === (0L until 10L).toSet)
    approx.values.foreach(s => assert(s.size <= 5))
    val hits = exact.keys.toSeq.map(q =>
      (exact(q) intersect approx.getOrElse(q, Set.empty)).size).sum
    val recall = hits.toDouble / (exact.size * 5)
    info(s"IVF recall@5 = $recall")
    assert(recall >= 0.5, s"IVF recall@5 too low: $recall")
  }

  test("s04 quantized ANN: int8 codes keep cosine ranking nearly intact") {
    val exact = Similarity.s01AnnBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.s04AnnQuantized(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.keySet === (0L until 10L).toSet)
    approx.values.foreach(s => assert(s.size === 5))
    val hits = exact.keys.toSeq.map(q =>
      (exact(q) intersect approx.getOrElse(q, Set.empty)).size).sum
    val recall = hits.toDouble / (exact.size * 5)
    info(s"int8 recall@5 = $recall")
    // quantization noise, not bucketing, is the only loss source here —
    // the bar is far above the LSH/IVF candidate-pruning paths
    assert(recall >= 0.8, s"int8 quantization recall@5 too low: $recall")
  }

  test("d06 LSH dedup: contained in the exact pair set with usable recall") {
    val exact = graft.operators.Dedup.d05DedupEmbedding(spark, sfDir)
      .filter(col("cos") >= 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.operators.Dedup.d06DedupEmbeddingLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 by construction: every candidate is exact-verified at
    // the same τ, so the LSH output must be a subset of the exact pairs
    assert(lsh.subsetOf(exact), s"non-exact pairs leaked: ${lsh diff exact}")
    val recall =
      if (exact.isEmpty) 1.0 else (lsh intersect exact).size.toDouble / exact.size
    info(s"d06 recall vs exact τ≥0.45 pairs = $recall (${exact.size} pairs)")
    assert(recall >= 0.4, s"LSH dedup recall too low: $recall")
  }

  test("m01 multimodal decode stub: schema contract and byte stats") {
    val df = Multimodal.m01MultimodalMeta(spark, sfDir)
    assert(df.schema.fieldNames.toSeq ===
      Seq("doc_id", "width", "height", "format", "n_bytes", "mean_byte",
        "head_hex"))
    val first = df.filter(org.apache.spark.sql.functions.col("doc_id") === 0)
      .collect().head
    val text = graft.sources.Tables(spark, sfDir).documents
      .filter(org.apache.spark.sql.functions.col("doc_id") === 0)
      .collect().head.getAs[String]("text")
    val bytes = text.getBytes("UTF-8")
    assert(first.getAs[Int]("n_bytes") === bytes.length)
    assert(math.abs(first.getAs[Double]("mean_byte") -
      bytes.map(_ & 0xff).sum.toDouble / bytes.length) < 1e-12)
    assert(first.getAs[String]("head_hex") ===
      bytes.take(4).map(b => f"${b & 0xff}%02x").mkString)
  }

  test("cosine kernel: identical vectors → 1.0, orthogonal → 0.0") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.functions.ExprImpl
    val a = ArrayData.toArrayData(Array(1.0f, 2.0f, 3.0f))
    assert(math.abs(ExprImpl.cosineSim(a, a) - 1.0) < 1e-12)
    val x = ArrayData.toArrayData(Array(1.0f, 0.0f))
    val y = ArrayData.toArrayData(Array(0.0f, 1.0f))
    assert(ExprImpl.cosineSim(x, y) === 0.0)
    val zero = ArrayData.toArrayData(Array(0.0f, 0.0f))
    assert(ExprImpl.cosineSim(x, zero) === 0.0)
  }

  test("minhash: deterministic, order-free, and jaccard-correlated") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.functions.ExprImpl
    def mh(xs: Array[Long]): Seq[Long] = {
      val a = ExprImpl.minhashes(ArrayData.toArrayData(xs), 16)
      (0 until 16).map(a.getLong)
    }
    val s1 = (1L to 100L).toArray
    assert(mh(s1) === mh(s1.reverse))
    val s2 = (1L to 95L).toArray ++ Array(201L, 202L, 203L, 204L, 205L)
    val agree = mh(s1).zip(mh(s2)).count { case (a, b) => a == b }
    assert(agree >= 8, s"jaccard 0.90 should keep most minima equal: $agree")
    val far = mh((1000L to 1100L).toArray)
    assert(mh(s1).zip(far).count { case (a, b) => a == b } <= 4)
  }

  test("d09: every SemDeDup keep/drop decision verified brute-force") {
    // the operator's contract: within a cluster, drop iff an EARLIER
    // member sits at cosine >= tau; re-check every decision exhaustively
    // from the raw embeddings (small N at sf0.001)
    val out = Dedup.d09SemDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(out.length === embs.size, "output must cover every vector")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val byCluster = out.groupBy(_._2)
    assert(byCluster.size > 1, "quantizer collapsed to one cluster")
    byCluster.values.foreach { members =>
      members.sortBy(_._1).foreach { case (id, _, kept) =>
        val hasEarlierDup = members.exists { case (o, _, _) =>
          o < id && cos(embs(o), embs(id)) >= 0.45 + 1e-9 }
        val noEarlierDup = !members.exists { case (o, _, _) =>
          o < id && cos(embs(o), embs(id)) >= 0.45 - 1e-9 }
        // epsilon band: only flag decisions that are wrong beyond float
        // rounding of the tau comparison
        if (hasEarlierDup) assert(!kept, s"vec $id kept despite earlier dup")
        if (noEarlierDup) assert(kept, s"vec $id dropped with no earlier dup")
      }
    }
    // the operator must actually deduplicate something at corpus scale
    assert(out.exists(!_._3), "no drops — planted near-dups missed")
  }

  test("t15: resample keeps the most-upweighted lang whole, trims the rest") {
    def toks(t: String) = t.toLowerCase.split(" ").count(_.nonEmpty).toLong
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), toks(r.getString(2))))
    val share = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val total = share.values.sum.toDouble
    val targets = TextAnalysis.mixtureTargets
    // the lang with max target/share ratio gets keep_rate 1 by contract
    val whole = targets.keys.maxBy(l =>
      targets(l) / (share.getOrElse(l, 0L) / total))
    val kept = TextAnalysis.t15MixtureResample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val keptIds = kept.map(_._1).toSet
    docs.filter(_._2 == whole).foreach { case (id, _, _) =>
      assert(keptIds.contains(id), s"rate-1 lang $whole lost doc $id") }
    assert(kept.length < docs.length, "resampling must drop something")
    // deterministic: the second run returns the identical id set
    val again = TextAnalysis.t15MixtureResample(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(again === keptIds)
  }

  test("t13: classifier score equals an independent md5-weight recompute") {
    // pin the hash→weight contract (first 4 md5 hex chars → %2001-1000)
    // against java.security MessageDigest, independent of both engines
    def weight(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex4 = d.take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex4, 16) % 2001L - 1000L
    }
    val got = TextAnalysis
      .t13QualityClassifier(spark, sfDir)
      .limit(20).collect()
    assert(got.nonEmpty)
    val texts = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { r =>
      val toks = texts(r.getLong(0)).toLowerCase.split(" ").filter(_.nonEmpty)
      assert(r.getInt(1) === toks.length)
      val want = toks.map(weight).sum.toDouble / (toks.length * 1000.0)
      assert(r.getDouble(2) === want, s"doc ${r.getLong(0)} score drift")
      assert(r.getBoolean(3) === (want > 0.0))
    }
  }

  test("d10 finds a shared passage at DIFFERENT offsets and merges the" +
    " overlapping windows into one maximal run") {
    val passage = (1 to 20).map(i => f"p$i%02d").mkString(" ")
    val docA = ((1 to 5).map(i => s"ua$i") :+ passage) ++
      (1 to 5).map(i => s"va$i")                    // P at words 6..25 of 30
    val docB = ((1 to 8).map(i => s"xb$i") :+ passage) ++
      (1 to 2).map(i => s"yb$i")                    // P at words 9..28 of 30
    val docC = (1 to 30).map(i => s"zc$i")          // no duplication
    val dir = docsDir(Seq((1L, docA.mkString(" ")), (2L, docB.mkString(" ")),
      (3L, docC.mkString(" "))))
    val got = Dedup.d10SubstringDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // 6 overlapping 15-word windows inside P merge to exactly P (20 words)
    assert(got === Seq((1L, 30, 20L, 1L), (2L, 30, 20L, 1L)))
  }

  test("d13 metric math: tp/fp/fn split, empty-found convention") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    // found = one true pair, one false positive → p=1/2, r=1/3 (RAW
    // double division — the DuckDB oracle does the identical IEEE work)
    assert(Dedup.evalPairs("m",
      Seq((1L, 2L), (7L, 8L)).toDF("a", "b"), truth, 3L) ===
      (("m", 3L, 2L, 1L, 0.5, 1.0 / 3.0)))
    val found = Seq((1L, 2L), (7L, 8L)).toDF("a", "b")
    // empty found: precision defined as 1.0 (no false claims), recall 0
    assert(Dedup.evalPairs("m", truth.limit(0), truth, 3L) ===
      (("m", 3L, 0L, 0L, 1.0, 0.0)))
    // empty truth: recall defined as 1.0 (nothing to find)
    assert(Dedup.evalPairs("m", found, truth.limit(0), 0L) ===
      (("m", 0L, 2L, 0L, 0.0, 1.0)))
  }

  test("t17 BPE learns the hand-computed merge sequence") {
    // hug×10, pug×5, hugs×5 with </w> markers:
    //   round 1: (u,g)=20 wins → "ug"
    //   round 2: (h,ug)=15 ties (ug,</w>)=15 → lexicographic "h" < "ug"
    //   round 3: (hug,</w>)=10 wins
    val corpus = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(5)("hugs")
    val dir = docsDir(Seq((1L, corpus.mkString(" "))))
    val got = TextAnalysis
      .bpeMerges(spark.read.parquet(s"$dir/documents.parquet"), 3)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got === Seq(
      (1, "u", "g", 20L), (2, "h", "ug", 15L), (3, "hug", "</w>", 10L)))
  }

  test("t17 merge fold is greedy left-to-right: overlaps don't double-merge") {
    import spark.implicits._
    // "aaa</w>" under (a,a): first pair merges, the middle 'a' is consumed
    val got = Seq(Tuple1(Seq("a", "a", "a", "</w>")))
      .toDF("syms")
      .select(TextAnalysis.mergePair(col("syms"), "a", "a").as("m"))
      .collect()(0).getSeq[String](0)
    assert(got === Seq("aa", "a", "</w>"))
  }

  test("t18 encode with trained merges yields hand-computed token counts") {
    // after the 3 hand-verified merges: hug→[hug</w>]=1, pug→[p,ug,</w>]=3,
    // hugs→[hug,s,</w>]=3 ⇒ 10·1 + 5·3 + 5·3 = 40 subwords over 20 words
    val corpus = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(5)("hugs")
    val dir = docsDir(Seq((1L, corpus.mkString(" "))))
    val got = TextAnalysis
      .bpeEncode(spark.read.parquet(s"$dir/documents.parquet"), 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got === Seq((1L, 20L, 40L, 2.0)))
  }

  test("t17 Catalyst merge fold equals the reference greedy merge on" +
    " randomized symbol arrays") {
    import spark.implicits._
    // the trusted reference: plain greedy left-to-right single-pair merge
    def refMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val rng = new scala.util.Random(20260813L)
    val alphabet = Seq("a", "b", "ab", "ba", "</w>")
    val cases = (1 to 60).map { _ =>
      Seq.fill(1 + rng.nextInt(12))(alphabet(rng.nextInt(alphabet.size)))
    }
    val pairs = Seq(("a", "b"), ("a", "a"), ("ab", "ba"), ("b", "</w>"))
    for ((a, b) <- pairs) {
      val got = cases.map(Tuple1(_)).toDF("syms")
        .select(TextAnalysis.mergePair(col("syms"), a, b).as("m"))
        .collect().map(_.getSeq[String](0).toSeq)
      val want = cases.map(refMerge(_, a, b))
      assert(got.toSeq === want,
        s"fold diverged from reference for merge ($a,$b)")
    }
  }

  /** Keep-first canonical expected from a PAIR relation: canonical(x) =
    * min({x} ∪ partners(x)) over the symmetric closure of the pairs. */
  private def keepFirst(ids: Seq[Long], pairs: Set[(Long, Long)])
      : Map[Long, Long] = {
    val sym = pairs.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    ids.map(id => id -> math.min(id, sym.getOrElse(id, id))).toMap
  }

  test("d14 assigns keep-first canonicals on planted dups") {
    val dir = docsDir(Seq(
      0L -> baseText, 1L -> baseText, 2L -> nearDup, 3L -> unrelated,
      5L -> baseText))
    val out = Dedup.d14DedupAssign(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length === 5, "one row per document — the linear contract")
    val canon = out.map(r => r._1 -> r._2).toMap
    assert(canon === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 5L -> 0L))
    assert(out.forall { case (id, c, dup) => dup === (c < id) })
  }

  test("d14 canonicals equal keep-first over d02's own pair set") {
    // d14 never materializes doc-level pairs; this re-derives its whole
    // output from d02's pair relation (same geometry, same tau) — the
    // two operators must agree document by document
    val pairs = Dedup.d02DedupMinhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val want = keepFirst(ids, pairs)
    val got = Dedup.d14DedupAssign(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === ids.size, "one row per document")
    assert(got === want)
  }

  test("d15 canonicals equal keep-first over d06's own pair set") {
    // d06's pair output already encodes the zero-vector guard (no
    // within-group pair for a zero-norm rep), so keep-first over it is
    // the full expected assignment including the selfOk branch
    val pairs = graft.operators.Dedup.d06DedupEmbeddingLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    val want = keepFirst(ids, pairs)
    val got = Dedup.d15EmbeddingAssign(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === ids.size, "one row per vector")
    assert(got === want)
  }
}
