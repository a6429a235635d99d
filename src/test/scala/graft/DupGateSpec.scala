package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DupDensity, Lsh, Multimodal}
import graft.sources.Tables

/** The dup-density gate's two contracts:
  *
  *  1. The PROBE picks the right path: collapse on a high-dup corpus,
  *     direct on a ~unique one (so the collapse overhead never taxes a
  *     low-dup workload, and the collapse win is never missed at scale).
  *  2. The paths are OUTPUT-IDENTICAL — on dup-heavy corpora, on unique
  *     ones, and on the degenerate all-zero-embedding case the round-5
  *     advisory flagged — so the gate is a pure cost chooser and can
  *     never change results, whichever way the probe decides.
  *
  * Plus the unit envelope of the shared Lsh band-geometry helper.
  */
class DupGateSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  // ---- fixtures ----

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = Files.createTempDirectory("graft-gate-docs").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val data = rows.map { case (id, text) =>
      Row(id, text, "en", "srcT",
        if (text == null) 0L else text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def embsDir(rows: Seq[(Long, Array[Float])]): String = {
    val dir = Files.createTempDirectory("graft-gate-embs").toString
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val data = rows.map { case (id, v) => Row(id, v.toSeq, (id % 3).toInt) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private val words =
    (1 to 80).map(i => f"tok$i%02d")
  private val textA = words.slice(0, 40).mkString(" ")
  private val textB = words.slice(20, 60).mkString(" ")
  private val textC = words.slice(40, 80).mkString(" ")
  private val textAnear = words.slice(0, 40).updated(7, "MUT").mkString(" ")

  /** ~60-doc corpus, >60% verbatim copies + near-dups + shared passages
    * (so d10 has real cross-doc duplicated spans). */
  private lazy val dupHeavyDocs: String = docsDir(
    (0L until 20L).map(i => i -> textA) ++
      (20L until 30L).map(i => i -> textB) ++
      Seq(30L -> textAnear, 31L -> textC, 32L -> (textC + " tail77"),
        33L -> "short doc") ++
      (34L until 40L).map(i => i -> words.slice(10, 50).mkString(" ")))

  /** ~unique corpus: every text distinct. */
  private lazy val uniqueDocs: String = docsDir(
    (0L until 40L).map(i =>
      i -> words.map(w => s"$w-$i").slice(0, 30).mkString(" ")))

  /** dup-heavy corpus PLUS two null-text rows (their own dup class):
    * the round-9 advice case — the collapsed path's md5(text) group key
    * is null for null text, and without the key coalesce the expansion
    * join silently dropped those rows while the direct path kept them. */
  private lazy val nullTextDocs: String = docsDir(
    (0L until 20L).map(i => i -> textA) ++
      Seq(20L -> textB, 21L -> (null: String), 22L -> (null: String)))

  /** Deterministic pseudo-vectors, 16-dim; base directions far apart,
    * dups verbatim, one near-dup pair, one all-zero group (degenerate:
    * self-cosine NaN). */
  private def vec(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(16)(r.nextFloat() * 2f - 1f)
  }
  private lazy val dupHeavyEmbs: String = {
    val a = vec(1); val b = vec(2); val c = vec(3)
    val aNear = a.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.05f else x } // cos(a, aNear) ≈ 1 > 0.45
    val zero = Array.fill(16)(0f)
    embsDir(
      (0L until 12L).map(i => i -> a) ++
        (12L until 20L).map(i => i -> b) ++
        Seq(20L -> c, 21L -> aNear, 22L -> zero, 23L -> zero) ++
        (24L until 30L).map(i => i -> vec(100 + i.toInt)))
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def docsOf(dir: String) = Tables(spark, dir).documents

  /** A text pair kernel through the combinator, as d02/d03 run it. */
  private def textPairs(dir: String, collapsed: Boolean)(
      kernel: (DataFrame, (Column, Column) => Column) => DataFrame) =
    DupDensity.pairs(docsOf(dir).select(col("doc_id"), col("text")),
      "doc_id", DupDensity.textKey, collapsed)(kernel)

  private def embPairs(dir: String, collapsed: Boolean, g: Lsh.BandGeometry) =
    DupDensity.pairs(Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding")), "vec_id", Dedup.ehOf,
      collapsed)(Dedup.d06Kernel(g))

  private def m07Pairs(dir: String, collapsed: Boolean) =
    DupDensity.pairs(Multimodal.m07Hashed(spark, dir), "doc_id",
      col("ahash"), collapsed)(Multimodal.m07Kernel)

  private def curate(dir: String, collapsed: Boolean) = {
    import graft.operators.Pipelines
    val docs = docsOf(dir)
    Pipelines.curateBatch(docs, Pipelines.evalGramsOf(docs, collapsed),
      collapsed)
  }

  /** Every perClass operator, by name, as a function of the path. */
  private def perClassOps(dir: String)
      : Seq[(String, Boolean => DataFrame)] = {
    import graft.operators.{TextAnalysis => TA}
    val docs = docsOf(dir)
    def body(f: DataFrame => DataFrame)(c: Boolean) =
      DupDensity.perClass(docs, c)(f)
    Seq(
      ("t01", body(TA.t01Body)), ("t02", body(TA.t02Body)),
      ("t03", body(TA.t03Body)), ("t04", body(TA.t04Body)),
      ("t06", body(TA.t06Body)), ("t07", body(TA.t07Body)),
      ("t08", body(TA.t08Body)), ("t13", body(TA.t13Body)),
      ("t16", body(TA.t16Body)), ("d10", body(Dedup.d10Body)),
      ("t10", c => DupDensity.perClass(docs, c, TA.t10Flags)(TA.t10Body)),
      ("t19", c => DupDensity.perClass(docs, c, TA.t19Flags)(TA.t19Body)),
      ("t20", c => TA.t20Path(spark, dir, c)),
      ("d12bands", c => Dedup.bandRows(docs, c)))
  }

  // ---- Lsh helper envelope ----

  test("Lsh.scaled stays inside the bands×bits ≤ 64 envelope at any n") {
    val ns = Seq(0L, 1L, 63L, 64L, 100L, 4096L, 65536L, 1000000L,
      1L << 30, 1L << 40, 1L << 50)
    var prevBits = 0
    ns.foreach { n =>
      val g = Lsh.scaled(n)
      assert(g.bands * g.bits <= 64, s"n=$n: ${g.bands}×${g.bits}")
      assert(g.bits >= 4 && g.bits <= 16, s"n=$n bits=${g.bits}")
      assert(g.bands >= 2 && g.bands <= 8, s"n=$n bands=${g.bands}")
      assert(g.bits >= prevBits, s"bits must grow with n (n=$n)")
      prevBits = g.bits
    }
    // occupancy target: at n items and ~64/bucket, bucket space covers n
    val g = Lsh.scaled(100000L)
    assert((1L << g.bits) >= 100000L / 64 / 2, "buckets must scale with n")
  }

  test("Lsh.pigeonhole splits 64 bits into hamming+1 exact bands") {
    assert(Lsh.pigeonhole(64, 3) === Lsh.BandGeometry(4, 16))
    assert(Lsh.pigeonhole(64, 1) === Lsh.BandGeometry(2, 32))
    assertThrows[IllegalArgumentException](Lsh.pigeonhole(64, 4))
  }

  test("minhash (4,4) banding threshold sits just above the 0.6 verify τ") {
    val s = Lsh.minhashThreshold(Lsh.MinhashBands, Lsh.MinhashRows)
    assert(math.abs(s - math.pow(0.25, 0.25)) < 1e-12)
    assert(s > 0.6 && s < 0.8)
  }

  // ---- probe ----

  test("density probe: collapse on high-dup, direct on unique corpora") {
    val dup = DupDensity.probe(
      spark.read.parquet(s"$dupHeavyDocs/documents.parquet"), md5(col("text")))
    assert(dup.collapse, s"high-dup corpus misread: $dup")
    val uni = DupDensity.probe(
      spark.read.parquet(s"$uniqueDocs/documents.parquet"), md5(col("text")))
    assert(!uni.collapse, s"unique corpus misread: $uni")
    // the gate SFs are ~unique — sf0.001 must take the direct path
    val sf = DupDensity.probe(
      spark.read.parquet(s"$sfDir/documents.parquet"), md5(col("text")))
    assert(!sf.collapse, s"sf0.001 misread as collapsible: $sf")
  }

  // ---- path equality, text operators ----

  test("d02 direct == collapsed on dup-heavy and unique corpora") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      assert(rowsOf(textPairs(dir, false)(Dedup.d02Kernel)) ===
        rowsOf(textPairs(dir, true)(Dedup.d02Kernel)), s"dir=$dir")
    }
  }

  test("d03 direct == collapsed on dup-heavy and unique corpora") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      assert(rowsOf(textPairs(dir, false)(Dedup.d03Kernel)) ===
        rowsOf(textPairs(dir, true)(Dedup.d03Kernel)), s"dir=$dir")
    }
  }

  test("d10 direct == collapsed on dup-heavy and unique corpora") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      val d10 = perClassOps(dir).toMap.apply("d10")
      assert(rowsOf(d10(false)) === rowsOf(d10(true)), s"dir=$dir")
    }
  }

  test("t04 direct == collapsed on dup-heavy and unique corpora") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      val t04 = perClassOps(dir).toMap.apply("t04")
      assert(rowsOf(t04(false)) === rowsOf(t04(true)), s"dir=$dir")
    }
  }

  test("m07 direct == collapsed on dup-heavy and unique corpora") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      assert(rowsOf(m07Pairs(dir, false)) === rowsOf(m07Pairs(dir, true)),
        s"dir=$dir")
    }
  }

  test("d12 band rows: direct == collapsed row-for-row") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      assert(rowsOf(Dedup.bandRows(docs, false)) ===
        rowsOf(Dedup.bandRows(docs, true)), s"dir=$dir")
    }
  }

  test("t-family per-text collapse: direct == collapsed per op") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      perClassOps(dir)
        .filter { case (n, _) =>
          n.startsWith("t") && !Set("t04", "t10")(n) } // own tests above
        .foreach { case (n, f) =>
          assert(rowsOf(f(false)) === rowsOf(f(true)), s"op=$n dir=$dir")
        }
    }
  }

  test("t-family per-text collapse keeps null-text rows path-equal") {
    // every perClass op (t-family, t04/t10/t16, d10, the d12 band rows),
    // the p11 curate strip and both text pair kernels: the null-safe
    // class key keeps null-text docs on the collapsed path exactly where
    // the direct path keeps them
    val dir = nullTextDocs
    val cases = perClassOps(dir) ++ Seq(
      ("d02", (c: Boolean) => textPairs(dir, c)(Dedup.d02Kernel)),
      ("d03", (c: Boolean) => textPairs(dir, c)(Dedup.d03Kernel)),
      ("p11curate", (c: Boolean) => curate(dir, c)))
    cases.foreach { case (n, f) =>
      assert(rowsOf(f(false)) === rowsOf(f(true)), s"op=$n")
    }
    // the fixture's null-text rows reach the output of a per-doc op
    val t04 = perClassOps(dir).toMap.apply("t04")
    assert(t04(true).filter(col("doc_id").isin(21L, 22L)).count() === 2)
    // d14 (and d17, which routes into it) emits one row per document: a
    // null-text doc has no near-dup partner, so it is its own canonical
    val d14 = Dedup.d14DedupAssign(spark, dir)
    assert(d14.count() === 23)
    assert(rowsOf(d14.filter(col("doc_id").isin(21L, 22L))) ===
      Seq("[21,21,false]", "[22,22,false]"))
  }

  test("t08 decomposed scrub equals the full augmented-string reference") {
    import org.apache.spark.sql.functions._
    import graft.operators.{TextAnalysis => TA}
    // PII-laced texts exercising nonzero text-part counts AND the
    // boundary cases the decomposition depends on: text ending in
    // digits (must not fuse with the planted suffix), a partial email
    // at end-of-text (must not complete across the boundary), and a
    // verbatim dup under a different doc_id (the collapse class).
    val dir = docsDir(Seq(
      0L -> "mail a@b.co and ping 1.2.3.4 now",
      1L -> "call +1-555-9999 or half +1-555-123 only",
      2L -> "no pii at all tok tok",
      3L -> "edge ends with digits 12",
      4L -> "partial email at end a@b",
      5L -> "mail a@b.co and ping 1.2.3.4 now"))
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 10."),
      pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
      pmod(col("doc_id") * 7, lit(256)).cast("string"),
      lit(".4 tel +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      col("aug"), emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(ipRe)).cast("long").as("n_ips"),
        regexp_count(col("aug"), lit(phoneRe)).cast("long").as("n_phones"),
        md5(scrubbed).as("scrub_md5"))
    Seq(false, true).foreach { c =>
      assert(rowsOf(DupDensity.perClass(docsOf(dir), c)(TA.t08Body)) ===
        rowsOf(want), s"collapsed=$c")
    }
  }

  test("t10 direct == collapsed on dup-heavy and unique corpora") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      val t10 = perClassOps(dir).toMap.apply("t10")
      assert(rowsOf(t10(false)) === rowsOf(t10(true)), s"dir=$dir")
    }
  }

  test("curation contamination strip: direct == collapsed paths") {
    Seq(dupHeavyDocs, uniqueDocs).foreach { dir =>
      assert(rowsOf(curate(dir, false)) === rowsOf(curate(dir, true)),
        s"dir=$dir")
    }
  }

  // ---- path equality, embedding operators (incl. the degenerate
  //      all-zero vector the round-5 advisory flagged) ----

  test("d06 direct == collapsed, zero-vector dups handled identically") {
    val g = Lsh.scaled(18) // ≈ the distinct count of the fixture
    val direct = rowsOf(embPairs(dupHeavyEmbs, false, g))
    val collapsed = rowsOf(embPairs(dupHeavyEmbs, true, g))
    assert(direct === collapsed)
    // the verbatim-copy pairs must actually be present (the fixture has
    // 12 copies of a → 66 within-pairs at minimum)
    assert(direct.size >= 66, s"expected the dup pairs, got ${direct.size}")
    // and the zero-vector pair (22,23) behaves the same on both paths —
    // membership itself is pinned by equality above; just make sure the
    // fixture exercised it
    val zeroPair = direct.count(_.startsWith("[22,23,"))
    val collapsedZeroPair = collapsed.count(_.startsWith("[22,23,"))
    assert(zeroPair === collapsedZeroPair)
  }

  test("d09 direct == collapsed keep/drop decisions, zero vectors too") {
    val k = 8
    val direct = rowsOf(Dedup.d09Direct(spark, dupHeavyEmbs, k))
    val collapsed = rowsOf(Dedup.d09Collapsed(spark, dupHeavyEmbs, k))
    assert(direct === collapsed)
  }

  test("d06/d09 public entries run the gate end-to-end on sf data") {
    // smoke the dispatching wrappers themselves (direct path at sf0.001)
    assert(Dedup.d06DedupEmbeddingLsh(spark, sfDir).count() >= 0)
    assert(Dedup.d09SemDedup(spark, sfDir).count() > 0)
  }

  test("COLLAPSED plans pass the scale-killer sweep too") {
    // The suite-wide ExplainAudit sweep builds plans at the gate SF,
    // where the density probe always picks the DIRECT path — so the
    // collapsed plans (the ones that actually run on a dup-heavy 100 TB
    // corpus) would otherwise carry no plan audit at all. Build every
    // collapsed variant on the dup-heavy fixtures and apply the same
    // two contracts: no CartesianProductExec, no unbounded
    // unpartitioned WindowExec.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    def bounded(p: SparkPlan): Boolean = {
      val s = p.toString
      s.contains("TakeOrderedAndProject") || s.contains("CollectLimit") ||
        s.contains("GlobalLimit") || s.contains("LocalLimit")
    }
    val dir = dupHeavyDocs
    val plans: Seq[(String, DataFrame)] =
      perClassOps(dir).map { case (n, f) => n -> f(true) } ++ Seq(
        "d02" -> textPairs(dir, true)(Dedup.d02Kernel),
        "d03" -> textPairs(dir, true)(Dedup.d03Kernel),
        "d06" -> embPairs(dupHeavyEmbs, true, Lsh.scaled(18)),
        "d09" -> Dedup.d09Collapsed(spark, dupHeavyEmbs, 8),
        "p11curate" -> curate(dir, true),
        "m07" -> m07Pairs(dir, true))
    val offenders = plans.flatMap { case (name, df) =>
      val plan = df.queryExecution.sparkPlan
      (plan +: plan.subqueriesAll).flatMap(_.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty && !bounded(w.child) =>
          s"$name: unbounded unpartitioned WindowExec over ${w.child.nodeName}"
        case c: CartesianProductExec =>
          s"$name: CartesianProductExec (${c.left.nodeName} × ${c.right.nodeName})"
      })
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the collapse is written once: no per-site path pairs under src/main") {
    // split so that this file is not a hit itself
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val rule = "collapse" + "WorthIt"
    val pathDef = ("def (\\w+)(" + "Direct|Collapsed|RepPairs)\\b").r
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val readers = files.filter(p =>
      new String(Files.readAllBytes(p), UTF_8).contains(rule))
      .map(_.getFileName.toString)
    assert(readers === Seq("DupDensity.scala"))
    val pathDefs = files.flatMap(p => pathDef
      .findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(_.group(0).stripPrefix("def "))).sorted
    assert(pathDefs === Seq("d09Collapsed", "d09Direct"))
  }

  test("collapsed paths spread no post-shuffle frame; direct paths spread the scan") {
    // the sf0.001 scan is one file on 4 slots, so Tables.spreadNarrow
    // fires wherever it is applied: only the direct path's raw scan may
    // carry its round-robin exchange — the collapsed path's dedup
    // exchange already spreads the kernel
    def spreads(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
    import graft.operators.{TextAnalysis => TA}
    val docs = docsOf(sfDir)
    val t04 = (c: Boolean) =>
      DupDensity.perClass(docs, c, spreadKernel = true)(TA.t04Body)
    val d02 = (c: Boolean) => DupDensity.pairs(
      docs.select(col("doc_id"), col("text")), "doc_id", DupDensity.textKey,
      c, spreadKernel = true)(Dedup.d02Kernel)
    assert(!spreads(t04(true)) && !spreads(d02(true)))
    assert(spreads(t04(false)) && spreads(d02(false)))
  }
}
