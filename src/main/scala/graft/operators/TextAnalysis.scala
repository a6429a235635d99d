package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators t01–t04 (SURVEY.md §2): the per-document scoring
  * passes a training-data pipeline runs before filtering/dedup. All four are
  * pure narrow projections over the documents scan — no shuffle, fully
  * inside whole-stage codegen, embarrassingly parallel at any scale.
  *
  * Oracle notes (SURVEY.md §5): t02/t03 use only integer counts and
  * IEEE-deterministic double arithmetic mirrored verbatim in the DuckDB SQL;
  * t01/t04 are heuristic/hash ops with no DuckDB twin → rows-only +
  * ScalaTest specs on crafted inputs.
  */
object TextAnalysis {

  private val doc = "documents"

  /** Stopword profiles for the language-ID heuristic. Tiny on purpose:
    * they broadcast as literals inside the codegen'd filter lambda. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it", "you", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "ich", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una", "por", "con", "para"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour", "que", "pas")
  )

  /** The lowercased pieces of a string split on one space, EMPTY pieces
    * kept (t01/t02/t12 and `qualityOf` count them, as their oracles'
    * `string_split` does). The non-empty tokenizer is [[words]]. */
  private def rawWords(c: Column): Column = split(lower(c), " ")

  /** The t-family dup gate (the d-family probe applied to the text
    * operators): collapse per-doc text work to distinct payloads only
    * when verbatim copies dominate the corpus. */
  private def gated(spark: SparkSession, dir: String,
      flags: Seq[(String, Column)] = Nil, spreadKernel: Boolean = false)(
      body: DataFrame => DataFrame): DataFrame = {
    val docs = Tables(spark, dir).documents
    DupDensity.perClass(docs, DupDensity.textGate(docs), flags,
      spreadKernel)(body)
  }

  private def stopHits(ws: Column, lang: String): Column = {
    val set = array(stopwords(lang).map(lit): _*)
    size(filter(ws, w => array_contains(set, w)))
  }

  /** t01 — language ID via stopword-profile argmax. array_max over
    * (score, lang) structs picks the best-scoring language with a
    * deterministic alphabetical tiebreak; zero hits → 'unknown'.
    * Rows-only: the heuristic itself is pinned by TextAnalysisSpec on
    * real en/de/es/fr sentences.
    */
  def t01LangId(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir)(t01Body)

  private[graft] def t01Body(df: DataFrame): DataFrame = {
    val ws = rawWords(col("text"))
    val scored = array(stopwords.keys.toSeq.sorted.map { lang =>
      struct(stopHits(ws, lang).as("score"), lit(lang).as("lang"))
    }: _*)
    df.select(col("gid"), array_max(scored).as("best"))
      .select(col("gid"),
        when(col("best.score") > 0, col("best.lang")).otherwise(lit("unknown"))
          .as("lang_pred"),
        col("best.score").as("stop_hits"))
  }

  /** t02 — quality score from length / word-shape / stopword-density
    * signals (the C4/Gopher-style quality-filter shape). Formula mirrored
    * verbatim in the DuckDB oracle; all terms are exact-rational or
    * single-rounded doubles so both engines agree bitwise.
    */
  def t02QualityScore(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir)(t02Body)

  private[graft] def t02Body(df: DataFrame): DataFrame = {
    val ws = rawWords(col("text"))
    df
      .select(col("gid"), length(col("text")).as("n_chars_m"),
        size(ws).as("n_words"), stopHits(ws, "en").as("stop_cnt"))
      .select(col("gid"), col("n_chars_m"), col("n_words"), col("stop_cnt"),
        (col("n_chars_m").cast("double") / col("n_words")).as("avg_wlen"),
        (lit(0.4) * least(lit(1.0), col("n_words").cast("double") / 120.0) +
          lit(0.3) * when(
            (col("n_chars_m").cast("double") / col("n_words")) >= 3.0 &&
              (col("n_chars_m").cast("double") / col("n_words")) <= 8.0,
            1.0).otherwise(0.0) +
          lit(0.3) * least(lit(1.0),
            col("stop_cnt").cast("double") / col("n_words") * 5.0))
          .as("quality"))
  }

  /** t03 — token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (runs of letters / runs of digits / single other symbols — the
    * pre-tokenization split GPT-2-style BPE applies before merges).
    */
  // t03 stays on the DIRECT path unconditionally: its body is one cheap
  // codegen'd projection, and the collapse's payload-dedup shuffle costs
  // more than the regex work it saves even at 100x-verbatim dup density
  // (measured at sf10: direct 14.3 s, collapsed 19.4 s). The density
  // gate is a dup-mass probe, not a body-cost model — ops whose per-row
  // kernel is trivial opt out statically.
  def t03TokenCount(spark: SparkSession, dir: String): DataFrame =
    DupDensity.perClass(Tables(spark, dir).documents, collapsed = false)(
      t03Body)

  private[graft] def t03Body(df: DataFrame): DataFrame =
    df
      .select(col("gid"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .as("bpe_tokens"))

  /** t04 — document fingerprint: min/max sampling over rolling 4-word
    * shingle hashes (the winnowing-style content fingerprint used for
    * crawl-level dedup). The shingle hash is Shingles.md5Hash60 — pure
    * deterministic integer math both engines spell identically — so the
    * whole fingerprint is DuckDB-oracled end to end (shingling, hashing,
    * min/max sampling, short-doc fallback); the spec additionally pins
    * shift-invariance and mutation sensitivity.
    */
  // DUP-DENSITY GATE (see Dedup.d02): the distinct-text collapse is a
  // 10× cut of the dominant md5-per-shingle work on a 10×-verbatim
  // corpus, but pure join overhead on a ~unique one. The fingerprint is
  // a pure function of the text, so both paths agree (DupGateSpec + the
  // full t04 oracle prove it).
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir, spreadKernel = true)(t04Body) // md5 per shingle

  private[graft] def t04Body(df: DataFrame): DataFrame =
    df.select(col("gid"), col("text"), split(col("text"), " ").as("ws"))
      .select(col("gid"),
        Shingles.hashes(col("ws"), col("text"), 4, Shingles.md5Hash60)
          .as("sh"))
      .select(col("gid"), array_min(col("sh")).as("fp_min"),
        array_max(col("sh")).as("fp_max"), size(col("sh")).as("n_shingles"))

  /** t05 — corpus-level statistics via mergeable sketches: HLL++ distinct
    * counts and quantile summaries per source. This is how a 100 TB corpus
    * gets profiled — sketches merge associatively across partitions, so
    * the shuffle carries KB-sized summaries instead of raw values.
    *
    * TOLERANCE-BANDED ORACLE (round-6 promotion from rows-only): sketch
    * estimates are engine-specific, so the gated output carries (a) the
    * exact per-source facts DuckDB recomputes value-for-value (n_docs,
    * n_langs_exact, total_chars) and (b) one boolean per sketch
    * asserting |estimate − exact| ≤ ε, with the exact reference
    * computed in the SAME query by Spark's exact aggregates. The oracle
    * pins the booleans to TRUE — a sketch drifting outside its
    * advertised error band fails the hash compare exactly like a wrong
    * value. ε: HLL at rsd 0.05 → max(1, 10%); quantile sketch at
    * accuracy 1000 → 5% + 2 chars. The ONE exact pass here is the gate
    * harness, not the scale path — at 100 TB you ship only the sketch
    * columns and this query IS the audit job you run on a sample.
    */
  def t05CorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        length(col("text")).as("n_chars_m"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs_exact"),
        sum(col("n_chars")).as("total_chars"),
        approx_count_distinct(col("lang")).as("langs_est"),
        percentile_approx(col("n_chars_m"), lit(0.5), lit(1000)).as("med_est"),
        percentile_approx(col("n_chars_m"), lit(0.99), lit(1000)).as("p99_est"),
        expr("percentile(n_chars_m, 0.5)").as("med_exact"),
        expr("percentile(n_chars_m, 0.99)").as("p99_exact"))
      .select(col("source"), col("n_docs"), col("n_langs_exact"),
        col("total_chars"),
        (abs(col("langs_est") - col("n_langs_exact")) <=
          greatest(lit(1L), col("n_langs_exact") / 10)).as("langs_ok"),
        (abs(col("med_est") - col("med_exact")) <=
          col("med_exact") * 0.05 + 2).as("median_ok"),
        (abs(col("p99_est") - col("p99_exact")) <=
          col("p99_exact") * 0.05 + 2).as("p99_ok"))
      .orderBy(col("source"))

  /** t06 — intra-document segment dedup (the C4/RefinedWeb repeated-line
    * filter): split each document into 8-word segments, drop every
    * repeat of an earlier identical segment, reassemble in order. One
    * generate + one groupBy(doc, segment) + one re-agg — no cross-document
    * shuffle, scales linearly. DuckDB oracle mirrors it with window
    * functions over the same segmentation.
    */
  /** 8-word segmentation shared by t06/t07/t09. includeTail=true appends
    * the sub-8-word tail so segments cover every word (the intra-doc
    * reassembly/repetition contract); includeTail=false keeps only FULL
    * windows — a cross-document boilerplate list must not count short
    * tail fragments ("the", "a") as recurring segments. */
  private def segments8(ws: Column, includeTail: Boolean): Column =
    if (includeTail)
      transform(sequence(lit(0), floor((size(ws) - 1) / 8).cast("int")),
        i => concat_ws(" ", slice(ws, i * 8 + 1, lit(8))))
    else {
      val n = floor(size(ws) / 8).cast("int")
      when(n > 0, transform(sequence(lit(0), n - 1),
        i => concat_ws(" ", slice(ws, i * 8 + 1, lit(8)))))
        .otherwise(array().cast("array<string>"))
    }

  def t06SegmentDedup(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir)(t06Body)

  private[graft] def t06Body(df: DataFrame): DataFrame = {
    val ws = col("ws")
    df
      .select(col("gid"), split(col("text"), " ").as("ws"))
      .select(col("gid"),
        posexplode(segments8(ws, includeTail = true))
          .as(Seq("pos", "seg")))
      .groupBy(col("gid"), col("seg"))
      .agg(min(col("pos")).as("pos"))
      .groupBy(col("gid"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          s => s.getField("seg"))).as("clean_text"))
      .select(col("gid"), col("clean_text"),
        length(col("clean_text")).as("n_chars_c"))
  }

  /** t07 — Gopher-style repetition filter (Rae et al. 2021 §A1.1: docs
    * dominated by repeated lines/n-grams are boilerplate, not prose).
    * Two signals per document: the duplicate fraction of 8-word segments
    * (computed row-local with array_distinct — no shuffle), and the
    * fraction of all word 2-grams taken by the single most frequent one
    * (explode + two-level agg keyed by doc_id — linear, one shuffle, the
    * t06 pattern). Thresholds flag the doc. All ratios are single-rounded
    * double divisions mirrored verbatim in the DuckDB oracle.
    */
  def t07RepetitionFilter(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir)(t07Body)

  private[graft] def t07Body(df: DataFrame): DataFrame = {
    val base = df.select(col("gid"), split(col("text"), " ").as("ws"))
    val ws = col("ws")
    val segs = segments8(ws, includeTail = true)
    val segStats = base.select(col("gid"), size(segs).as("n_segs"),
      size(array_distinct(segs)).as("n_distinct_segs"))
    // explode_outer keeps <2-word docs as a null-gram row so the join
    // below stays an inner join on a complete key set
    val grams = base.select(col("gid"),
      explode_outer(when(size(ws) >= 2,
        transform(sequence(lit(0), size(ws) - 2),
          i => concat_ws(" ", slice(ws, i + 1, lit(2)))))).as("gram"))
    val gramStats = grams.groupBy(col("gid"), col("gram")).count()
      .groupBy(col("gid"))
      .agg(sum(when(col("gram").isNotNull, col("count")).otherwise(0L))
        .as("n_grams"),
        max(when(col("gram").isNotNull, col("count")).otherwise(0L))
          .as("top_cnt"))
    val dupFrac = lit(1.0) -
      col("n_distinct_segs").cast("double") / col("n_segs")
    val topFrac = when(col("n_grams") > 0,
      col("top_cnt").cast("double") / col("n_grams")).otherwise(lit(0.0))
    segStats.join(gramStats, Seq("gid"))
      .select(col("gid"), col("n_segs"), col("n_distinct_segs"),
        dupFrac.as("dup_seg_frac"), topFrac.as("top2gram_frac"),
        (dupFrac > 0.3 || topFrac > 0.18).cast("long").as("flagged"))
  }

  /** t08 — PII scrub (the redaction pass every training-data pipeline
    * runs): emails, IPv4s and phone numbers replaced by typed tokens,
    * with per-document match counts. PII is injected deterministically
    * from doc_id so the scrubber has a measurable target on the synthetic
    * corpus; patterns are engine-portable (no \\d, no \\b — Java regex
    * and DuckDB's RE2 agree on the subset used). Replacement order is
    * email → IP → phone so earlier tokens can't be re-matched.
    */
  def t08PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    // DUP-DENSITY GATE: although the INJECTED suffix varies per doc_id,
    // the output is a pure function of text — the planted email/IP/phone
    // each fully match their pattern, so the suffix scrubs to the same
    // constant for every doc, each count is count(text) + 1, and no
    // match can span the text/suffix boundary (the suffix starts with a
    // space none of the three patterns can consume). So the 3 counts +
    // 3 replacements run once per DISTINCT text on a dup-heavy corpus.
    // The oracle still computes over the full augmented string —
    // passing it proves the decomposition exact.
    // three regex counts + three rewrites per row: spread the scan
    gated(spark, dir, spreadKernel = true)(t08Body)
  }

  private[graft] def t08Body(df: DataFrame): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val scrubbedText = regexp_replace(regexp_replace(regexp_replace(
      col("text"), emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")
    df.select(col("gid"),
      (regexp_count(col("text"), lit(emailRe)) + 1).cast("long")
        .as("n_emails"),
      (regexp_count(col("text"), lit(ipRe)) + 1).cast("long").as("n_ips"),
      (regexp_count(col("text"), lit(phoneRe)) + 1).cast("long")
        .as("n_phones"),
      md5(concat(scrubbedText,
        lit(" contact <EMAIL> or <IP> tel <PHONE>"))).as("scrub_md5"))
  }

  /** t09 — CROSS-document boilerplate detection (the corpus-level
    * complement of t06's intra-document dedup): 8-word segments that
    * recur across ≥2 distinct documents are the header/footer/template
    * text a crawl-cleaning pipeline strips globally. One explode + one
    * segment-keyed aggregation — at 100 TB the shuffle carries
    * (segment, doc_id) pairs and the HAVING prunes the unique tail,
    * which is the overwhelming majority of segments.
    */
  def t09Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // FULL windows only: tail fragments must not enter the strip list
      .select(col("doc_id"),
        explode(segments8(ws, includeTail = false)).as("seg"))
      .groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("seg"))
  }

  /** t10 — benchmark-contamination detection (the decontamination pass
    * run before any training corpus ships: Brown et al. 2020 §C strips
    * training docs sharing 13-grams with eval sets). Eval set = every
    * 50th document; a corpus document is contaminated if ANY of its
    * 13-word grams appears in any eval document. Candidate generation is
    * an equi-join on the gram STRING — grams are deduped per document
    * before the shuffle, and the eval side is globally distinct, so at
    * 100 TB the shuffle carries (gram, doc_id) pairs once per distinct
    * gram and the eval side broadcasts when the benchmark is
    * benchmark-sized. A fixed probe phrase is planted on every 37th
    * document (mirrored in the oracle) so the detector has a measurable
    * target on the synthetic corpus — exactly t08's planted-PII pattern.
    */
  /** Probe-phrase augmentation, shared by t10 and the p11 curation
    * pipeline so detector and pipeline cannot drift. A pure function of
    * (text, planted-flag) — the form the exact-dup pre-collapse needs:
    * contamination grams depend on the doc ONLY through this pair, so
    * (md5(text), planted) is a valid collapse key for the whole gram
    * stage. */
  private[graft] def augmentedTextOf(text: Column, planted: Column): Column =
    when(planted, concat(text, lit(" " + probePhrase))).otherwise(text)

  private[graft] def grams13(ws: Column): Column = {
    val k = 13
    when(size(ws) >= k,
      array_distinct(transform(sequence(lit(0), size(ws) - k),
        i => concat_ws(" ", slice(ws, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** The gram stage (split → 13-gram window → explode → eval join →
    * count) depends on a doc only through (text, planted, eval), so on a
    * high-dup corpus it runs once per DISTINCT class and the per-class
    * count expands back to the members — on the 100×-verbatim sf10
    * rehearsal that cuts the gram shuffle (13-word strings, the fat rows
    * of this plan) by the copy factor. Eval docs are their own classes,
    * so the eval and corpus sides never gram the same row twice. */
  def t10Contamination(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir, t10Flags, spreadKernel = true)(t10Body)

  private[graft] val t10Flags: Seq[(String, Column)] = Seq(
    "pl" -> (pmod(col("doc_id"), lit(37)) === 0),
    "ev" -> (pmod(col("doc_id"), lit(50)) === 0))

  private[graft] def t10Body(df: DataFrame): DataFrame = {
    // ws MUST be materialized before grams13: an expression referenced
    // inside the transform lambda re-evaluates per element — an inline
    // split() makes gramming O(n²) per doc (measured 8 s vs 0.3 s on
    // 6.3k distinct texts)
    val base = df.select(col("gid"), col("ev"),
      split(augmentedTextOf(col("text"), col("pl")), " ").as("ws"))
    val grams = grams13(col("ws"))
    val evalGrams = base.filter(col("ev"))
      .select(explode(grams).as("gram")).distinct()
    base.filter(!col("ev"))
      .select(col("gid"), explode(grams).as("gram"))
      .join(evalGrams, Seq("gram"))
      .groupBy(col("gid"))
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  /** 20 words → 8 shared full 13-grams per planted pair; boundary grams
    * (spanning the doc's own tail) stay doc-specific by construction. */
  private[graft] val probePhrase =
    "held out benchmark question answer pairs must never leak into the " +
      "training corpus so detection sweeps run before every release"

  /** t11 — deterministic stratified sampling (the mixture-weighting step
    * that follows quality scoring: down-sample over-represented
    * languages, keep the low-resource tail whole). The sampling decision
    * is a pure hash of the KEY — substr(md5(doc_id),1,2) compared to a
    * per-stratum hex threshold — so it is reproducible run-to-run,
    * engine-portable (the oracle computes the identical md5), needs no
    * RNG state, and at 100 TB it's a narrow scan→filter with NO shuffle:
    * every executor decides its own rows. Thresholds are 1/256-granular:
    * en 12.5%, de 25%, es 50%, fr 75%, zh 100%.
    */
  /** The t11 sampling decision as reusable Columns — a pure projection,
    * so the IDENTICAL expression runs batch (t11), streaming (st11), and
    * inside the fused curation pipeline (p11). */
  private[graft] def sampleBucket: Column =
    substring(md5(col("doc_id").cast("string")), 1, 2)

  private[graft] def sampleThreshold: Column = {
    val thr = typedLit(sampleThresholds)
    coalesce(thr(col("lang")), lit("00"))
  }

  def t11StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), sampleBucket.as("bucket"))
      .filter(col("bucket") <= sampleThreshold)
      .orderBy(col("doc_id"))

  private[graft] val sampleThresholds: Map[String, String] =
    Map("en" -> "1f", "de" -> "3f", "es" -> "7f", "fr" -> "bf", "zh" -> "ff")

  /** t13 — hashed-bag-of-words linear quality classifier (the fastText /
    * DSIR-style model-based filter every curation pipeline runs after the
    * heuristic passes; reference users score docs the same way before the
    * ClickHouse sink). Each token hashes to a weight in [-1, 1] — here the
    * weight table is DERIVED from the hash (first 4 hex chars of md5 →
    * 0..65535 → %2001-1000) so both engines share it without shipping a
    * model file; a trained model would broadcast its weight array into the
    * same lambda. Score = mean token weight; sums stay integer until ONE
    * final double division, so the oracle is exact. Row-local
    * (split → transform → aggregate, no explode): zero shuffle, fully
    * codegen'd, embarrassingly parallel at 100 TB — model-based filtering
    * costs one corpus pass regardless of scale.
    */
  def t13QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir, spreadKernel = true)(t13Body) // full feature battery

  private[graft] def t13Body(df: DataFrame): DataFrame = {
    // ws materialized as a real column BEFORE the lambda: an expression
    // referenced inside transform() re-evaluates per element
    val tokWeight = (w: Column) =>
      conv(substring(md5(w), 1, 4), 16, 10).cast("long") % 2001L - 1000L
    df
      .select(col("gid"), words(lower(col("text"))).as("ws"))
      .select(col("gid"), size(col("ws")).as("n_tokens"),
        aggregate(col("ws"), lit(0L), (acc, w) => acc + tokWeight(w))
          .as("wsum"))
      .where(col("n_tokens") > 0)
      .select(col("gid"), col("n_tokens"),
        (col("wsum").cast("double") / (col("n_tokens") * 1000.0))
          .as("clf_score"))
      .withColumn("keep", col("clf_score") > 0.0)
  }

  /** The ONE tokenizer: the non-empty pieces of a string split on one
    * space (callers lowercase first where the op is case-folded). It is
    * codegen'd `array_remove`, not a non-empty `filter` lambda — the
    * same tokens, but `ArrayFilter` is interpreted per element
    * (CodegenFallback). Null text stays a null array. */
  private[graft] def words(c: Column): Column = array_remove(split(c, " "), "")

  /** One whitespace token count as a Column (t13/t14/t15 and the corpus
    * tier share it so the mixture, classifier and packing ops can't drift
    * from each other). */
  private[graft] def tokCount(c: Column): Column = size(words(lower(c)))

  /** t14 — domain-mixture report: exact per-(source, lang) doc and token
    * counts plus each cell's share of the corpus' tokens — the mixture
    * table every training run is configured from (and the input to t15's
    * rebalancing). Integer counts all the way; ONE double division per
    * row against the global total, which is a scalar aggregate
    * broadcast back over the grouped rows — no single-partition
    * window exchange anywhere (the ExplainAudit sweep enforces this
    * suite-wide).
    */
  def t14DomainMix(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).documents
      .select(col("source"), col("lang"), tokCount(col("text")).as("toks"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val total = cells.agg(sum(col("n_tokens")).as("tot_tokens"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
          .as("token_share"))
      .orderBy(col("source"), col("lang"))
  }

  /** t15's target token mixture; the oracle CASE is generated from this
    * map so engine and oracle cannot drift. */
  private[graft] val mixtureTargets: Map[String, Double] = Map(
    "en" -> 0.40, "de" -> 0.20, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.10)

  /** t15 — mixture resampling (the DoReMi/Pile-style rebalancing pass):
    * downsample languages so retained token shares track a target mixture.
    * Per-language keep rate r_l = (w_l/s_l) / max_k(w_k/s_k) — the most
    * upweighted language keeps everything (rate 1), every other is
    * down-sampled proportionally; rates derive ONLY from exact token
    * counts + the literal target map, so both engines compute them
    * bit-identically (double ops in one fixed order). The keep decision
    * reuses t11's deterministic md5 fraction — RNG-free, reproducible,
    * and a 5-row broadcast join + narrow filter at any scale.
    */
  def t15MixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val target = mixtureTargets.toSeq.sortBy(_._1).foldLeft(
      lit(null).cast("double")) { case (acc, (l, t)) =>
      when(col("lang") === l, lit(t)).otherwise(acc)
    }
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("lang"),
        tokCount(col("text")).as("toks"))
    // global total + global max are scalar aggregates broadcast back over
    // the per-lang rows — identical IEEE op order to the former windows,
    // but no single-partition exchange (ExplainAudit sweep enforces).
    val langToks = toks.groupBy(col("lang"))
      .agg(sum(col("toks")).as("lang_tokens"))
    val total = langToks.agg(sum(col("lang_tokens")).as("tot_tokens"))
    val ratios = langToks.crossJoin(broadcast(total))
      .select(col("lang"),
        (target * col("tot_tokens").cast("double") /
          col("lang_tokens").cast("double")).as("ratio"))
    val maxRatio = ratios.agg(max(col("ratio")).as("max_ratio"))
    val rates = ratios.crossJoin(broadcast(maxRatio))
      .select(col("lang"), (col("ratio") / col("max_ratio"))
        .as("keep_rate"))
    val hashFrac = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("double") / 65536.0
    toks.join(broadcast(rates), Seq("lang"))
      .filter(hashFrac < col("keep_rate"))
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** The t01 oracle mirrors the argmax in DuckDB: per-language stopword
    * hit counts as (score, lang) structs, `list_max` picking the same
    * (max score, then lexicographically-greatest lang) winner as Spark's
    * array_max — and the stopword lists are generated from the SAME
    * Scala map, so heuristic and oracle cannot drift. */
  private def t01OracleSql: String = {
    val structs = stopwords.keys.toSeq.sorted.map { lang =>
      val set = stopwords(lang).map(w => s"'$w'").mkString(", ")
      s"{'score': len(list_filter(string_split(lower(text), ' '), " +
        s"w -> w IN ($set))), 'lang': '$lang'}"
    }.mkString(",\n        ")
    s"""WITH scored AS (
       |  SELECT doc_id, list_max([
       |        $structs]) AS best
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN best.score > 0 THEN best.lang ELSE 'unknown' END
       |    AS lang_pred,
       |  best.score AS stop_hits
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** t12 — per-language vocabulary heavy hitters (the corpus-frequency
    * pass tokenizer/BPE training and stopword-list induction start from):
    * top-20 tokens per language by exact count. Two-level aggregation —
    * the (lang, token) groupBy combines map-side, so the shuffle carries
    * one row per distinct token per partition, not one per occurrence;
    * the per-lang top-k window then runs over the already-reduced
    * distinct-token set (vocabulary-sized, not corpus-sized). Exact
    * integer counts → exact oracle.
    */
  def t12HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("token"))
    Tables(spark, dir).documents
      .select(col("lang"),
        explode(rawWords(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 20)
      .orderBy(col("lang"), col("rnk"))
  }

  /** t21 — per-document TF-IDF keyword extraction (the per-doc topical
    * signature corpus curation tags, routes, and clusters by; t12 is
    * the corpus-global frequency pass, this is its per-document dual).
    * TF comes from one map-side-combined (doc, token) aggregation; DF
    * LOGICALLY aggregates that already-distinct (doc, token) table —
    * while the PHYSICAL plan deliberately tokenizes the corpus twice:
    * Catalyst inlines tf into both consumers, and the two codegen'd
    * linear explode passes measured CHEAPER than materializing the
    * billion-row tf table to share it (95 s vs 79 s at sf100; the
    * shape is pinned at exactly two Generate passes in
    * ExplainAuditSpec). The corpus doc count joins as a broadcast
    * single row. The score is
    * s06's rational idf, kept in PURE BIGINT arithmetic — tf *
    * (2N − 2df + 1) * 1000 div (2df + 1) — so both engines' integers
    * are identical (no log, no double division; bounded: tf ≤ doc
    * tokens ~1e4, N ≤ 1e9 ⇒ product < 2^63). Top-5 per doc via a
    * window whose partitions are per-doc DISTINCT tokens — bounded by
    * document size at any corpus size, ties broken on the token string
    * so rank is total. */
  def t21TfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    // tf feeds BOTH the keyword rows and the df aggregation. Catalyst
    // inlines tf into each consumer — TWO codegen'd linear tokenize
    // passes (the shape ExplainAuditSpec pins). A localCheckpoint cut
    // that would tokenize once was measured SLOWER (95 s vs 79 s at
    // sf100): materializing the billion-row (doc, token) table costs
    // more than the second linear scan.
    val tf = docs
      .select(col("doc_id"), explode(words(lower(col("text")))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q").desc, col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score_q",
        expr("(tf * (2 * n_docs - 2 * df + 1) * 1000) div (2 * df + 1)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score_q"), col("rnk"))
      .sortWithinPartitions(col("doc_id"), col("rnk"))
  }

  /** t10/t11 oracles are generated from the SAME probe phrase / threshold
    * map the operators use, so heuristic and oracle cannot drift. */
  private def t10OracleSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, string_split(
       |    CASE WHEN doc_id % 37 = 0 THEN text || ' $probePhrase'
       |         ELSE text END, ' ') AS ws
       |  FROM documents),
       |cg AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(ws[CAST(i AS BIGINT) : CAST(i+12 AS BIGINT)],
       |      ' ') AS gram
       |  FROM base, LATERAL (SELECT unnest(range(1, len(ws)-11)) AS i) t
       |  WHERE doc_id % 50 <> 0 AND len(ws) >= 13),
       |eg AS (
       |  SELECT DISTINCT
       |    array_to_string(ws[CAST(i AS BIGINT) : CAST(i+12 AS BIGINT)],
       |      ' ') AS gram
       |  FROM base, LATERAL (SELECT unnest(range(1, len(ws)-11)) AS i) t
       |  WHERE doc_id % 50 = 0 AND len(ws) >= 13)
       |SELECT cg.doc_id, COUNT(*) AS n_contaminated_grams
       |FROM cg JOIN eg USING (gram)
       |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin

  /** The t11 threshold as DuckDB SQL — shared by the t11/st11/p11
    * oracles. */
  private[graft] def thresholdCaseSql: String = {
    val cases = sampleThresholds.toSeq.sorted
      .map { case (l, t) => s"WHEN '$l' THEN '$t'" }.mkString(" ")
    s"CASE lang $cases ELSE '00' END"
  }

  /** t16 — language-model quality filter (the CCNet/perplexity family,
    * completing the trio: heuristic t02, classifier t13, LM t16): a
    * bigram model is TRAINED ON THE CORPUS ITSELF (two aggregations:
    * bigram counts, then context counts), and each document scores the
    * mean "surprise" of its transitions — scaled inverse conditional
    * frequency floor(1e6·count(w1)/count(w1,w2)), kept in INTEGER floor
    * division so both engines agree exactly (log-perplexity would differ
    * in the last ulp between libm implementations); one double division
    * per doc at the end. High surprise = improbable continuations =
    * boilerplate/gibberish. Shuffles: two vocabulary-sized aggs, one
    * gram-keyed hash join back, one doc-keyed agg — all linear,
    * no N² anywhere.
    */
  // EXACT-DUP PRE-COLLAPSE: the bigram model is CORPUS-level, so the
  // collapse must preserve it exactly — bigram occurrence rows come from
  // one row per class and the model counts weight each by the class
  // size m: sum(m) equals the per-copy count, term for term, so c1/c2
  // and every integer DIV result are identical at ANY dup profile (not
  // just uniform replication). Per-doc scoring then runs once per class.
  def t16LmSurprise(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir)(t16Body)

  private[graft] def t16Body(df: DataFrame): DataFrame = {
    val tok = df
      .select(col("gid"), col("m"), words(lower(col("text"))).as("ws"))
      .where(size(col("ws")) >= 2)
    val g = tok.select(col("gid"), col("m"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("bg"))
      .select(col("gid"), col("m"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"))
    val bc = g.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c2"))
    val cc = bc.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    g.join(bc, Seq("w1", "w2")).join(cc, Seq("w1"))
      .select(col("gid"), expr("(1000000 * c1) DIV c2").as("surp"))
      .groupBy(col("gid"))
      .agg(sum(col("surp")).as("ssum"), count(lit(1)).as("n_bigrams"))
      .select(col("gid"), col("n_bigrams"),
        (col("ssum").cast("double") / col("n_bigrams")).as("avg_surprise"),
        (col("ssum").cast("double") / col("n_bigrams") >
          lit(surpriseThreshold)).as("flagged"))
  }

  /** Flag threshold for t16, shared with its oracle. */
  private[graft] val surpriseThreshold: Double = 3.0e7

  /** t15's oracle — the CASE is generated from mixtureTargets and the
    * md5-fraction is t13's digit-by-digit hex parse, so every constant
    * and every double operation matches the engine's order exactly. */
  private[graft] def t15OracleSql: String = {
    val cases = mixtureTargets.toSeq.sortBy(_._1)
      .map { case (l, t) => s"WHEN '$l' THEN CAST($t AS DOUBLE)" }
      .mkString(" ")
    def hexDigit(i: Int) =
      s"(strpos('0123456789abcdef', substring(md5(CAST(t.doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH t AS (
       |  SELECT doc_id, source, lang,
       |    len(list_filter(string_split(lower(text), ' '),
       |      w -> length(w) > 0)) AS toks
       |  FROM documents),
       |l AS (
       |  SELECT lang, CAST(SUM(toks) AS BIGINT) AS lang_tokens
       |  FROM t GROUP BY 1),
       |r0 AS (
       |  SELECT lang,
       |    (CASE lang $cases END)
       |      * CAST(SUM(lang_tokens) OVER () AS DOUBLE)
       |      / CAST(lang_tokens AS DOUBLE) AS ratio
       |  FROM l),
       |r AS (SELECT lang, ratio / MAX(ratio) OVER () AS keep_rate FROM r0)
       |SELECT t.doc_id, t.source, t.lang
       |FROM t JOIN r ON t.lang = r.lang
       |WHERE (${hexDigit(1)} * 4096
       |     + ${hexDigit(2)} * 256
       |     + ${hexDigit(3)} * 16
       |     + ${hexDigit(4)}) / 65536.0 < r.keep_rate
       |ORDER BY t.doc_id""".stripMargin
  }

  private[graft] def t11OracleSql: String =
    s"""SELECT doc_id, lang,
       |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
       |FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <=
       |  $thresholdCaseSql
       |ORDER BY doc_id""".stripMargin

  /** t02's quality formula as a reusable Column (the p11 filter) — kept
    * textually in sync with t02/its oracle; each user query is still
    * pinned by its own DuckDB oracle. */
  private[graft] def qualityOf(c: Column): Column = {
    val ws = rawWords(c)
    val awl = length(c).cast("double") / size(ws)
    lit(0.4) * least(lit(1.0), size(ws).cast("double") / 120.0) +
      lit(0.3) * when(awl >= 3.0 && awl <= 8.0, 1.0).otherwise(0.0) +
      lit(0.3) * least(lit(1.0),
        stopHits(ws, "en").cast("double") / size(ws) * 5.0)
  }

  /** The same formula as DuckDB SQL over a `text` column. */
  private[graft] val qualitySqlExpr: String =
    """0.4 * least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 120.0)
      |  + 0.3 * (CASE WHEN CAST(length(text) AS DOUBLE) / len(string_split(text,' '))
      |      BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END)
      |  + 0.3 * least(1.0,
      |      CAST(len(list_filter(string_split(lower(text),' '),
      |        w -> w IN ('the','a','of','and','to','is','in','it','you','that')))
      |        AS DOUBLE) / len(string_split(text,' ')) * 5.0)""".stripMargin

  /** Greedy left-to-right application of ONE BPE merge (a,b)→ab to a
    * symbol array, as a pure Catalyst `aggregate` fold — no UDF, the
    * per-element loop stays a column expression. The (out, skip) struct
    * accumulator implements the overlap rule: after emitting a merge the
    * next element is consumed ("aaa" under (a,a) → [aa, a], not [aa, aa]).
    * `get()` is 0-based and null-safe, so the lookahead at the last
    * element is a null mismatch, never an ANSI index error.
    */
  private[graft] def mergePair(syms: Column, a: String, b: String): Column =
    mergePairs(syms, Seq((a, b)))

  /** One combined left-to-right pass applying a whole BATCH of merges —
    * expression size LINEAR in the batch (composing per-pair folds puts
    * the input column in the lambda 3x per wrap: 3^k expression copies,
    * a driver OOM at k=10). Equivalent to applying the pairs one after
    * another BECAUSE the batch is symbol-disjoint: occurrences of two
    * different pairs can never overlap (they'd share the middle symbol)
    * and no pair references another's concatenated output symbol
    * (bpeDisjointPrefix rejects that), so no application can create or
    * destroy another's match sites. */
  private[graft] def mergePairs(syms: Column,
      pairs: Seq[(String, String)]): Column =
    aggregate(
      sequence(lit(0), size(syms) - 1),
      struct(typedLit(Seq.empty[String]).as("out"), lit(false).as("skip")),
      (acc, i) => {
        val cur = get(syms, i)
        val nxt = get(syms, i + 1)
        val hit = pairs.map { case (a, b) =>
          cur === lit(a) && nxt === lit(b)
        }.reduce(_ || _)
        val rep = pairs.tail.foldLeft(
          when(cur === lit(pairs.head._1) && nxt === lit(pairs.head._2),
            lit(pairs.head._1 + pairs.head._2))) { case (w, (a, b)) =>
          w.when(cur === lit(a) && nxt === lit(b), lit(a + b))
        }
        when(acc.getField("skip"),
          struct(acc.getField("out").as("out"), lit(false).as("skip")))
          .when(hit,
            struct(array_append(acc.getField("out"), rep).as("out"),
              lit(true).as("skip")))
          .otherwise(
            struct(array_append(acc.getField("out"), cur).as("out"),
              lit(false).as("skip")))
      },
      acc => acc.getField("out"))

  /** BPE vocabulary induction (Sennrich et al. 2016) over a corpus, the
    * distributed way. The corpus collapses ONCE to a (word, freq) table —
    * everything after is proportional to the VOCABULARY, not the corpus:
    * each round counts adjacent symbol pairs (freq-weighted, map-side
    * combined), the driver collects the top-K ranked rows (count desc,
    * then lexicographic — fully deterministic) and applies a BATCH of
    * merges per round, so a production 32k-merge vocabulary is thousands
    * of Spark jobs, not 32k. localCheckpoint per round cuts the
    * otherwise-nesting lambda lineage (same discipline as d08's
    * label-propagation loop). At 100 TB the word table is ~millions of
    * rows against billions of documents; rounds never rescan the corpus.
    *
    * BATCHING IS EXACT — the merge sequence is byte-identical to the
    * one-merge-per-round greedy. The batch is the maximal PREFIX of the
    * round's ranked pair list that is pairwise symbol-DISJOINT (stop at
    * the first pair sharing a symbol with an earlier selected pair).
    * Why that reproduces the sequential order: applying a merge (a,b)
    * only changes counts of pairs touching a or b and only CREATES pairs
    * containing the merged symbol "ab", each new/changed count bounded
    * by the OLD count of some pair overlapping (a,b). For the i-th
    * selected pair p_i, every pair ranked above it is selected and
    * disjoint, so no pair that could outrank p_i after merges 1..i-1
    * exists: such a pair's bound — an old overlapping pair — would have
    * outranked p_i in the old list and ended the prefix (ties break
    * lexicographically, and a merged symbol "xy" always sorts after its
    * own prefix x, so a tied bound also ends the prefix first).
    */
  /** A trained BPE model: the ranked merge list plus the fully-merged
    * per-word symbol table the training loop ends with — encode (t18)
    * reads the latter directly instead of re-running every fold. */
  private[graft] final case class BpeModel(
      merges: Seq[(Int, String, String, Long)], vocab: DataFrame,
      rounds: Int)

  /** Merges applied per round cap: bounds the combined-pass match arm
    * count in one projection, while cutting driver round-trips ~an
    * order of magnitude on natural text. */
  private val BpeBatchK = 16

  /** Maximal symbol-disjoint PREFIX of the ranked (a, b, cnt) rows —
    * the batch that is provably order-equivalent to sequential greedy.
    * A pair is also rejected (ending the prefix) when it references an
    * EARLIER selected pair's concatenated output symbol: sequential
    * application would let the later merge consume symbols the earlier
    * one just created, which the single combined [[mergePairs]] pass —
    * by design — never rescans. */
  private[graft] def bpeDisjointPrefix(
      ranked: Seq[(String, String, Long)]): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val concats = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[(String, String, Long)]
    var open = true
    ranked.foreach { case p @ (a, b, _) =>
      if (open && !used.contains(a) && !used.contains(b) &&
          !concats.contains(a) && !concats.contains(b)) {
        used += a; used += b; concats += (a + b); out += p
      } else open = false
    }
    out.result()
  }

  private[graft] def bpeTrain(docs: DataFrame, nMerges: Int,
      batchK: Int = BpeBatchK): BpeModel = {
    var vocab = docs
      .select(explode(words(lower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        array_append(split(col("word"), ""), lit("</w>")).as("syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var rounds = 0
    var done = false
    while (rank <= nMerges && !done) {
      rounds += 1
      val pairIdx = sequence(lit(1), size(col("syms")) - 1)
      val top = vocab
        .filter(size(col("syms")) > 1) // fully-merged words have no pairs
        .select(col("freq"),
          explode(transform(pairIdx,
            i => struct(get(col("syms"), i - 1).as("a"),
              get(col("syms"), i).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(math.min(batchK, nMerges - rank + 1)).collect()
      if (top.isEmpty) done = true
      else {
        val batch = bpeDisjointPrefix(top.toIndexedSeq.map(r =>
          (r.getString(0), r.getString(1), r.getLong(2))))
        batch.foreach { case (a, b, cnt) =>
          merges += ((rank, a, b, cnt)); rank += 1
        }
        val next = vocab
          .select(col("word"), col("freq"),
            mergePairs(col("syms"),
              batch.map { case (a, b, _) => (a, b) }).as("syms"))
          .localCheckpoint(true)
        vocab.unpersist()
        vocab = next
      }
    }
    BpeModel(merges.result(), vocab, rounds)
  }

  private[graft] def bpeMerges(docs: DataFrame, nMerges: Int,
      batchK: Int = BpeBatchK): DataFrame = {
    val spark = docs.sparkSession
    val model = bpeTrain(docs, nMerges, batchK)
    model.vocab.unpersist()
    import spark.implicits._
    model.merges.toDF("rank", "left", "right", "pair_count")
      .orderBy(col("rank"))
  }

  /** t17 — BPE tokenizer training over the documents corpus: the first
    * 12 learned merges with their frequency-weighted pair counts.
    * Full DuckDB oracle (round 9): the fixed merge count lets the
    * training loop unroll into chained CTEs — see [[bpeVocabCtes]];
    * the merge sequence and the overlap rule are additionally pinned by
    * LlmOpsSpec on a hand-computed planted corpus.
    */
  def t17BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables(spark, dir).documents.select(col("text")), 12)

  /** t18 — BPE ENCODE with the t17-trained merges (the apply half of the
    * tokenizer loop; together they are train→tokenize, the op every
    * corpus pays before training). Training's final per-word symbol
    * table IS the encoded vocabulary — each merge round already applied
    * its fold during training, so encode adds no per-word work at all;
    * per-doc token counts come from one word join + groupBy over the
    * corpus. Full DuckDB oracle (round 9, via the same unrolled CTE
    * chain as t17); the hug/pug spec pins hand-computed counts.
    */
  def t18BpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(Tables(spark, dir).documents, 12)

  private[graft] def bpeEncode(docs: DataFrame, nMerges: Int): DataFrame = {
    // the training loop's final symbol table IS the encoded vocabulary —
    // every merge was already applied per word during training, so
    // encode pays zero additional folds. (Nesting the folds instead
    // makes Catalyst re-substitute the child expression ~4× per level,
    // an exponential tree observed as a driver OOM at 12 merges — the
    // per-step materialization lives in bpeTrain.)
    val model = bpeTrain(docs.select(col("text")), nMerges)
    val encoded = model.vocab
      .select(col("word"), size(col("syms")).as("n_sub"))
      .localCheckpoint(true)
    model.vocab.unpersist()
    docs.select(col("doc_id"), explode(words(lower(col("text")))).as("word"))
      .join(encoded, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double"), 6).as("tokens_per_word"))
      .orderBy(col("doc_id"))
  }

  /** t19 — blocklist safety filter with OBFUSCATION FOLDING (the safety
    * stage every training corpus passes; t08 scrubs structured PII, this
    * catches listed terms): text normalizes through a leet-speak
    * character fold (0→o 1→i 3→e 4→a 5→s 7→t @→a $→s) BEFORE matching,
    * so "sl0w" and "s7ream" hit the same terms "slow"/"stream" — a
    * plain wordlist grep misses trivially-obfuscated content. Planted
    * obfuscated variants (every 7th/11th doc) make both the fold and
    * the plain path measurable; per-doc hit counts and the keep/drop
    * flag are the output. One narrow codegen'd pass, no shuffle before
    * the presentation sort; the DuckDB oracle repeats the identical
    * translate+count pipeline.
    */
  def t19BlocklistFilter(spark: SparkSession, dir: String): DataFrame =
    gated(spark, dir, t19Flags)(t19Body)

  /** The planting depends on doc_id only through these two flags, so
    * (md5(text), p7, p11) is the valid collapse class. */
  private[graft] val t19Flags: Seq[(String, Column)] = Seq(
    "p7" -> (pmod(col("doc_id"), lit(7)) === 0),
    "p11" -> (pmod(col("doc_id"), lit(11)) === 0))

  private[graft] def t19Body(df: DataFrame): DataFrame = {
    val blocked = Seq("slow", "stream") // stand-in listed terms
    val planted = when(col("p7"), concat(col("text"), lit(" sl0w")))
      .otherwise(when(col("p11"), concat(col("text"), lit(" s7ream")))
        .otherwise(col("text")))
    val folded = translate(lower(planted), "013457@$", "oieastas")
    val ws = words(folded)
    val set = array(blocked.map(lit): _*)
    df
      .select(col("gid"),
        size(filter(ws, w => array_contains(set, w))).as("n_hits"))
      .select(col("gid"), col("n_hits"),
        (col("n_hits") === 0).as("keep"))
  }

  /** t20 — boilerplate STRIP (the apply half of t09, as t18 is to t17):
    * the t09-detected recurring segments become the strip list (shared
    * code — LITERALLY t09's aggregation), every doc's 8-word blocks
    * left-join it broadcast, and surviving blocks reassemble IN ORDER
    * via array_sort over (index, seg) structs — collect_list alone has
    * no order contract. Output = cleaned-text md5 + before/after word
    * counts per doc (docs stripped to nothing drop out, mirrored by the
    * oracle). One explode + one broadcast join + one groupBy: the
    * rewrite costs what the detection cost.
    */
  def t20BoilerplateStrip(spark: SparkSession, dir: String): DataFrame =
    t20Path(spark, dir,
      DupDensity.textGate(Tables(spark, dir).documents))

  /** The strip list is corpus-level (t09 counts DISTINCT doc_ids, so it
    * is dup-profile-exact as-is); the per-doc strip+reassemble half is a
    * pure function of text given that broadcast list — collapsible. */
  private[graft] def t20Path(spark: SparkSession, dir: String,
      collapsed: Boolean): DataFrame = {
    val strip = t09Boilerplate(spark, dir).select(col("seg"))
      .withColumn("blocked", lit(true))
    DupDensity.perClass(Tables(spark, dir).documents, collapsed) { df =>
      val segs = df
        .select(col("gid"), split(col("text"), " ").as("ws"))
        .select(col("gid"), size(col("ws")).as("words_before"),
          posexplode(segments8(col("ws"), includeTail = true))
            .as(Seq("i", "seg")))
      segs.join(broadcast(strip), Seq("seg"), "left")
        .filter(col("blocked").isNull)
        .groupBy(col("gid"), col("words_before"))
        .agg(
          md5(array_join(transform(
            array_sort(collect_list(struct(col("i"), col("seg")))),
            s => s.getField("seg")), " ").cast("binary")).as("cleaned_md5"),
          sum(size(words(col("seg")))).as("words_after"))
    }
  }

  /** t17/t18's DuckDB twin: the 12-round BPE training loop UNROLLED into
    * chained CTEs (fixed merge count ⇒ no recursion needed). Each word's
    * symbol list is carried as a chr(31)-delimited string with every
    * symbol wrapped in its own separators ("␟a␟␟b␟…"), because SQL
    * replace() then IS the mergePair fold: replace scans left-to-right
    * and resumes AFTER each replacement, which reproduces the fold's
    * skip-after-merge rule exactly (verified on the aaa/aaaa overlap
    * cases), and the double separator keeps adjacent pair patterns from
    * sharing a delimiter character. Ties break (cnt DESC, a, b) in both
    * engines' binary string order. chr(31) never occurs in corpus text
    * (space-split words; the oracle would fail LOUDLY if it did). */
  private def bpeVocabCtes(nMerges: Int): String = {
    val S = "chr(31)"
    val sb = new StringBuilder
    sb.append(
      s"""bpe_base AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS freq
         |  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
         |          w -> length(w) > 0)) AS word FROM documents)
         |  GROUP BY word),
         |v0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    $S || array_to_string(list_append(string_split(word, ''),
         |      '</w>'), $S || $S) || $S AS rep
         |  FROM bpe_base)""".stripMargin)
    for (r <- 1 to nMerges) sb.append(
      s""",
         |p$r AS MATERIALIZED (
         |  SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(trim(rep, $S), $S || $S) AS s
         |        FROM v${r - 1}) t,
         |    LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    replace(rep, $S || m$r.a || $S || $S || m$r.b || $S,
         |      $S || m$r.a || m$r.b || $S) AS rep
         |  FROM v${r - 1}, m$r)""".stripMargin)
    sb.toString
  }

  private def t17OracleSql: String =
    "WITH " + bpeVocabCtes(12) + "\n" +
      (1 to 12).map(r =>
        s"""SELECT $r AS rank, a AS "left", b AS "right", cnt AS pair_count
           |FROM m$r""".stripMargin).mkString("\nUNION ALL\n") +
      "\nORDER BY rank"

  private def t18OracleSql: String =
    "WITH " + bpeVocabCtes(12) +
      s""",
         |enc AS (
         |  SELECT word,
         |    len(string_split(trim(rep, chr(31)), chr(31) || chr(31)))
         |      AS n_sub
         |  FROM v12),
         |dw AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split(lower(text), ' '),
         |      w -> length(w) > 0)) AS word
         |  FROM documents)
         |SELECT doc_id, COUNT(*) AS n_words,
         |  CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(SUM(n_sub) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         |    AS tokens_per_word
         |FROM dw JOIN enc USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "t17_bpe_train" -> t17OracleSql,
    "t18_bpe_encode" -> t18OracleSql,
    // t05: exact facts value-checked; the sketch-error booleans are
    // pinned TRUE — the tolerance contract (see the t05 Scaladoc) is
    // what the oracle asserts
    "t05_corpus_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT lang) AS n_langs_exact,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  TRUE AS langs_ok, TRUE AS median_ok, TRUE AS p99_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // t04: the md5Hash60 kernel spelled identically — DuckDB's 0x-cast
    // parses the same 15 md5 hex digits Spark's conv does; shingle
    // windows are 1-based 4-wide slices in both engines
    "t04_fingerprint" ->
      """WITH d AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) >= 4 THEN
        |      list_transform(range(1, len(ws) - 2),
        |        i -> CAST(('0x' || substr(md5(
        |          array_to_string(list_slice(ws, i, i + 3), ' ')), 1, 15))
        |          AS BIGINT))
        |    ELSE [CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)]
        |    END AS sh
        |  FROM d)
        |SELECT doc_id, list_min(sh) AS fp_min, list_max(sh) AS fp_max,
        |  len(sh) AS n_shingles
        |FROM s ORDER BY doc_id""".stripMargin,
    "t20_boilerplate_strip" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |segs AS (
        |  SELECT doc_id, len(ws) AS words_before, i,
        |    array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS seg
        |  FROM d, LATERAL (SELECT unnest(range(0,
        |    CAST(floor((len(ws)-1)/8) AS BIGINT) + 1)) AS i)),
        |fullsegs AS (
        |  SELECT doc_id,
        |    array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS seg
        |  FROM d, LATERAL (SELECT unnest(range(0,
        |    CAST(floor(len(ws)/8) AS BIGINT))) AS i)),
        |strip AS (
        |  SELECT seg FROM fullsegs
        |  GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2),
        |kept AS (
        |  SELECT doc_id, words_before, i, seg FROM segs
        |  WHERE seg NOT IN (SELECT seg FROM strip))
        |SELECT doc_id, words_before,
        |  md5(string_agg(seg, ' ' ORDER BY i)) AS cleaned_md5,
        |  CAST(SUM(len(list_filter(string_split(seg, ' '),
        |    w -> length(w) > 0))) AS BIGINT) AS words_after
        |FROM kept GROUP BY doc_id, words_before
        |ORDER BY doc_id""".stripMargin,
    "t19_blocklist_filter" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' sl0w'
        |         WHEN doc_id % 11 = 0 THEN text || ' s7ream'
        |         ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(
        |    list_filter(string_split(
        |      translate(lower(t), '013457@$', 'oieastas'), ' '),
        |      w -> length(w) > 0),
        |    w -> w IN ('slow', 'stream'))) AS INTEGER) AS n_hits,
        |  len(list_filter(
        |    list_filter(string_split(
        |      translate(lower(t), '013457@$', 'oieastas'), ' '),
        |      w -> length(w) > 0),
        |    w -> w IN ('slow', 'stream'))) = 0 AS keep
        |FROM aug ORDER BY doc_id""".stripMargin,
    "t10_contamination" -> t10OracleSql,
    "t11_stratified_sample" -> t11OracleSql,
    "t12_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |cnt AS (SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
        |rk AS (
        |  SELECT lang, token, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, token) AS rnk
        |  FROM cnt)
        |SELECT lang, token, cnt, rnk FROM rk WHERE rnk <= 20
        |ORDER BY lang, rnk""".stripMargin,
    // t21: the identical BIGINT score arithmetic — DuckDB's // is
    // Spark's div; list_filter mirrors the empty-token drop
    "t21_tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      w -> len(w) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT doc_id, token, tf, df,
        |    (tf * (2 * n_docs - 2 * df + 1) * 1000) // (2 * df + 1)
        |      AS score_q
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |rk AS (
        |  SELECT doc_id, token, tf, df, score_q,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score_q DESC, token) AS rnk
        |  FROM s)
        |SELECT doc_id, token, tf, df, score_q, rnk FROM rk
        |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,
    "t14_domain_mix" ->
      """WITH s AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(lower(text), ' '),
        |      w -> length(w) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
        |    AS token_share
        |FROM s ORDER BY source, lang""".stripMargin,
    "t15_mixture_resample" -> t15OracleSql,
    // t16: `//` is DuckDB's integer floor division = Spark's DIV; the
    // scaled ratio stays integer until the one per-doc mean division
    "t16_lm_surprise" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    list_filter(string_split(lower(text), ' '),
         |      w -> length(w) > 0) AS ws
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
         |  FROM tok, unnest(range(1, len(ws))) AS t(i)
         |  WHERE len(ws) >= 2),
         |bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM g GROUP BY 1, 2),
         |cc AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bc GROUP BY 1),
         |s AS (
         |  SELECT g.doc_id, (1000000 * cc.c1) // bc.c2 AS surp
         |  FROM g JOIN bc USING (w1, w2) JOIN cc USING (w1)),
         |d AS (
         |  SELECT doc_id, CAST(SUM(surp) AS BIGINT) AS ssum,
         |    COUNT(*) AS n_bigrams
         |  FROM s GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         |  CAST(ssum AS DOUBLE) / n_bigrams AS avg_surprise,
         |  CAST(ssum AS DOUBLE) / n_bigrams > ${surpriseThreshold}
         |    AS flagged
         |FROM d ORDER BY doc_id""".stripMargin,
    // t13: the hex→int step is spelled digit-by-digit (DuckDB has no
    // conv()); mathematically identical to Spark's conv(md5[0:4],16,10)
    "t13_quality_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '),
        |      w -> length(w) > 0) AS ws
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, len(ws) AS n_tokens,
        |    CAST(list_sum(list_transform(ws, w ->
        |      ( (strpos('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 4096
        |      + (strpos('0123456789abcdef', substring(md5(w), 2, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substring(md5(w), 3, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substring(md5(w), 4, 1)) - 1)
        |      ) % 2001 - 1000)) AS BIGINT) AS wsum
        |  FROM tok)
        |SELECT doc_id, n_tokens,
        |  CAST(wsum AS DOUBLE) / (n_tokens * 1000.0) AS clf_score,
        |  CAST(wsum AS DOUBLE) / (n_tokens * 1000.0) > 0.0 AS keep
        |FROM sc WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin,
    "t01_lang_id" -> t01OracleSql,
    "t06_segment_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (
        |  SELECT doc_id, ws, unnest(range(0,
        |    CAST(floor((len(ws)-1)/8) AS BIGINT) + 1)) AS pos
        |  FROM base),
        |seg AS (
        |  SELECT doc_id, pos,
        |    array_to_string(ws[CAST(pos*8+1 AS BIGINT)
        |      : CAST(pos*8+8 AS BIGINT)], ' ') AS seg
        |  FROM idx),
        |firsts AS (
        |  SELECT doc_id, seg, MIN(pos) AS pos FROM seg
        |  GROUP BY doc_id, seg)
        |SELECT doc_id,
        |  string_agg(seg, ' ' ORDER BY pos) AS clean_text,
        |  length(string_agg(seg, ' ' ORDER BY pos)) AS n_chars_c
        |FROM firsts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t02_quality_score" ->
      """SELECT doc_id, length(text) AS n_chars_m,
        |  len(string_split(text,' ')) AS n_words,
        |  len(list_filter(string_split(lower(text),' '),
        |    w -> w IN ('the','a','of','and','to','is','in','it','you','that')))
        |    AS stop_cnt,
        |  CAST(length(text) AS DOUBLE) / len(string_split(text,' ')) AS avg_wlen,
        |  0.4 * least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 120.0)
        |  + 0.3 * (CASE WHEN CAST(length(text) AS DOUBLE) / len(string_split(text,' '))
        |      BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END)
        |  + 0.3 * least(1.0,
        |      CAST(len(list_filter(string_split(lower(text),' '),
        |        w -> w IN ('the','a','of','and','to','is','in','it','you','that')))
        |        AS DOUBLE) / len(string_split(text,' ')) * 5.0) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t03_token_count" ->
      """SELECT doc_id, len(string_split(text,' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t09_boilerplate" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (
        |  SELECT doc_id, ws, unnest(range(0,
        |    CAST(floor(len(ws)/8) AS BIGINT))) AS pos
        |  FROM base),
        |seg AS (
        |  SELECT doc_id,
        |    array_to_string(ws[CAST(pos*8+1 AS BIGINT)
        |      : CAST(pos*8+8 AS BIGINT)], ' ') AS seg
        |  FROM idx)
        |SELECT seg, COUNT(DISTINCT doc_id) AS n_docs,
        |  COUNT(*) AS n_occurrences
        |FROM seg GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY seg""".stripMargin,
    "t07_repetition_filter" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |seg AS (
        |  SELECT doc_id,
        |    [array_to_string(ws[CAST(i*8+1 AS BIGINT)
        |       : CAST(i*8+8 AS BIGINT)], ' ')
        |     FOR i IN range(0, CAST(floor((len(ws)-1)/8) AS BIGINT) + 1)]
        |      AS segs
        |  FROM base),
        |ss AS (
        |  SELECT doc_id, len(segs) AS n_segs,
        |    len(list_distinct(segs)) AS n_distinct_segs FROM seg),
        |g AS (
        |  SELECT doc_id,
        |    unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])
        |      AS gram
        |  FROM base),
        |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |gs AS (SELECT doc_id, sum(c) AS n_grams, max(c) AS top_cnt
        |       FROM gc GROUP BY 1)
        |SELECT ss.doc_id, ss.n_segs, ss.n_distinct_segs,
        |  1.0 - CAST(ss.n_distinct_segs AS DOUBLE) / ss.n_segs
        |    AS dup_seg_frac,
        |  CASE WHEN coalesce(gs.n_grams, 0) > 0
        |    THEN CAST(gs.top_cnt AS DOUBLE) / gs.n_grams
        |    ELSE 0.0 END AS top2gram_frac,
        |  CAST((1.0 - CAST(ss.n_distinct_segs AS DOUBLE) / ss.n_segs) > 0.3
        |    OR (CASE WHEN coalesce(gs.n_grams, 0) > 0
        |          THEN CAST(gs.top_cnt AS DOUBLE) / gs.n_grams
        |          ELSE 0.0 END) > 0.18 AS BIGINT) AS flagged
        |FROM ss LEFT JOIN gs USING (doc_id) ORDER BY doc_id""".stripMargin,
    "t08_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or 10.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST((doc_id * 7) % 256 AS VARCHAR)
        |      || '.4 tel +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(aug,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
        |  len(regexp_extract_all(aug, '\+1-555-[0-9]{4}')) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
        |FROM aug ORDER BY doc_id""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_lang_id" -> (t01LangId _),
    "t02_quality_score" -> (t02QualityScore _),
    "t03_token_count" -> (t03TokenCount _),
    "t04_fingerprint" -> (t04Fingerprint _),
    "t05_corpus_stats" -> (t05CorpusStats _),
    "t06_segment_dedup" -> (t06SegmentDedup _),
    "t07_repetition_filter" -> (t07RepetitionFilter _),
    "t08_pii_scrub" -> (t08PiiScrub _),
    "t09_boilerplate" -> (t09Boilerplate _),
    "t10_contamination" -> (t10Contamination _),
    "t11_stratified_sample" -> (t11StratifiedSample _),
    "t12_heavy_hitters" -> (t12HeavyHitters _),
    "t13_quality_classifier" -> (t13QualityClassifier _),
    "t14_domain_mix" -> (t14DomainMix _),
    "t15_mixture_resample" -> (t15MixtureResample _),
    "t16_lm_surprise" -> (t16LmSurprise _),
    "t17_bpe_train" -> (t17BpeTrain _),
    "t18_bpe_encode" -> (t18BpeEncode _),
    "t19_blocklist_filter" -> (t19BlocklistFilter _),
    "t20_boilerplate_strip" -> (t20BoilerplateStrip _),
    "t21_tfidf_keywords" -> (t21TfidfKeywords _)
  )
}
