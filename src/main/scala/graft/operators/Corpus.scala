package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.{tokCount, words}
import graft.sources.Tables

/** Corpus assembly — the step between a curated document set and an
  * actual training run: packing documents into fixed-token-budget
  * training sequences, chunking for retrieval, and cutting a token
  * budget per domain. These are brief-mandated LLM-pipeline operators
  * (not reference twins); they share t14's whitespace token kernel so
  * the mixture/packing tiers can't drift from each other.
  *
  * Scale shape, once for the family: every operator keys its expensive
  * step by a corpus-proportional bucket (`doc_id % B`, B = ceil(n/1024))
  * so per-task state is bounded by ~1024 docs at ANY corpus size — a
  * 100 TB corpus just has more buckets, never bigger ones. Packing is
  * embarrassingly parallel across buckets by construction (each bucket
  * is its own tape), which is exactly how a multi-node packing job is
  * sharded in practice.
  */
object Corpus {

  /** Tokens-per-sequence budget for every packer, batch and stream
    * (c01/c02 and st23). Real values are 2k-8k; 256 keeps the test
    * corpora's pack populations interesting (docs average ~30 words, so
    * ~8 docs/pack). */
  private[graft] val T = 256L

  /** Target docs per packing bucket; bounds per-task state. */
  private val BucketDocs = 1024L

  /** Bucket count for an n-doc corpus; COUNT(*)-replayable in the
    * oracle (d06's exact-count geometry pattern). */
  private def bucketCount(n: Long): Long =
    math.max(1L, math.ceil(n / BucketDocs.toDouble).toLong)

  private val bucketCountSql: String =
    s"(SELECT GREATEST(1, CAST(CEIL(COUNT(*) / $BucketDocs.0) AS BIGINT)) FROM documents)"

  private val tokCountSql: String =
    "len(list_filter(string_split(lower(text), ' '), w -> length(w) > 0))"

  /** doc_id, bucket, cost (= tokens + 1 EOD) — the packers' shared input
    * (st23's streaming packer stages the same projection). One count()
    * probe fixes the bucket geometry (a driver-side scalar, same
    * discipline as d06's exact-count LSH geometry). */
  private[graft] def packInput(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val b = bucketCount(docs.count())
    docs.select(
      col("doc_id"),
      pmod(col("doc_id"), lit(b)).as("bucket"),
      (tokCount(col("text")) + lit(1L)).as("cost")) // +1: the EOD token
  }

  /** c01 — concat-and-chunk packing (the GPT-style pretraining layout):
    * per bucket, documents concatenate in doc_id order onto one token
    * tape (each followed by an EOD token) and the tape is cut every T
    * tokens, so documents may straddle a pack boundary. Entirely
    * window arithmetic — ONE shuffle on (bucket), partitions bounded
    * by ~1024 docs regardless of corpus size. Emits each document's
    * placement: pack id, offset inside the pack, and whether it
    * straddles into the next pack.
    */
  def c01PackConcat(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    packInput(spark, dir)
      .withColumn("cum", sum(col("cost")).over(w))
      .select(
        col("doc_id"), col("bucket"),
        expr(s"(cum - cost) div $T").as("pack_id"),
        pmod(col("cum") - col("cost"), lit(T)).as("pack_offset"),
        (col("cost") - lit(1L)).as("n_tokens"),
        (expr(s"(cum - 1) div $T") > expr(s"(cum - cost) div $T"))
          .as("straddles"))
      .sortWithinPartitions(col("doc_id"))
  }

  /** c02 — greedy first-fit packing (no split): each document lands
    * whole in exactly one pack — into the open pack if it fits, else a
    * new one (an oversized doc, cost > T, gets a pack of its own and
    * overflows it). Emits (doc_id, bucket, pack_seq, n_tokens). */
  def c02PackGreedy(spark: SparkSession, dir: String): DataFrame =
    greedyRows(spark, dir).sortWithinPartitions(col("doc_id"))

  /** The greedy fold c02 and c05 share. Per bucket:
    * sort_array(collect_list) fixes arrival order, then ONE
    * higher-order `aggregate` folds the ~1024-doc array left-to-right —
    * the per-group sequential scan a packer genuinely is, with group
    * size pinned by the bucket geometry, never by corpus size. No UDF:
    * the fold is a Catalyst expression over struct accumulators. */
  private def greedyRows(spark: SparkSession, dir: String): DataFrame = {
    val emptyAssign = array().cast(
      "array<struct<doc_id:bigint,pack_seq:bigint,cost:bigint>>")
    val init = struct(
      emptyAssign.as("assign"), lit(-1L).as("seq"), lit(0L).as("rem"))
    packInput(spark, dir)
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("cost"))))
        .as("docs"))
      .select(col("bucket"), explode(aggregate(
        col("docs"), init,
        (acc, x) => {
          val fits = x.getField("cost") <= acc.getField("rem")
          val seq = when(fits, acc.getField("seq"))
            .otherwise(acc.getField("seq") + 1)
          val rem = when(fits, acc.getField("rem") - x.getField("cost"))
            .otherwise(lit(T) - x.getField("cost"))
          struct(
            concat(acc.getField("assign"), array(struct(
              x.getField("doc_id").as("doc_id"), seq.as("pack_seq"),
              x.getField("cost").as("cost")))).as("assign"),
            seq.as("seq"), rem.as("rem"))
        },
        acc => acc.getField("assign"))).as("a"))
      .select(
        col("a.doc_id").as("doc_id"), col("bucket"),
        col("a.pack_seq").as("pack_seq"),
        (col("a.cost") - lit(1L)).as("n_tokens"))
  }

  /** c03 — retrieval chunking: fixed 120-char windows at an 80-char
    * stride (40-char overlap), stable (doc_id, chunk_idx) identity and
    * an md5 content fingerprint per chunk. Pure per-row explode — zero
    * shuffles, scales as a map over the corpus. */
  def c03ChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val (w, s) = (120, 80)
    val k = expr(
      s"cast((greatest(length(text) - $w, 0) + ${s - 1}) div $s as int)")
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), k)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        (col("chunk_idx") * s).cast("bigint").as("chunk_start"),
        length(expr(s"substring(text, chunk_idx * $s + 1, $w)"))
          .cast("bigint").as("chunk_len"),
        md5(expr(s"substring(text, chunk_idx * $s + 1, $w)"))
          .as("chunk_md5"))
      .sortWithinPartitions(col("doc_id"), col("chunk_idx"))
  }

  /** c04 — token-budget mixture cut: per (source, lang) domain, keep
    * the greedy prefix of documents by (quality DESC, doc_id) whose
    * running token total stays within 40% of the domain's tokens.
    * Quality = scaled distinct-word ratio, integer all the way.
    *
    * The scalable form, NOT a per-domain global window: a domain at
    * 100 TB has billions of docs, and `Window.partitionBy(domain)
    * .orderBy(score)` puts all of them in one task. Instead: (1) a
    * per-(domain, score-band) token aggregate — thousands of rows —
    * carries the running total across bands; (2) bands strictly above
    * the boundary keep every doc with no per-doc ordering at all;
    * (3) ONLY the single boundary band per domain runs an ordered
    * window, over the small slice that actually contains the cut.
    * Band order refines to the doc order, so the result is exactly the
    * naive greedy prefix (the oracle IS the naive window form).
    */
  def c04TokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokCount(col("text"))
    val uniq = size(array_distinct(words(lower(col("text")))))
    val scored = Tables(spark, dir).documents
      .select(col("source"), col("lang"), col("doc_id"),
        toks.as("toks"), uniq.as("uniq"))
      .where(col("toks") > 0)
      .withColumn("score",
        expr("(cast(uniq as bigint) * 1000000) div toks"))
      .withColumn("band", expr("score div 1000"))
    // (1) band totals + running total in band-descending order; the
    // window partitions by domain over ~1000 band rows per domain.
    val bandW = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("band").desc)
    val bands = scored.groupBy(col("source"), col("lang"), col("band"))
      .agg(sum(col("toks")).as("band_toks"))
      .withColumn("cum_thru", sum(col("band_toks")).over(bandW))
      .withColumn("cum_above", col("cum_thru") - col("band_toks"))
    val budgets = scored.groupBy(col("source"), col("lang"))
      .agg(expr("(sum(toks) * 2) div 5").as("budget"))
    val geo = broadcast(bands.join(budgets, Seq("source", "lang")))
    val tagged = scored.join(geo, Seq("source", "lang", "band"))
    // (2) whole bands inside the budget: every doc keeps, cum from the
    // band prefix plus an ordered within-band cumsum (window partition
    // = ONE band of one domain — the bounded slice).
    val inW = Window.partitionBy(col("source"), col("lang"), col("band"))
      .orderBy(col("score").desc, col("doc_id"))
    tagged
      .where(col("cum_above") < col("budget")) // band can contribute
      .withColumn("cum_tokens",
        col("cum_above") + sum(col("toks")).over(inW))
      .where(col("cum_tokens") <= col("budget"))
      .select(col("source"), col("lang"), col("doc_id"), col("score"),
        col("toks").as("n_tokens"), col("cum_tokens"))
      .sortWithinPartitions(col("source"), col("lang"), col("doc_id"))
  }

  /** c05 — packing-efficiency report (d13's "measure, don't guess"
    * applied to the packers): one row per method with pack count,
    * straddle count and net token waste, so the concat-vs-greedy
    * trade (perfect fill + straddled docs vs whole docs + padding
    * waste) is a number, not folklore. fill_ratio is the family's one
    * double division. */
  def c05PackEval(spark: SparkSession, dir: String): DataFrame = {
    val concat = c01PackConcat(spark, dir)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_tokens") + 1L).as("cost"),
        sum(when(col("straddles"), 1L).otherwise(0L)).as("strad"))
      .select(col("docs"), col("strad"),
        expr(s"(cost + ${T - 1}) div $T").as("packs"),
        col("cost"))
      .agg(
        sum(col("packs")).as("n_packs"), sum(col("docs")).as("n_docs"),
        sum(col("strad")).as("n_straddled"),
        (sum(col("packs")) * T - sum(col("cost"))).as("waste_tokens"),
        (sum(col("cost")).cast("double") /
          (sum(col("packs")) * T).cast("double")).as("fill_ratio"))
      .select(lit("concat").as("method"), col("*"))
    val greedy = greedyRows(spark, dir)
      .groupBy(col("bucket"), col("pack_seq"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens") + 1L).as("cost"))
      .agg(
        count(lit(1)).as("n_packs"), sum(col("docs")).as("n_docs"),
        lit(0L).as("n_straddled"),
        (count(lit(1)) * T - sum(col("cost"))).as("waste_tokens"),
        (sum(col("cost")).cast("double") /
          (count(lit(1)) * T).cast("double")).as("fill_ratio"))
      .select(lit("greedy").as("method"), col("*"))
    concat.unionByName(greedy).orderBy(col("method"))
  }

  /** c06 — deterministic holdout split: every document lands in
    * train/valid/test by a stable content-free hash of its IDENTITY
    * (md5Hash60 of the doc_id, salted) — the assignment a 100 TB corpus
    * needs: pure per-row map (zero shuffles), reproducible across runs
    * and machines, stable under corpus growth (adding docs never moves
    * an existing one), and independent of text so near-identical docs
    * don't correlate with the split (that leak is c07's job to CATCH).
    * 98/1/1 over 1000 hash buckets. */
  def c06SplitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        pmod(Shingles.md5Hash60(concat(lit("graft-split:"),
          col("doc_id").cast("string"))), lit(1000L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 980, "train")
          .when(col("bucket") < 990, "valid").otherwise("test"))
      .sortWithinPartitions(col("doc_id"))

  /** Leak detail: each holdout (valid/test) doc whose exact TEXT md5
    * also appears in train, with the smallest train doc it collides
    * with. One shuffle on md5(text) — d01's exact-dedup join shape:
    * group train-side hashes (map-side combined min doc_id per hash),
    * equi-join the holdout side; never all-pairs. The spec pins this
    * detail on a planted cross-boundary duplicate. */
  private[graft] def c07Detail(spark: SparkSession, dir: String): DataFrame = {
    val assigned = c06SplitAssign(spark, dir)
      .join(Tables(spark, dir).documents.select(col("doc_id"), col("text")),
        "doc_id")
      .select(col("doc_id"), col("split"), md5(col("text")).as("h"))
    val train = assigned.where(col("split") === "train")
      .groupBy(col("h")).agg(min(col("doc_id")).as("train_doc_id"))
    assigned.where(col("split") =!= "train")
      .join(train, "h")
      .select(col("doc_id").as("holdout_doc_id"), col("split"),
        col("train_doc_id"), col("h").as("text_md5"))
  }

  /** c07 — cross-split leak audit: exact-duplicate text shared between
    * a holdout doc and any train doc means the holdout is contaminated
    * (the eval-hygiene failure t10 checks against an external eval set,
    * here against the corpus' own split). Gated output is the per-split
    * AUDIT SUMMARY — holdout size, leaked count, leak ratio — so the
    * check reports "0 leaks" as a positive fact on a clean corpus (a
    * detail-only output is empty exactly when the corpus is healthy,
    * which a hash check can't distinguish from a broken join); the
    * replicated rehearsal corpora light it up (every doc exists
    * 10-100×, so most holdout docs leak). */
  def c07SplitLeak(spark: SparkSession, dir: String): DataFrame = {
    val leaked = c07Detail(spark, dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_leaked"))
    c06SplitAssign(spark, dir)
      .where(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(leaked, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        (coalesce(col("n_leaked"), lit(0L)).cast("double") /
          col("n_docs").cast("double")).as("leak_ratio"))
      .orderBy(col("split"))
  }

  /** c08 — deterministic epoch shuffle: the reproducible random order
    * every training run needs, in the form that actually ships at
    * 100 TB. A global ORDER BY random() is a full sort of the corpus
    * and non-reproducible; instead each doc gets a seeded content-free
    * hash key (md5Hash60, c06's identity-hash discipline), the key
    * assigns it to one of ceil(n/1024) SHARDS, and only the shard is
    * ordered (by key — i.e. pseudo-randomly). Training readers consume
    * shards independently; the concatenation of shards in any order is
    * the epoch permutation. ONE shuffle on shard, per-task state
    * bounded by ~1024 docs at any corpus size, fully reproducible
    * across runs/machines (no RNG anywhere), and re-seedable per epoch
    * by changing the salt. Emits (doc_id, shard, pos, skey). */
  def c08EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"))
    val s = bucketCount(docs.count())
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("skey"), col("doc_id"))
    docs
      .select(col("doc_id"),
        Shingles.md5Hash60(concat(lit("graft-shuffle:epoch1:"),
          col("doc_id").cast("string"))).as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(s)))
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("bigint").as("pos"), col("skey"))
      .sortWithinPartitions(col("doc_id"))
  }

  /** c09 — curriculum ordering: every document's EXACT global position
    * in the easy→hard order (score = token count ascending, doc_id
    * tiebreak) plus its 10-phase curriculum slot — without the
    * single-partition global window that ordering naively costs, and
    * (round 11) without ANY driver-side collect: the score-prefix
    * offsets compute DISTRIBUTED with the same two-level banding c11
    * uses, so no corpus — however adversarial its score domain — can
    * put more than one scalar on the driver.
    *
    * The decomposition: rank(d) = docs in strictly smaller SCORES
    * + docs in the same score but earlier CHUNKS (chunk = doc_id/1024)
    * + the within-(score, chunk) row_number. The score-prefix table is
    * VALUE-DOMAIN-bounded (one row per distinct token count), and its
    * prefix sum itself two-levels: score bands of 1024 get band totals
    * whose running sum is a broadcast TRIANGULAR join over the
    * 1024×-collapsed band table (c10's tick-credit idiom — ~4k rows
    * even at a 4M-score domain, so the |B|² nested loop is KBs; no
    * unpartitioned window anywhere), then each band's scores offset
    * within the band (per-band windows, ≤1024 rows). The chunk pass
    * runs per-score windows over ~n/1024
    * CHUNK rows, and the row pass runs per-(score, chunk) windows over
    * ≤1024 DOC rows: every window in the plan is partitioned and
    * bounded, or single-partition over a 1024×-collapsed population.
    * (Each level divides its window population by 1024; a third level
    * would buy another three decades if ever needed.) */
  def c09Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"),
        tokCount(col("text")).cast("bigint").as("score"),
        expr(s"doc_id div $BucketDocs").as("chunk"))
    // distributed score-prefix offsets: histogram (one row per
    // distinct score) -> 1024-score bands -> band running sum as a
    // broadcast triangular join over |domain|/1024 band rows ->
    // within-band prefix (per-band windows, <=1024 rows each)
    val hist = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("sband", expr("score div 1024"))
    val bandTot = hist.groupBy(col("sband"))
      .agg(sum(col("cnt")).as("bcnt"))
    val bandOff = bandTot
      .join(broadcast(bandTot.select(col("sband").as("o_sband"),
        col("bcnt").as("o_bcnt"))), col("o_sband") < col("sband"), "left")
      .groupBy(col("sband"))
      .agg(coalesce(sum(col("o_bcnt")), lit(0L)).as("band_off"))
    val inBandW = Window.partitionBy(col("sband")).orderBy(col("score"))
    val offDf = hist.join(bandOff, Seq("sband"))
      .select(col("score"),
        (col("band_off") + sum(col("cnt")).over(inBandW) - col("cnt"))
          .as("score_off"))
    // the phase denominator: ONE scalar to the driver (the dup-density
    // probe discipline), never a histogram
    val n = scored.count()
    val chunkW = Window.partitionBy(col("score")).orderBy(col("chunk"))
    val chunkOff = scored.groupBy(col("score"), col("chunk"))
      .agg(count(lit(1)).as("ccnt"))
      .withColumn("chunk_off",
        sum(col("ccnt")).over(chunkW) - col("ccnt"))
      .select(col("score"), col("chunk"), col("chunk_off"))
    val rowW = Window.partitionBy(col("score"), col("chunk"))
      .orderBy(col("doc_id"))
    scored
      .join(chunkOff, Seq("score", "chunk"))
      .join(broadcast(offDf), Seq("score"))
      .select(col("doc_id"), col("score"),
        (col("score_off") + col("chunk_off") +
          row_number().over(rowW)).as("global_pos"))
      .withColumn("phase", expr(s"((global_pos - 1) * 10) div $n"))
      .sortWithinPartitions(col("doc_id"))
  }

  /** c10 — multi-source mixing SCHEDULE: the weighted round-robin
    * interleave of per-source block streams that a multi-corpus
    * training run consumes (source s with weight w contributes a block
    * every 1/w "ticks"). Naively this is ROW_NUMBER over all blocks
    * ordered by (k/w, source) — a global sort. The engine instead
    * computes every block's interleave position in CLOSED FORM:
    * pos(s, k) = k + Σ_{s'≠s} min(B_s', ceil(t·w_s'/6)) (+ lexicographic
    * tie credit), with t = k·(6/w) the integer tick — validated
    * against the naive window, which IS the oracle. Zero windows, zero
    * corpus shuffles: geometry and schedule are block-level tables
    * (n/1024 rows) built from a 20-row source dictionary, and the
    * corpus pass is one broadcast-joined map. Weights are a
    * deterministic 1..3 from the source name; blocks are c08-style
    * identity-hash shards, so membership is growth-stable. */
  def c10MixSchedule(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"))
    val geo = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .select(col("source"),
        greatest(lit(1L), ceil(col("n") / lit(BucketDocs.toDouble)))
          .cast("long").as("b"),
        // try_cast keeps the weight TOTAL: Spark's plain cast silently
        // NULLs a non-numeric suffix (nulling the whole schedule) while
        // DuckDB's throws — divergent failure modes. Both engines now
        // agree: unparseable suffix -> weight 1.
        expr("coalesce(try_cast(substring(source, 4) as bigint), 0)" +
          " % 3 + 1").as("w"))
    // two-level block-id generation: ONE sequence per source would
    // materialize all B_s ids in a single in-memory array (tens of
    // millions of elements at the 10^9-doc regime, over Spark's array
    // cap past that). Chunking bounds every materialized array to
    // max(B_s/4096, 4096) elements — the c03-style bounded explode.
    val C = 4096L
    val blocks = geo
      .select(col("source"), col("w"), col("b"),
        explode(sequence(lit(0L), expr(s"(b - 1) div $C"))).as("kc"))
      .select(col("source"), col("w"), col("b"), col("kc"),
        explode(sequence(lit(0L), lit(C - 1))).as("ki"))
      .select(col("source"), col("w"), col("b"),
        (col("kc") * C + col("ki")).as("k"))
      .where(col("k") < col("b"))
      .withColumn("t", col("k") * expr("6 div w"))
    val other = geo.select(col("source").as("o_source"),
      col("b").as("o_b"), col("w").as("o_w"))
    val lt = least(col("o_b"), expr("(t * o_w + 5) div 6"))
    val tie = when(col("o_source") < col("source") &&
      expr("(t * o_w) % 6 = 0 and (t * o_w) div 6 < o_b"), 1L)
      .otherwise(0L)
    val sched = blocks
      .join(broadcast(other), col("source") =!= col("o_source"), "left")
      .groupBy(col("source"), col("k"))
      .agg(coalesce(sum(lt + tie), lit(0L)).as("c"))
      .select(col("source"), col("k").as("blk"),
        (col("k") + col("c")).as("blk_pos"))
    // sched is n/1024 rows: auto-broadcast covers it to ~10^9-doc
    // corpora; past that AQE degrades this to a plain equi-join moving
    // only (source, blk, pos) ids — no forced hint, so neither regime
    // is mis-planned
    docs.join(broadcast(geo.select(col("source"), col("b"))), Seq("source"))
      .select(col("doc_id"), col("source"),
        pmod(Shingles.md5Hash60(concat(lit("graft-mix:"),
          col("doc_id").cast("string"))), col("b")).as("blk"))
      .join(sched, Seq("source", "blk"))
      .select(col("doc_id"), col("source"), col("blk"), col("blk_pos"))
      .sortWithinPartitions(col("doc_id"))
  }

  /** Per-batch token budget for c11 — real fine-tuning values are
    * 16k-1M; 4096 keeps the test corpora's batch populations
    * interesting (pad buckets 16-64, so 64-256 docs per batch). */
  private val BatchBudget = 4096L

  /** c11 — padding-minimizing length-bucketed batching (the
    * fine-tuning counterpart of c01/c02's pretraining packers): when
    * sequences are NOT concatenated, every doc in a batch pads to the
    * batch's longest member, so batches of similar-length docs waste
    * the least compute. Docs bucket by token-length OCTAVE (pad_len =
    * the next power of two ≥ cost, floor 16 — k29's
    * binary-string-length exponent trick, exact in both engines'
    * integers), pad to the octave ceiling, and fill fixed-budget
    * batches of capacity `budget div pad_len` in doc_id order. With
    * every member costing exactly pad_len, assignment is CLOSED FORM —
    * (rank-1) div capacity — so the only hard part is the per-octave
    * rank, which reuses c09's bounded two-level decomposition: chunk
    * offsets from a window over n/1024 CHUNK-count rows, a row_number
    * over ≤1024-doc (octave, chunk) groups — no window ever sees a
    * corpus-sized partition even though an octave can hold half the
    * corpus. Emits each doc's batch and its padding waste (the metric
    * a batching strategy is judged by). */
  /** Shared c11/st28 input: each doc's token cost, its pad-length
    * octave, and the octave's fixed batch capacity — one definition,
    * so the batch packer and its streaming twin cannot drift. */
  private[graft] def c11Input(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        greatest(tokCount(col("text")).cast("bigint"), lit(1L)).as("cost"))
      .withColumn("pad_len",
        expr("CASE WHEN cost <= 16 THEN CAST(16 AS BIGINT) " +
          "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(cost - 1))) END"))
      .withColumn("capacity",
        expr(s"greatest(CAST(1 AS BIGINT), $BatchBudget div pad_len)"))

  /** st28's oracle is literally c11's — the streaming twin's emitted
    * assignment set is pinned identical to the batch packer's. */
  private[graft] def c11OracleSql: String = c11Sql

  def c11LengthBatches(spark: SparkSession, dir: String): DataFrame = {
    val scored = c11Input(spark, dir)
      .withColumn("chunk", expr(s"doc_id div $BucketDocs"))
    val chunkW = Window.partitionBy(col("pad_len")).orderBy(col("chunk"))
    val chunkOff = scored.groupBy(col("pad_len"), col("chunk"))
      .agg(count(lit(1)).as("ccnt"))
      .withColumn("chunk_off",
        sum(col("ccnt")).over(chunkW) - col("ccnt"))
      .select(col("pad_len"), col("chunk"), col("chunk_off"))
    val rowW = Window.partitionBy(col("pad_len"), col("chunk"))
      .orderBy(col("doc_id"))
    scored
      .join(chunkOff, Seq("pad_len", "chunk"))
      .withColumn("rnk", col("chunk_off") + row_number().over(rowW))
      .select(col("doc_id"), col("pad_len"),
        col("cost").as("n_tokens"),
        expr("(rnk - 1) div capacity").as("batch_seq"),
        (col("pad_len") - col("cost")).as("waste"))
      .sortWithinPartitions(col("doc_id"))
  }

  // ---------------------------------------------------------------- oracle

  private def packInputSql: String =
    s"""SELECT doc_id, doc_id % $bucketCountSql AS bucket,
       |  1 + $tokCountSql AS cost
       |FROM documents""".stripMargin

  private val c01Sql: String =
    s"""WITH d AS ($packInputSql),
       |c AS (
       |  SELECT doc_id, bucket, cost,
       |    CAST(SUM(cost) OVER (PARTITION BY bucket ORDER BY doc_id)
       |      AS BIGINT) AS cum
       |  FROM d)
       |SELECT doc_id, bucket,
       |  (cum - cost) // $T AS pack_id,
       |  (cum - cost) % $T AS pack_offset,
       |  cost - 1 AS n_tokens,
       |  ((cum - 1) // $T) > ((cum - cost) // $T) AS straddles
       |FROM c ORDER BY doc_id""".stripMargin

  /** The greedy fold as a recursive CTE: row n+1's (pack_seq, rem)
    * derive from row n's per bucket — the identical first-fit rule. */
  private val greedySqlCore: String =
    s"""d AS ($packInputSql),
       |n AS (
       |  SELECT bucket, doc_id, cost,
       |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
       |  FROM d),
       |rec AS (
       |  SELECT bucket, doc_id, cost, rn,
       |    CAST(0 AS BIGINT) AS pack_seq, $T - cost AS rem
       |  FROM n WHERE rn = 1
       |  UNION ALL
       |  SELECT n.bucket, n.doc_id, n.cost, n.rn,
       |    CASE WHEN n.cost <= r.rem THEN r.pack_seq
       |         ELSE r.pack_seq + 1 END,
       |    CASE WHEN n.cost <= r.rem THEN r.rem - n.cost
       |         ELSE $T - n.cost END
       |  FROM rec r JOIN n ON n.bucket = r.bucket AND n.rn = r.rn + 1)""".stripMargin

  private val c02Sql: String =
    s"""WITH RECURSIVE
       |$greedySqlCore
       |SELECT doc_id, bucket, pack_seq, cost - 1 AS n_tokens
       |FROM rec ORDER BY doc_id""".stripMargin

  private val c03Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len FROM documents
      |  WHERE length(text) > 0),
      |kk AS (
      |  SELECT doc_id, text,
      |    (GREATEST(len - 120, 0) + 79) // 80 AS n_strides
      |  FROM d)
      |SELECT doc_id,
      |  CAST(i AS BIGINT) AS chunk_idx,
      |  CAST(i * 80 AS BIGINT) AS chunk_start,
      |  CAST(length(substr(text, i * 80 + 1, 120)) AS BIGINT) AS chunk_len,
      |  md5(substr(text, i * 80 + 1, 120)) AS chunk_md5
      |FROM kk, unnest(range(0, n_strides + 1)) AS t(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** The oracle states the SEMANTICS (naive per-domain greedy window);
    * the engine runs the banded two-pass form — equality across the
    * band boundary is exactly what the hash check proves. */
  private val c04Sql: String =
    """WITH d AS (
      |  SELECT source, lang, doc_id,
      |    len(list_filter(string_split(lower(text), ' '),
      |      w -> length(w) > 0)) AS toks,
      |    len(list_distinct(list_filter(string_split(lower(text), ' '),
      |      w -> length(w) > 0))) AS uniq
      |  FROM documents),
      |sc AS (
      |  SELECT source, lang, doc_id, toks,
      |    (uniq * 1000000) // toks AS score
      |  FROM d WHERE toks > 0),
      |bud AS (
      |  SELECT source, lang, (SUM(toks) * 2) // 5 AS budget
      |  FROM sc GROUP BY 1, 2),
      |c AS (
      |  SELECT sc.*,
      |    CAST(SUM(toks) OVER (PARTITION BY source, lang
      |      ORDER BY score DESC, doc_id) AS BIGINT) AS cum
      |  FROM sc)
      |SELECT c.source, c.lang, c.doc_id, c.score,
      |  c.toks AS n_tokens, c.cum AS cum_tokens
      |FROM c JOIN bud USING (source, lang)
      |WHERE c.cum <= bud.budget
      |ORDER BY c.source, c.lang, c.doc_id""".stripMargin

  private val c05Sql: String =
    s"""WITH RECURSIVE
       |$greedySqlCore,
       |g AS (
       |  SELECT bucket, pack_seq, COUNT(*) AS docs, SUM(cost) AS cost
       |  FROM rec GROUP BY 1, 2),
       |greedy AS (
       |  SELECT 'greedy' AS method, COUNT(*) AS n_packs,
       |    CAST(SUM(docs) AS BIGINT) AS n_docs,
       |    CAST(0 AS BIGINT) AS n_straddled,
       |    COUNT(*) * $T - CAST(SUM(cost) AS BIGINT) AS waste_tokens,
       |    CAST(SUM(cost) AS DOUBLE) / CAST(COUNT(*) * $T AS DOUBLE)
       |      AS fill_ratio
       |  FROM g),
       |cc AS (
       |  SELECT doc_id, bucket, cost,
       |    SUM(cost) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
       |  FROM d),
       |cb AS (
       |  SELECT bucket, COUNT(*) AS docs, SUM(cost) AS cost,
       |    CAST(SUM(CASE WHEN ((cum - 1) // $T) > ((cum - cost) // $T)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS strad,
       |    (SUM(cost) + ${T - 1}) // $T AS packs
       |  FROM cc GROUP BY bucket),
       |concat_m AS (
       |  SELECT 'concat' AS method,
       |    CAST(SUM(packs) AS BIGINT) AS n_packs,
       |    CAST(SUM(docs) AS BIGINT) AS n_docs,
       |    CAST(SUM(strad) AS BIGINT) AS n_straddled,
       |    CAST(SUM(packs) * $T - SUM(cost) AS BIGINT) AS waste_tokens,
       |    CAST(SUM(cost) AS DOUBLE) / CAST(SUM(packs) * $T AS DOUBLE)
       |      AS fill_ratio
       |  FROM cb)
       |SELECT * FROM concat_m UNION ALL SELECT * FROM greedy
       |ORDER BY method""".stripMargin

  /** The split kernel spelled once for both c06/c07 oracles — DuckDB's
    * 0x-cast parses the same 15 md5 hex digits Spark's conv does (the
    * t04 technique). */
  private val splitSql: String =
    """SELECT doc_id,
      |  CAST(('0x' || substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)),
      |    1, 15)) AS BIGINT) % 1000 AS bucket
      |FROM documents""".stripMargin

  private val c06Sql: String =
    s"""WITH b AS ($splitSql)
       |SELECT doc_id, bucket,
       |  CASE WHEN bucket < 980 THEN 'train'
       |       WHEN bucket < 990 THEN 'valid' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  private val c07Sql: String =
    s"""WITH b AS ($splitSql),
       |a AS (
       |  SELECT d.doc_id,
       |    CASE WHEN b.bucket < 980 THEN 'train'
       |         WHEN b.bucket < 990 THEN 'valid' ELSE 'test' END AS split,
       |    md5(d.text) AS h
       |  FROM documents d JOIN b USING (doc_id)),
       |tr AS (SELECT DISTINCT h FROM a WHERE split = 'train'),
       |hold AS (SELECT split, doc_id, h FROM a WHERE split <> 'train'),
       |lk AS (
       |  SELECT split, COUNT(*) AS n_leaked
       |  FROM hold JOIN tr USING (h) GROUP BY split),
       |hd AS (SELECT split, COUNT(*) AS n_docs FROM hold GROUP BY split)
       |SELECT hd.split, hd.n_docs,
       |  COALESCE(lk.n_leaked, 0) AS n_leaked,
       |  CAST(COALESCE(lk.n_leaked, 0) AS DOUBLE) / CAST(hd.n_docs AS DOUBLE)
       |    AS leak_ratio
       |FROM hd LEFT JOIN lk USING (split)
       |ORDER BY split""".stripMargin

  /** c08's oracle re-derives key/shard/pos independently: the 0x-cast
    * md5 parse (c06's splitSql technique), shard geometry recomputed
    * from the exact corpus count, and a plain windowed row number —
    * the engine's shard-local form must equal the naive global one. */
  private val c08Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5('graft-shuffle:epoch1:'
       |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
       |  FROM documents),
       |g AS (SELECT $bucketCountSql AS s)
       |SELECT doc_id, skey % s AS shard,
       |  ROW_NUMBER() OVER (PARTITION BY skey % s
       |    ORDER BY skey, doc_id) AS pos,
       |  skey
       |FROM b, g ORDER BY doc_id""".stripMargin

  /** c09's oracle IS the naive global window the engine decomposes:
    * agreement across the score/chunk/row three-term split is exactly
    * what the hash check proves. */
  private val c09Sql: String =
    s"""WITH s AS (
       |  SELECT doc_id, CAST($tokCountSql AS BIGINT) AS score
       |  FROM documents),
       |nn AS (SELECT COUNT(*) AS n FROM s),
       |r AS (
       |  SELECT doc_id, score,
       |    ROW_NUMBER() OVER (ORDER BY score, doc_id) AS global_pos
       |  FROM s)
       |SELECT doc_id, score, global_pos,
       |  ((global_pos - 1) * 10) // n AS phase
       |FROM r, nn ORDER BY doc_id""".stripMargin

  /** c10's oracle IS the naive global interleave window the closed form
    * replaces — ROW_NUMBER over every block ordered by (tick, source). */
  private val c10Sql: String =
    s"""WITH src AS (SELECT source, COUNT(*) AS n FROM documents
       |            GROUP BY 1),
       |geo AS (
       |  SELECT source,
       |    GREATEST(1, CAST(CEIL(n / $BucketDocs.0) AS BIGINT)) AS b,
       |    COALESCE(TRY_CAST(substr(source, 4) AS BIGINT), 0) % 3 + 1 AS w
       |  FROM src),
       |blocks AS (
       |  SELECT source, CAST(k AS BIGINT) AS k,
       |    CAST(k AS BIGINT) * (6 // w) AS t
       |  FROM geo, LATERAL (SELECT unnest(range(0, b)) AS k)),
       |pos AS (
       |  SELECT source, k,
       |    ROW_NUMBER() OVER (ORDER BY t, source) - 1 AS blk_pos
       |  FROM blocks),
       |d AS (
       |  SELECT doc_id, dd.source,
       |    CAST(('0x' || substr(md5('graft-mix:'
       |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % b AS blk
       |  FROM documents dd JOIN geo ON geo.source = dd.source)
       |SELECT d.doc_id, d.source, d.blk, pos.blk_pos
       |FROM d JOIN pos ON pos.source = d.source AND pos.k = d.blk
       |ORDER BY doc_id""".stripMargin

  /** c11's oracle IS the naive per-octave window the engine
    * decomposes — ROW_NUMBER over each pad bucket; the octave ceiling
    * is the same binary-string-length arithmetic in both engines. */
  private val c11Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    GREATEST(1, CAST($tokCountSql AS BIGINT)) AS cost
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, cost,
       |    CASE WHEN cost <= 16 THEN CAST(16 AS BIGINT)
       |         ELSE CAST(1 AS BIGINT) << length(bin(cost - 1)) END
       |      AS pad_len
       |  FROM d),
       |r AS (
       |  SELECT doc_id, cost, pad_len,
       |    ROW_NUMBER() OVER (PARTITION BY pad_len ORDER BY doc_id)
       |      AS rnk
       |  FROM p)
       |SELECT doc_id, pad_len, cost AS n_tokens,
       |  (rnk - 1) // GREATEST(1, $BatchBudget // pad_len) AS batch_seq,
       |  pad_len - cost AS waste
       |FROM r ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "c11_length_batches" -> c11Sql,
    "c10_mix_schedule" -> c10Sql,
    "c01_pack_concat" -> c01Sql,
    "c02_pack_greedy" -> c02Sql,
    "c03_chunk_overlap" -> c03Sql,
    "c04_token_budget_mix" -> c04Sql,
    "c05_pack_eval" -> c05Sql,
    "c06_split_assign" -> c06Sql,
    "c07_split_leak" -> c07Sql,
    "c08_epoch_shuffle" -> c08Sql,
    "c09_curriculum" -> c09Sql
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c01_pack_concat" -> (c01PackConcat _),
    "c02_pack_greedy" -> (c02PackGreedy _),
    "c03_chunk_overlap" -> (c03ChunkOverlap _),
    "c04_token_budget_mix" -> (c04TokenBudgetMix _),
    "c05_pack_eval" -> (c05PackEval _),
    "c06_split_assign" -> (c06SplitAssign _),
    "c07_split_leak" -> (c07SplitLeak _),
    "c08_epoch_shuffle" -> (c08EpochShuffle _),
    "c09_curriculum" -> (c09Curriculum _),
    "c10_mix_schedule" -> (c10MixSchedule _),
    "c11_length_batches" -> (c11LengthBatches _)
  )
}
