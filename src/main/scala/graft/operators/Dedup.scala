package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.simhash64
import graft.sources.Tables

/** Deduplication operators d01–d05 (SURVEY.md §2): exact + the three
  * standard near-dup families (MinHash/LSH, SimHash, n-gram Jaccard) +
  * embedding-cosine near-dup.
  *
  * Scale design (SURVEY.md §6): d01 is a single hash-shuffle groupBy with
  * map-side partial aggregation. d02/d03 are the 100 TB paths — candidate
  * generation via band-bucket equi-joins keeps the pair count ~linear in
  * corpus size (no quadratic stage anywhere); the exact similarity check
  * runs only on bucket-collision survivors. d04/d05 are the small-N exact
  * baselines the LSH variants are validated against, bounded to a key
  * subset so the quadratic stays a constant.
  */
object Dedup {

  /** d01 — exact dedup: content-hash groupBy, keep lowest doc_id.
    * One shuffle on the 128-bit hash; partial agg combines map-side. */
  def d01DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("h"))

  /** d02 — MinHash+LSH near-dup. shingle→16 minhashes (one md5 digest
    * per shingle, scrambled-linear family — [[Lsh.minhashSignature]])
    * →4 bands of 4→bucket equi-join→exact Jaccard on survivors. The only
    * shuffle is the band-bucket join; candidate pairs stay ~linear
    * because only same-bucket docs ever meet. Full DuckDB oracle
    * (round 9): the whole pipeline — shingles, digests, family
    * arithmetic, banding, verify — replays in SQL; DedupSpec
    * additionally pins recall on planted near-dups.
    *
    * DUP-DENSITY GATE (round 6): the exact-dup pre-collapse is a 3–8×
    * win on high-dup corpora (sf1 10×-verbatim rehearsal) but pure
    * join overhead on a ~unique one; a one-aggregate probe chooses the
    * path. Outputs are bit-identical either way (DupGateSpec).
    *
    * The pair list is the AUDIT artifact, quadratic in dup-group size
    * by contract; the production 100 TB shape over the same banding is
    * d14's one keep-first (doc, canonical, is_dup) row per document.
    * DedupModeSpec derives d14's assignment from these pairs.
    */
  def d02DedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    DupDensity.pairs(docs.select(col("doc_id"), col("text")), "doc_id",
      DupDensity.textKey, DupDensity.textGate(docs),
      spreadKernel = true)(d02Kernel) // one md5 per shingle
  }

  /** Shared d02/d12 signature prep over (gid, text) rows: shingle
    * strings (whole-text fallback) → ONE md5 per shingle → four 28-bit
    * chunks → the 16-member portable family ([[Lsh.minhashSignature]]).
    * Emits (gid, sh, mh): `sh` is the 60-bit digest-front array, which
    * doubles as the exact-jaccard verify input. Each stage materializes
    * as a column so the digest runs once per shingle, not once per
    * family member. */
  private[graft] def portableSig(docs: DataFrame): DataFrame =
    docs
      .select(col("gid"), col("text"), split(col("text"), " ").as("ws"))
      .select(col("gid"),
        Shingles.stringsWithFallback(col("ws"), col("text"), 3).as("shs"))
      .select(col("gid"),
        transform(col("shs"), s => graft.functions.md5_family(s)).as("fam"))
      .select(col("gid") +:
        transform(col("fam"), a => element_at(a, 1)).as("sh") +:
        (0 until 4).map(k =>
          transform(col("fam"), a => element_at(a, k + 2))
            .as(s"x${k + 1}")): _*)
      .select(col("gid"), col("sh"),
        Lsh.minhashSignature(col("x1"), col("x2"), col("x3"), col("x4"))
          .as("mh"))

  /** Band-bucket candidates over (gid, band, bucket, …) rows: an
    * equi-join on (band, bucket) — hash-partitionable, so candidates
    * stay ~linear because only same-bucket rows ever meet — ordered by
    * `before` on gid. Sides are aliased `a` and `b`. */
  private[graft] def bandJoin(bands: DataFrame,
      before: (Column, Column) => Column): DataFrame =
    bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        before(col("a.gid"), col("b.gid")))

  /** The d02 pair kernel (see [[DupDensity.pairs]]): signature, banding,
    * candidate join and exact-jaccard verify over (gid, text) rows;
    * emits (ga, gb, jaccard) with jaccard ≥ 0.6. Candidate generation
    * shuffles ONLY (gid, band, bucket) — the shingle arrays (≈ the
    * corpus itself) never enter the band join; they're fetched per
    * SURVIVING candidate afterwards. At 100 TB that's the difference
    * between shuffling 100 TB twice and shuffling a few TB of keys. */
  private[graft] def d02Kernel(g: DataFrame,
      before: (Column, Column) => Column): DataFrame = {
    val sig = portableSig(g)
    val sh = sig.select(col("gid"), col("sh"))
    bandJoin(sig.select(col("gid"),
      posexplode(Lsh.minhashBuckets(col("mh"))).as(Seq("band", "bucket"))),
      before)
      .select(col("a.gid").as("ga"), col("b.gid").as("gb"))
      .dropDuplicates("ga", "gb")
      .join(sh.select(col("gid").as("ga"), col("sh").as("sha")), Seq("ga"))
      .join(sh.select(col("gid").as("gb"), col("sh").as("shb")), Seq("gb"))
      .select(col("ga"), col("gb"),
        (size(array_intersect(array_distinct(col("sha")), array_distinct(col("shb"))))
          .cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
  }

  /** d03 — SimHash near-dup: 60-bit per-token-majority signature (the
    * portable md5Hash60 token hash — round 9's oracle promotion; the
    * simhash64 expression's bits 60–63 stay zero on 60-bit inputs),
    * bucketed by 4×15-bit bands (pigeonhole: hamming ≤ 3 ⇒ at least one
    * band collides — no candidate is missed), verified with
    * bit_count(xor) ≤ 3. Full DuckDB oracle; DedupSpec additionally
    * pins the signature math + recall.
    */
  def d03DedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // DUP-DENSITY GATE — see d02. The probe keys on the SIGNATURE (the
    // duplication the band join actually sees); the collapse classes are
    // verbatim texts, which is where the signature work is saved: the
    // sf1 rehearsal (10× verbatim density) measured 34 s when every
    // duplicated doc re-hashed and re-verified against its bucket mates.
    DupDensity.pairs(docs.select(col("doc_id"), col("text")), "doc_id",
      DupDensity.textKey, DupDensity.probe(docs, d03Sig).collapse,
      spreadKernel = true)(d03Kernel)
  }

  private[graft] def d03Kernel = hammingKernel(d03Sig, simhashBands) _

  /** The d03 signature kernel: majority vote over portable 60-bit token
    * hashes (every occurrence votes, d13's simhash twin full-corpus). */
  private def d03Sig: Column =
    simhash64(transform(split(col("text"), " "),
      w => Shingles.md5Hash60(w)))

  /** Pigeonhole band split for the 60-bit SimHash — CORRECTNESS-pinned
    * (hamming ≤ 3 ⇒ one of the 4 bands collides), so unlike d06/s02 it
    * never scales with the corpus. */
  private val simhashBands = Lsh.pigeonhole(60, maxHamming = 3)

  /** The hamming ≤ 3 pair kernel d03 and m07 share: `sig` per (gid, …)
    * row, pigeonhole-banded (no candidate within the bound is missed),
    * verified with bit_count(xor) on the band-join survivors; emits
    * (ga, gb, hamming). */
  private[graft] def hammingKernel(sig: Column, bands: Lsh.BandGeometry)(
      g: DataFrame, before: (Column, Column) => Column): DataFrame = {
    val sigs = g.select(col("gid"), sig.as("sig"))
    bandJoin(sigs.select(col("gid"), col("sig"),
      posexplode(bands.bucketArray(col("sig"))).as(Seq("band", "bucket"))),
      before)
      .select(col("a.gid").as("ga"), col("b.gid").as("gb"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .dropDuplicates("ga", "gb")
      .filter(col("hamming") <= 3)
  }

  /** d04 — exact n-gram Jaccard over a bounded subset (doc_id < 200): the
    * quadratic ground-truth baseline d02 is validated against. Jaccard is a
    * ratio of integer set sizes → exact rationals, so the τ filter is
    * engine-safe (DuckDB oracle mirrors the shingling with list
    * comprehensions).
    */
  def d04NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(Shingles.strings(col("ws"), 3)).as("sh"))
    // broadcast the bounded side EXPLICITLY: the theta join has no equi
    // keys, and Spark's file-size-based estimate for the filtered scan
    // (no column stats) exceeds the auto-broadcast threshold once the
    // corpus shards into many files — the fallback is CartesianProduct,
    // whose task count is leftPartitions x rightPartitions (measured
    // 117k tasks / 342 s at the 1000x corpus for a 200-doc bound; 2.7 s
    // broadcast). The bound (<200 docs) makes the broadcast O(1).
    // SPREAD the stream side across the cluster first: the <200-doc
    // filter funnels the scan into one partition, so without this the
    // entire 19,900-pair intersect/union loop runs as ONE task while
    // every other core idles (guide §2.6 stragglers; measured 3.3 s →
    // 1.0 s at sf0.1). A 200-row round-robin shuffle is O(1) at any SF.
    docs.repartition(spark.sparkContext.defaultParallelism).as("a")
      .join(broadcast(docs.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("jaccard"))
      .filter(col("jaccard") >= 0.01)
      .orderBy(col("a"), col("b"))
  }

  /** d16 — asymmetric CONTAINMENT (|A∩B| / |A| over shingle sets): the
    * quote / boilerplate-wrapped-copy case symmetric Jaccard
    * structurally misses — a small doc fully quoted inside a large one
    * has |∩|/|A| ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so no resemblance
    * threshold finds it. Emits both directions per pair; flagged when
    * either side is ≥ 0.8 contained. Like d04 this is the BOUNDED
    * (doc_id < 200, broadcast) exact truth baseline: the scale paths
    * for the two containment regimes already exist — comparable-size
    * near-supersets collide in d02's resemblance bands, and verbatim
    * containment (the dominant real case) is exactly d10's
    * suffix-window substring dedup. Docs whose shingle set is empty
    * (< 3 words) are excluded on both sides, mirroring d04's
    * null-filter contract. */
  def d16Containment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(Shingles.strings(col("ws"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    // one-task pair loop otherwise — see d04's repartition note
    docs.repartition(spark.sparkContext.defaultParallelism).as("a")
      .join(broadcast(docs.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        size(array_intersect(col("a.sh"), col("b.sh"))).as("inter"),
        size(col("a.sh")).as("na"), size(col("b.sh")).as("nb"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / col("na")).as("a_in_b"),
        (col("inter").cast("double") / col("nb")).as("b_in_a"))
      .filter(greatest(col("a_in_b"), col("b_in_a")) >= 0.8)
      .orderBy(col("a"), col("b"))
  }

  /** d05 — embedding-cosine near-dup over all pairs (exact baseline; the
    * scale path is s02's LSH bucketing). Cosine accumulates in double via
    * the codegen'd CosineSimilarity kernel; τ=0.35 is calibrated to the
    * synthetic embedding distribution (max pair ≈ 0.51).
    *
    * Like d04, the quadratic is explicitly BOUNDED to a key subset
    * (vec_id < 2000 — a recall ground-truth sample, pushed to the scan);
    * the full-corpus path is s02's bucketed LSH. An unbounded all-pairs
    * here would be the one scale-killer in the suite.
    */
  def d05DedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .filter(col("vec_id") < 2000)
      .select(col("vec_id"), col("embedding"))
    // broadcast the bounded side — same CartesianProduct trap as d04:
    // a theta join over a many-file scan estimate goes n^2 in PARTITIONS.
    // Repartition the stream side too (d04's one-task pair-loop fix):
    // 2M cosine kernels otherwise serialize behind a single scan task.
    e.repartition(spark.sparkContext.defaultParallelism).as("a")
      .join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a"), col("b.vec_id").as("b"),
        graft.functions.cosine_similarity(col("a.embedding"), col("b.embedding"))
          .as("cos"))
      .filter(col("cos") >= 0.35)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
      .orderBy(col("a"), col("b"))
  }

  /** d06 — the FULL-corpus embedding near-dup path d05's bound points at:
    * sign-random-projection LSH (32-bit signature, 8 bands × 4 bits)
    * generates candidate pairs via an equi-join on (band, bucket) — ids
    * only, never vectors — then the survivors rejoin their embeddings for
    * exact-cosine verification at τ=0.45. Precision is 1 by construction
    * (every emitted pair is exactly verified); recall is the LSH
    * collision probability, which concentrates on genuinely-similar pairs
    * — the regime dedup cares about (the τ≈0.35 weak-similarity tail is
    * d05's bounded exact baseline's job, not LSH's). At 100 TB this is
    * one linear signature pass + hash-partitioned bucket joins; no
    * quadratic anywhere. Full DuckDB oracle (round 9): hyperplane ±1
    * literals and band geometry are re-derived by the oracle from the
    * same mix64/COUNT(*) the kernel uses — see [[d06OracleSql]];
    * LlmOpsSpec additionally pins containment in the exact pair set and
    * recall on it.
    */
  /** The one collapse key for embedding payloads (d06/d09). */
  private[graft] def ehOf: Column =
    md5(concat_ws(",", col("embedding")).cast("binary"))

  def d06DedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings.select(col("vec_id"), col("embedding"))
    // DUP-DENSITY GATE — see d02. Band geometry (Lsh.scaled) SCALES WITH
    // THE CORPUS so per-bucket occupancy stays ~bounded (~64): the sf10
    // rehearsal showed fixed 8-bit bands going n²/256-quadratic at 200k
    // vectors. Round 9: geometry sizes to the probe's EXACT row count,
    // not the HLL distinct estimate — exact n is what the DuckDB oracle
    // can recompute (COUNT(*)), and since n ≥ distinct the buckets are
    // never NARROWER than distinct-based sizing chose, so the quadratic
    // cliff cannot return (the trade is slightly lower borderline-τ
    // recall on dup-heavy corpora). Both paths take the same count, so
    // the chosen geometry — and therefore the output — stays
    // path-independent (DupGateSpec). Exact/near-exact dups (the 100 TB
    // bulk) collide at any geometry, and the d05 exact path stays the
    // τ-complete baseline.
    val den = DupDensity.probe(e, ehOf)
    DupDensity.pairs(e, "vec_id", ehOf, den.collapse)(
      d06Kernel(Lsh.scaled(den.rows)))
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
  }

  /** The d06 pair kernel over (gid, embedding) rows: sign-projection
    * signatures, corpus-scaled banding, a candidate join on ids only and
    * exact-cosine verify of the survivors; emits (ga, gb, cos) with
    * cos ≥ 0.45. */
  private[graft] def d06Kernel(g: Lsh.BandGeometry)(e: DataFrame,
      before: (Column, Column) => Column): DataFrame = {
    import graft.functions.lsh_sign_bits
    val emb = e.select(col("gid"), col("embedding"))
    bandJoin(e
      .select(col("gid"), lsh_sign_bits(col("embedding"), g.planes).as("sig"))
      .select(col("gid"), posexplode(g.bucketArray(col("sig")))
        .as(Seq("band", "bucket"))), before)
      .select(col("a.gid").as("ga"), col("b.gid").as("gb"))
      .dropDuplicates("ga", "gb")
      .join(emb.select(col("gid").as("ga"), col("embedding").as("ea")),
        Seq("ga"))
      .join(emb.select(col("gid").as("gb"), col("embedding").as("eb")),
        Seq("gb"))
      .select(col("ga"), col("gb"),
        graft.functions.cosine_similarity(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= 0.45)
  }

  /** d09 — SemDeDup (Abbas et al. 2023): semantic dedup at corpus scale
    * by clustering embeddings FIRST, then near-dup-ing only WITHIN each
    * cluster — the quadratic becomes K local quadratics of size ~N/K,
    * and at 100 TB you raise K with N so the per-cluster candidate count
    * stays bounded (the paper runs K≈100k on LAION). Reuses s03's
    * decimal-deterministic Lloyd quantizer (bit-stable centroids at any
    * parallelism ⇒ stable clusters ⇒ reproducible dedup decisions).
    * Within a cluster, a vector is dropped iff an earlier (lower-id)
    * member sits at cosine ≥ τ — the keep-first contract the spec
    * re-verifies exhaustively. The intra-cluster join is an equi-join on
    * cid (hash-partitionable); cross-cluster near-dups are the quantizer
    * miss rate, which is the SemDeDup trade by design. Full DuckDB
    * oracle (round 9): the trained quantizer replays via
    * [[Similarity.lloydCtesSql]] — decimal-deterministic Lloyd is
    * engine-portable — and the keep/drop rule re-derives on top;
    * LlmOpsSpec additionally brute-force re-checks every decision.
    */
  def d09SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    // DUP-DENSITY GATE — see d02. K SCALES WITH THE CORPUS (the
    // SemDeDup paper's own rule — K≈100k on LAION — which the old fixed
    // K=8 ignored): ~256 vectors per cluster keeps each local quadratic
    // bounded. Round 9: K derives from the probe's EXACT row count, not
    // the HLL distinct estimate — exact n is what the DuckDB oracle
    // recomputes (COUNT(*)), and the paper's rule scales K with dataset
    // size anyway. Both paths take the same count, so the clustering —
    // and the keep/drop output — stays path-independent (DupGateSpec).
    // Gate SFs (n ≤ 2048) keep K=8, results unchanged.
    val den = DupDensity.probe(e, ehOf)
    val k = math.max(8L, math.min(1024L, den.rows / 256L)).toInt
    if (den.collapse) d09Collapsed(spark, dir, k)
    else d09Direct(spark, dir, k)
  }

  /** Shared quantizer: s03's decimal-deterministic Lloyd centroids,
    * trained on the bounded deterministic sample, seeded from the first
    * k vectors — identical in both paths by construction. */
  private def d09Centroids(e: DataFrame, k: Int): DataFrame =
    Similarity.trainCentroids(Similarity.trainSample(e),
      e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb")),
      iters = 2)

  /** Direct per-vector path: assign every vector, drop rule evaluated
    * pairwise within each cluster — K local quadratics of ~N/K. */
  private[graft] def d09Direct(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val cents = d09Centroids(e, k)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    val assigned = e.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        graft.functions.cosine_similarity(col("embedding"), col("cemb"))
          .as("ccos"),
        col("cid"))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") === 1)
      .select(col("cid"), col("vec_id"), col("embedding"))
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(graft.functions
        .cosine_similarity(col("a.embedding"), col("b.embedding")) >= 0.45)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("hit").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** EXACT-DUP PRE-COLLAPSE path: verbatim vector copies always share a
    * cluster and (for well-formed vectors) are mutual τ-neighbors with
    * cos = cos(rep, rep), so the drop rule "∃ earlier same-cluster
    * member at cos ≥ τ" reduces to group-min arithmetic. Clustering and
    * the intra-cluster quadratic run on DISTINCT embeddings only (the
    * sf10 rehearsal measured the raw form at 279 s) — same keep/drop
    * decision bit for bit. The rep's SELF-cosine gates the within-group
    * implication (a degenerate all-zero embedding fails its own τ test
    * exactly as the direct path's pairwise filter does), so:
    * kept ⟺ no earlier neighbor-group member (mn null or > vec_id)
    *        AND (not a self-dup group, or this is the group head). */
  private[graft] def d09Collapsed(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val members = e.select(col("vec_id"), ehOf.as("eh"))
      .localCheckpoint(true)
    val groupMin = members.groupBy(col("eh"))
      .agg(min(col("vec_id")).as("gmin"))
    val reps = e.select(ehOf.as("eh"), col("embedding"))
      .dropDuplicates("eh")
    val cents = d09Centroids(e, k)
    val w = Window.partitionBy(col("eh"))
      .orderBy(col("ccos").desc, col("cid"))
    val assigned = reps.join(broadcast(cents))
      .select(col("eh"), col("embedding"),
        graft.functions.cosine_similarity(col("embedding"), col("cemb"))
          .as("ccos"),
        col("cid"))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") === 1)
      .select(col("cid"), col("eh"), col("embedding"))
      .join(groupMin, Seq("eh"))
    // earliest member id over a group's τ-neighbor groups in-cluster
    val minNeighbor = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.eh") =!= col("b.eh"))
      .filter(graft.functions
        .cosine_similarity(col("a.embedding"), col("b.embedding")) >= 0.45)
      .groupBy(col("b.eh").as("eh"))
      .agg(min(col("a.gmin")).as("mn"))
    // does the group's rep pass its own τ test? (one row per rep; the
    // SAME comparison operator as the pairwise filter, so NaN behaves
    // identically on both paths)
    val selfDup = assigned.select(col("eh"),
      (graft.functions.cosine_similarity(col("embedding"), col("embedding"))
        >= 0.45).as("selfdup"))
    members
      .join(assigned.select(col("eh"), col("cid"), col("gmin")), Seq("eh"))
      .join(minNeighbor, Seq("eh"), "left")
      .join(selfDup, Seq("eh"))
      .select(col("vec_id"), col("cid"),
        ((col("mn").isNull || col("mn") > col("vec_id")) &&
          (!coalesce(col("selfdup"), lit(false)) ||
            col("vec_id") === col("gmin"))).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** d08 — near-dup CLUSTERS from the pair graph (the step every dedup
    * pipeline needs after candidate pairs: pairs → connected components →
    * keep one representative per component; pairwise keep-the-lower-id
    * alone mishandles chains A~B~C where A,C aren't directly similar).
    * Min-label
    * propagation: each node repeatedly adopts the smallest id reachable
    * through one more hop, converging in O(graph diameter) rounds — the
    * Pregel/GraphX connected-components algorithm expressed as a driver
    * loop of join+agg steps, each one distributed and linear in edges.
    * localCheckpoint after every round cuts the growing lineage (the
    * classic iterative-Spark failure mode). The edge set is d04's exact
    * Jaccard pairs, so the DuckDB oracle can rebuild the same graph and
    * close it with a recursive CTE.
    */
  def d08DedupClusters(spark: SparkSession, dir: String): DataFrame =
    // runs at the session's shuffle width: d04 is lazy, so a narrower
    // width here would narrow its corpus-scale shuffles too; AQE
    // coalescing already shrinks the loop's graph-sized shuffles
    clusterLoop(d04NgramJaccard(spark, dir).select(col("a"), col("b")))

  private def clusterLoop(edges: DataFrame): DataFrame = {
    val sym = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true) // the loop re-reads this every round
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("root", col("node")).localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val prop = sym.join(labels, col("b") === col("node"))
        .groupBy(col("a")).agg(min(col("root")).as("nroot"))
      // the convergence flag rides the propagation row itself — the old
      // per-round labels⋈next re-join (a second shuffle + full recompute
      // of the round) collapses into a count over the checkpointed
      // blocks: one distributed round per iteration, plus a
      // memory-local count
      val next = labels.join(prop, col("node") === col("a"), "left")
        .select(col("node"),
          least(col("root"), coalesce(col("nroot"), col("root"))).as("root"),
          (coalesce(col("nroot"), col("root")) < col("root")).as("chg"))
        .localCheckpoint(true)
      changed = next.filter(col("chg")).count()
      labels = next.drop("chg")
      rounds += 1
    }
    labels
      .select(col("node").as("doc_id"), col("root").as("cluster"))
      .orderBy(col("doc_id"))
  }

  /** d07 — URL canonicalization dedup (the crawl-frontier dedup every
    * web-scale corpus runs before fetching or keeping a page twice):
    * scheme/host case-folding, default-port stripping (:80/:443), www.
    * prefix removal, utm_* tracking-param removal, trailing-slash
    * normalization — then exact dedup on the canonical form. URLs are
    * synthesized deterministically from (doc_id, source) with planted
    * variant noise (mirrored in the oracle), so every rule has a
    * measurable target. At 100 TB this is a narrow projection feeding ONE
    * map-side-combined groupBy on the canonical string — d01's shape with
    * a normalization front end; no joins, no quadratic anywhere.
    */
  def d07UrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("https"))
        .otherwise(lit("HTTP")),
      lit("://"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW."))
        .otherwise(lit("www.")),
      col("source"), lit(".example.com"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit(":443"))
        .otherwise(lit(":80")),
      lit("/articles/"), pmod(col("doc_id"), lit(400)).cast("string"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("?utm_source=feed"))
        .otherwise(lit("")))
    val canonical =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        lower(url),
        "\\?utm_[a-z_]+=[a-z0-9]*", ""),
        ":(443|80)/", "/"),
        "://www\\.", "://"),
        "/$", "")
    Tables(spark, dir).documents
      .select(col("doc_id"), canonical.as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_variants"))
      .orderBy(col("canonical_url"))
  }

  /** d10 — exact duplicated-SUBSTRING spans (Lee et al. 2021, ExactSubstr:
    * "Deduplicating Training Data Makes Language Models Better"): find the
    * maximal duplicated runs inside each document, not just whole-doc
    * near-dups. Every word position anchors a W-word window hash, so
    * detection is ALIGNMENT-FREE (the same passage at any offset in
    * another doc produces identical window hashes — no stride/phase
    * problem); windows sharing a hash anywhere in the corpus mark their
    * [pos, pos+W) span duplicated, and overlapping spans merge per doc
    * via one gaps-and-islands window pass into maximal runs.
    *
    * Scale: the window-hash explode is ~words-per-doc rows of
    * (doc_id, pos, 128-bit fp) — linear in corpus tokens, map-side
    * combined on fp; the reference-scale alternative (a distributed
    * suffix array) does not beat a hash equi-join until span lengths are
    * adversarial. The spans window shuffles only duplicated positions.
    * W=15 words ≈ the paper's 50-BPE-token threshold.
    */
  def d10SubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    // DUP-DENSITY GATE — see d02: the distinct-text collapse cut the
    // sf1 10×-verbatim run 35 → 10.4 s but costs an expansion join a
    // ~unique corpus shouldn't pay. A doc's span map depends only on its
    // TEXT and the corpus-wide duplicated-window set, so the window
    // explode, dup marking and islands pass run once per class; the
    // occurrence counts stay exact through the class sizes m (a window
    // in a unique text that exists as 2 verbatim copies IS duplicated).
    // Also proven by the full d10 SQL oracle on both gate SFs.
    val docs = Tables(spark, dir).documents
    DupDensity.perClass(docs, DupDensity.textGate(docs),
      spreadKernel = true)(d10Body) // one md5 per word window
  }

  private val d10W = 15

  private[graft] def d10Body(df: DataFrame): DataFrame = {
    val W = d10W
    val docs = df
      .select(col("gid"), col("m"), TextAnalysis.words(col("text")).as("ws"))
      .select(col("gid"), col("m"), col("ws"), size(col("ws")).as("n_words"))
      .filter(col("n_words") >= W)
    val pos = docs.select(col("gid"), col("m"), col("n_words"),
      explode(transform(sequence(lit(1), col("n_words") - (W - 1)),
        i => struct(i.as("p"),
          md5(concat_ws(" ", slice(col("ws"), i, lit(W)))).as("fp")))).as("w"))
      .select(col("gid"), col("m"), col("n_words"), col("w.p").as("p"),
        col("w.fp").as("fp"))
    val dupFp = pos.groupBy(col("fp")).agg(sum(col("m")).as("c"))
      .filter(col("c") > 1).select(col("fp"))
    val spans = pos.join(dupFp, "fp")
      .select(col("gid"), col("n_words"), col("p")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gid")).orderBy(col("p"))
    // equal-width spans sorted by start: a new island begins where the
    // gap to the previous start is >= W (previous span's end)
    val seg = spans
      .withColumn("newseg",
        when(lag(col("p"), 1).over(w).isNull ||
          col("p") >= lag(col("p"), 1).over(w) + W, 1).otherwise(0))
      .withColumn("sid", sum(col("newseg")).over(w))
    seg.groupBy(col("gid"), col("n_words"), col("sid"))
      .agg((max(col("p")) + W - min(col("p"))).as("run_len"))
      .groupBy(col("gid"), col("n_words"))
      .agg(sum(col("run_len")).as("dup_words"),
        count(lit(1)).as("n_runs"))
      .select(col("gid"), col("n_words"), col("dup_words"), col("n_runs"),
        round(col("dup_words").cast("double") /
          col("n_words").cast("double"), 6).as("dup_frac"))
  }

  /** d11 — INCREMENTAL dedup of a new crawl batch against the historical
    * corpus, Bloom-guarded: a membership filter built from history's
    * content hashes (one distributed aggregate; `DataFrameStatFunctions
    * .bloomFilter`) is broadcast and probes every new row BEFORE any
    * join — rows the bloom rejects are definitively fresh and never
    * shuffle; only bloom hits (true dups + ~1% false positives) meet
    * history in the exact semi-join. At 100 TB history dwarfs each batch,
    * so this turns per-batch dedup cost from |history|-shaped into
    * |batch-dups|-shaped (per-partition blooms shard the bits when one
    * filter outgrows the driver). Re-crawled copies are SIMULATED (the
    * corpus has no cross-split exact dups): every 10th historical doc
    * reappears under doc_id+1000000. The probe is a typed filter — a
    * Bloom probe is imperative by nature (Spark's own might_contain is
    * not a public function); everything around it stays declarative.
    * In-query asserts pin the pruning (candidates ≪ batch) and the
    * no-false-negative contract.
    */
  def d11BloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // simulated re-crawl ids offset by max+1 (the make_sf1.py stride
    // pattern) — a fixed literal would alias real doc_ids once the
    // corpus passes it (round-9 advice; ~5M docs at the sf100 rehearsal)
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val hist = docs.filter(col("doc_id") < 350)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val newb = docs.filter(col("doc_id") >= 350)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") < 350 && pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + stride).as("doc_id"), col("text")))
      .select(col("doc_id"), md5(col("text")).as("h"))
    val fpp = 0.01
    val bloom = hist.stat.bloomFilter("h", 1000000L, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val cand = newb.filter((r: org.apache.spark.sql.Row) =>
      bc.value.mightContainString(r.getString(1)))
    val (nBatch, nCand) = (newb.count(), cand.count())
    val dupIds = cand.join(hist.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id").as("dup_id"))
      .localCheckpoint(true)
    // The enforceable contract is data-INdependent: candidates beyond
    // the true dups are bloom false positives, bounded by the CONFIGURED
    // fpp (3× + slack for variance) — a corpus with any dup ratio passes
    // as long as the bloom itself behaves. The pruning RATIO is workload
    // telemetry (depends on the batch's dup fraction), so it is logged,
    // not asserted.
    val nDups = dupIds.count()
    require(nCand - nDups <= math.max(16L, (3 * fpp * nBatch).toLong + 16L),
      s"bloom false-positive rate blew past configured fpp=$fpp: " +
        s"$nCand candidates for $nDups true dups in a $nBatch-row batch")
    System.err.println(f"[d11] bloom pruned $nBatch%d → $nCand%d " +
      f"(${100.0 * (nBatch - nCand) / math.max(1L, nBatch)}%.1f%% rejected " +
      f"pre-shuffle; $nDups%d true dups)")
    newb.join(dupIds, col("doc_id") === col("dup_id"), "left")
      .select(col("doc_id"), col("dup_id").isNotNull.as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, mh, band, bucket) banding rows — the d02 construction,
    * shared with d12's persisted index, per document or per distinct
    * text (`collapsed`, from the caller's dup gate). The emitted index
    * is row-for-row identical either way (and d12's in-query
    * self-oracle re-proves it every run). */
  private[graft] def bandRows(docs: DataFrame, collapsed: Boolean)
      : DataFrame =
    DupDensity.perClass(docs, collapsed, spreadKernel = true)(g =>
      portableSig(g).select(col("gid"), col("mh"),
        posexplode(Lsh.minhashBuckets(col("mh"))).as(Seq("band", "bucket"))))

  /** Minhash-estimated jaccard between two stored 16-hash signatures —
    * what an index lookup verifies with, since the index keeps sigs, not
    * the corpus text. */
  private def estJaccard(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), eq => eq))
      .cast("double") / 16.0

  /** d12 — the near-dup INDEX, persisted and reused across crawl
    * batches (d11's Bloom is the exact-dup analog): history's minhash
    * band rows are computed ONCE and saved; each incremental batch
    * minhashes only ITSELF, broadcasts its (band, bucket) rows against
    * the index scan — history is never re-hashed and never shuffles —
    * and verifies candidates with signature-estimated jaccard from the
    * STORED sigs (the corpus text never re-enters the query). The
    * in-query self-oracle recomputes the same pairs from scratch with
    * no index and requires exact agreement, so the amortized path
    * provably loses nothing. At 100 TB this turns per-batch near-dedup
    * from corpus-shaped (re-minhash everything) into batch-shaped.
    */
  def d12IncrementalLshIndex(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("d12_")
    val docs = Tables(spark, dir).documents
    val hist = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    // one-time index build (amortized across every future batch)
    val histGate = DupDensity.textGate(hist)
    bandRows(hist, histGate).write.mode("overwrite").parquet(s"$root/index")
    val index = spark.read.parquet(s"$root/index")
    // materialize once: the batch banding feeds BOTH pair paths, and each
    // path is executed three more times below (exceptAll in both
    // directions + the returned frame) — without a checkpoint the batch
    // re-minhashes 4x and history re-minhashes 3x (measured 3.9 s at
    // sf0.1, ~1.6 s checkpointed). Batch bands are batch-shaped (the
    // whole point of the index), so the checkpoint is bounded.
    val batchBands =
      bandRows(batch, DupDensity.textGate(batch)).localCheckpoint(true)
    def pairsOf(histBands: DataFrame, bb: DataFrame): DataFrame =
      histBands.as("h")
        .join(broadcast(bb.as("n")),
          col("h.band") === col("n.band") &&
            col("h.bucket") === col("n.bucket"))
        .select(col("h.doc_id").as("hist_id"), col("n.doc_id").as("new_id"),
          round(estJaccard(col("h.mh"), col("n.mh")), 6).as("ej"))
        // band-duplicate pairs carry identical sig estimates — a keyed
        // max is the deterministic dedup (and dodges a Catalyst
        // internal error that dropDuplicates+filter trips inside
        // exceptAll here)
        .groupBy(col("hist_id"), col("new_id"))
        .agg(max(col("ej")).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
    // viaIndex stays UN-checkpointed: it is the returned frame, and the
    // plan audit pins its broadcast-join shape (a checkpoint would hide
    // the join behind an ExistingRDD scan); the checkpointed batchBands
    // already de-duplicates the expensive banding work underneath it
    val viaIndex = pairsOf(index, batchBands)
    // self-oracle: the from-scratch path (re-minhash history, no index)
    // must produce the identical pair set. The scratch pair set is
    // candidate-scale — checkpoint it so the two exceptAll probes don't
    // re-run the from-scratch banding twice
    val scratch =
      pairsOf(bandRows(hist, histGate), batchBands).localCheckpoint(true)
    require(viaIndex.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(viaIndex).isEmpty,
      "index path diverged from the from-scratch path")
    viaIndex.orderBy(col("hist_id"), col("new_id"))
  }

  /** d13 — near-dup method EVALUATION as an operator ("measure, don't
    * guess" made first-class): precision/recall of the two scalable
    * candidate-generation families — minhash-LSH (d02's shape: 4 bands
    * × 4 rows, exact-jaccard verify at τ=0.6) and SimHash hamming ≤ 3
    * (d03's shape: pigeonhole bands) — against the exact jaccard ≥ 0.6
    * ground truth on d04's bounded audit subset. At scale this runs on
    * exactly such a bounded sample — the audit job a pipeline schedules
    * after retuning bands/thresholds, not a full-corpus pass.
    *
    * The evaluated methods run on an ENGINE-PORTABLE md5-derived hash
    * family (Shingles.md5Hash60 — t04's kernel) instead of xxhash64,
    * which is what lets the whole eval be a full DuckDB oracle (round-6
    * promotion): truth, both candidate sets, and the metric arithmetic
    * are recomputed independently by the oracle and must match exactly.
    * Same method families, same band geometries, same verify thresholds
    * as the production d02/d03 paths — only the hash kernel is the
    * portable one. Driver touches only the per-method counts.
    */
  def d13DedupEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = d04NgramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.6)
      .select(col("a"), col("b"))
      .localCheckpoint(true)
    val nTruth = truth.count()
    val methods = Seq(
      "minhash_lsh_md5" -> d13MinhashMd5(spark, dir),
      "simhash_md5" -> d13SimhashMd5(spark, dir))
    val rows = methods.map { case (name, pairs) =>
      evalPairs(name, pairs, truth, nTruth)
    }
    truth.unpersist()
    rows.toDF("method", "n_truth", "n_found", "n_tp", "prec", "recall")
      .orderBy(col("method"))
  }

  /** Verified minhash-LSH with the portable hash family: 16 minhashes
    * (min over md5Hash60("i:" + shingle)), 4 bands of 4, band-bucket
    * candidates, exact-jaccard ≥ 0.6 verify — d02's pipeline shape. */
  private[graft] def d13MinhashMd5(spark: SparkSession, dir: String): DataFrame = {
    val nHashes = Lsh.MinhashBands * Lsh.MinhashRows
    val docs = Tables(spark, dir).documents
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(Shingles.strings(col("ws"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val mh = docs.select(col("doc_id") +: col("sh") +:
      (0 until nHashes).map(i =>
        array_min(transform(col("sh"),
          s => Shingles.md5Hash60(concat_ws(":", lit(i.toString), s))))
          .as(s"mh$i")): _*)
    val bands = mh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until Lsh.MinhashBands).map(b =>
        concat_ws(":", (0 until Lsh.MinhashRows).map(r =>
          col(s"mh${b * Lsh.MinhashRows + r}")): _*)): _*))
        .as(Seq("band", "bucket")))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        col("a.sh").as("sha"), col("b.sh").as("shb"))
      .dropDuplicates("a", "b")
      .filter((size(array_intersect(col("sha"), col("shb"))).cast("double") /
        size(array_union(col("sha"), col("shb")))) >= 0.6)
      .select(col("a"), col("b"))
  }

  /** SimHash hamming ≤ 3 with the portable hash family: 60-bit
    * signature over md5Hash60 token hashes, pigeonhole 4×15-bit bands
    * (hamming ≤ 3 ⇒ one band collides) — d03's pipeline shape. */
  private[graft] def d13SimhashMd5(spark: SparkSession, dir: String): DataFrame = {
    val g = Lsh.pigeonhole(60, maxHamming = 3)
    val docs = Tables(spark, dir).documents
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        simhash64(transform(split(col("text"), " "),
          w => Shingles.md5Hash60(w))).as("sig"))
    val bands = docs.select(col("doc_id"), col("sig"),
      posexplode(g.bucketArray(col("sig"))).as(Seq("band", "bucket")))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .dropDuplicates("a", "b")
      .filter(col("hamming") <= 3)
      .select(col("a"), col("b"))
  }

  /** One method's precision/recall against a truth pair set — exposed
    * for the spec, which pins the metric math on hand-built pair sets
    * (including the empty-found precision=1 convention). Ratios are
    * RAW double divisions of small integer counts — bit-identical in
    * any IEEE engine, so the DuckDB oracle needs no rounding fudge. */
  private[graft] def evalPairs(name: String, pairs: DataFrame,
      truth: DataFrame, nTruth: Long)
      : (String, Long, Long, Long, Double, Double) = {
    val found = pairs.localCheckpoint(true)
    val nFound = found.count()
    val tp = found.join(truth, Seq("a", "b"), "left_semi").count()
    found.unpersist()
    val precision = if (nFound == 0) 1.0 else tp.toDouble / nFound
    val recall = if (nTruth == 0) 1.0 else tp.toDouble / nTruth
    (name, nTruth, nFound, tp, precision, recall)
  }

  /** d14 — dedup APPLY (minhash keep-first canonical assignment): the
    * output shape a 100 TB dedup job actually ships. d02 emits the
    * near-dup PAIRS — an audit artifact whose row count grows
    * quadratically with dup-group size (on a crawl corpus where one
    * page exists 1000×, a 1000-member group is 499 500 pairs) — while
    * the production job assigns every document a CANONICAL id and emits
    * ONE row per document, linear in the corpus at any dup density.
    *
    * Keep-first contract (d09's rule, at the d02 minhash geometry):
    * doc d is a duplicate iff some near-dup partner — identical text,
    * or exact jaccard ≥ 0.6 among d02's band-collision candidates —
    * has a smaller doc_id; canonical(d) = min({d} ∪ partners(d)).
    * Non-transitive by design (a~b~c with a≁c keeps both a and c);
    * d08 is the transitive-closure variant when that's wanted.
    *
    * Because near-dup-ness depends only on the TEXT, partners(d) =
    * (d's identical-text group minus d) ∪ (every member of each
    * neighboring distinct-text group), so canonical is a GROUP-level
    * value: min(group min, min over neighbor groups' mins). Everything
    * heavy — signatures, banding, candidate join, jaccard verify —
    * runs once per distinct text ([[d02Kernel]]); canonicals then
    * assign with two group-level aggregations and one per-doc
    * equi-join. No doc-level pair ever materializes: at sf100 the
    * replicated rehearsal corpus makes d02 emit ~2.5×10⁹ pairs while
    * d14 emits one row per document. */
  def d14DedupAssign(spark: SparkSession, dir: String): DataFrame = {
    val members = Tables(spark, dir).documents
      .select(col("doc_id"), md5(col("text")).as("th"))
      .localCheckpoint(true)
    val gstat = members.groupBy(col("th")).agg(min(col("doc_id")).as("gmin"))
    val rp = d02Kernel(Tables(spark, dir).documents
      .select(md5(col("text")).as("gid"), col("text")).dropDuplicates("gid"),
      _ < _).select(col("ga").as("ta"), col("gb").as("tb"))
    // min neighbor-group doc_id per group, folding both pair directions
    val nbr = rp
      .join(gstat.select(col("th").as("tb"), col("gmin").as("nm")), Seq("tb"))
      .select(col("ta").as("th"), col("nm"))
      .unionByName(rp
        .join(gstat.select(col("th").as("ta"), col("gmin").as("nm")), Seq("ta"))
        .select(col("tb").as("th"), col("nm")))
      .groupBy(col("th")).agg(min(col("nm")).as("nmin"))
    val canon = gstat.join(nbr, Seq("th"), "left")
      .select(col("th"),
        least(col("gmin"), coalesce(col("nmin"), col("gmin"))).as("canon"))
    // left: a null-text doc has no md5 to match, and no shingle, band or
    // pair either, so it is its own canonical (the oracle's LEFT JOIN)
    val canonical = coalesce(col("canon"), col("doc_id"))
    members.join(canon, Seq("th"), "left")
      .select(col("doc_id"), canonical.as("canonical_id"),
        (canonical < col("doc_id")).as("is_dup"))
      .sortWithinPartitions(col("doc_id"))
  }

  /** d15 — embedding dedup APPLY: d14's keep-first canonical assignment
    * at d06's sign-projection/cosine geometry (τ = 0.45, corpus-scaled
    * bands). Same linear-output contract — one row per vector — with
    * one extra guard: a degenerate all-zero embedding has self-cosine
    * 0.0 under the kernel's zero-norm guard, so verbatim zero-vector
    * copies are NOT near-dups of each other (exactly as d06 drops their
    * within-group pairs) and every zero vector is its own canonical.
    * Cross-group links to a zero vector can't exist either (cos(0,·)=0
    * fails τ), so the group-level formula applies only where the rep's
    * self-cosine passes τ. */
  def d15EmbeddingAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings.select(col("vec_id"), col("embedding"))
    // same exact-row-count geometry contract as d06 (COUNT(*)-replayable
    // in the oracle; n ≥ distinct ⇒ never narrower buckets)
    val g = Lsh.scaled(e.count())
    val members = e.select(col("vec_id"), ehOf.as("eh"))
      .localCheckpoint(true)
    val gstat = members.groupBy(col("eh")).agg(min(col("vec_id")).as("gmin"))
    val reps = e.select(ehOf.as("gid"), col("embedding")).dropDuplicates("gid")
    val selfOk = reps.select(col("gid").as("eh"),
      (graft.functions.cosine_similarity(col("embedding"), col("embedding"))
        >= 0.45).as("ok"))
    val rp = d06Kernel(g)(reps, _ < _)
      .select(col("ga").as("ha"), col("gb").as("hb"))
    val nbr = rp
      .join(gstat.select(col("eh").as("hb"), col("gmin").as("nm")), Seq("hb"))
      .select(col("ha").as("eh"), col("nm"))
      .unionByName(rp
        .join(gstat.select(col("eh").as("ha"), col("gmin").as("nm")), Seq("ha"))
        .select(col("hb").as("eh"), col("nm")))
      .groupBy(col("eh")).agg(min(col("nm")).as("nmin"))
    val canon = gstat.join(nbr, Seq("eh"), "left").join(selfOk, Seq("eh"))
      .select(col("eh"), col("ok"),
        least(col("gmin"), coalesce(col("nmin"), col("gmin"))).as("gc"))
    members.join(canon, Seq("eh"))
      .select(col("vec_id"),
        when(col("ok"), col("gc")).otherwise(col("vec_id"))
          .as("canonical_id"))
      .select(col("vec_id"), col("canonical_id"),
        (col("canonical_id") < col("vec_id")).as("is_dup"))
      .sortWithinPartitions(col("vec_id"))
  }

  /** Shared oracle CTE chain re-deriving [[portableSig]] in SQL over a
    * `sigsrc(id, text)` CTE the caller prepends: shingles (whole-text
    * fallback), one md5 per shingle, 28-bit chunk split, the 16-member
    * scrambled-linear family (constants emitted by
    * [[Lsh.minhashSigSqlList]] from the kernel's own derivation), and
    * ":"-joined band buckets. MATERIALIZED on mh — the verify joins
    * reference it three times. */
  private def sigCtes: String =
    s"""srcw AS (SELECT id, text, string_split(text, ' ') AS ws
       |         FROM sigsrc),
       |shs AS (
       |  SELECT id,
       |    CASE WHEN len(ws) >= 3
       |         THEN [array_to_string(ws[i:i+2], ' ')
       |               for i in range(1, len(ws)-1)]
       |         ELSE [text] END AS s
       |  FROM srcw),
       |hh AS (SELECT id, list_transform(s, x -> md5(x)) AS hex FROM shs),
       |hsplit AS (
       |  SELECT id,
       |    list_transform(hex,
       |      x -> CAST('0x' || substr(x, 1, 15) AS BIGINT)) AS h1,
       |    list_transform(hex,
       |      x -> CAST('0x' || substr(x, 1, 7) AS BIGINT)) AS x1,
       |    list_transform(hex,
       |      x -> CAST('0x' || substr(x, 8, 7) AS BIGINT)) AS x2,
       |    list_transform(hex,
       |      x -> CAST('0x' || substr(x, 15, 7) AS BIGINT)) AS x3,
       |    list_transform(hex,
       |      x -> CAST('0x' || substr(x, 22, 7) AS BIGINT)) AS x4
       |  FROM hh),
       |mh AS MATERIALIZED (
       |  SELECT id, h1,
       |    ${Lsh.minhashSigSqlList} AS m
       |  FROM hsplit),
       |bands AS (
       |  SELECT id, bi,
       |    CAST('0x' || substr(md5(
       |      CAST(m[4*bi+1] AS VARCHAR) || ':' ||
       |      CAST(m[4*bi+2] AS VARCHAR) || ':' ||
       |      CAST(m[4*bi+3] AS VARCHAR) || ':' ||
       |      CAST(m[4*bi+4] AS VARCHAR)), 1, 15) AS BIGINT) AS bucket
       |  FROM mh, LATERAL (SELECT unnest(range(0, 4)) AS bi))""".stripMargin

  /** d06's generated oracle: s02's hyperplane/geometry replay (shared
    * Lsh generators) over ALL pairs, with the exact-cosine verify
    * mirroring the CosineSimilarity kernel TERM FOR TERM (zero-norm
    * guard, dot / sqrt(na·nb) — one sqrt of the product, exactly the
    * kernel's op sequence). */
  private def d06OracleSql: String =
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS emb
       |             FROM embeddings),
       |${Lsh.scaledGeoCteSql("raw")},
       |sigs AS (SELECT vec_id, emb, [${Lsh.signAccTermsSql()}] AS accs
       |         FROM raw),
       |bnd AS (
       |  SELECT s.vec_id, t.b AS band,
       |    (SELECT SUM(CASE WHEN s.accs[t.b * g.bits + i.i + 1] > 0
       |                     THEN 1 << i.i ELSE 0 END)
       |     FROM range(16) i(i), geo g WHERE i.i < g.bits) AS bucket
       |  FROM sigs s, range(8) t(b), geo g WHERE t.b < g.bands),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS a, q.vec_id AS b
       |  FROM bnd p JOIN bnd q
       |    ON p.band = q.band AND p.bucket = q.bucket
       |   AND p.vec_id < q.vec_id),
       |scored AS (
       |  SELECT cand.a, cand.b,
       |    CASE WHEN list_inner_product(x.emb, x.emb) = 0
       |           OR list_inner_product(y.emb, y.emb) = 0 THEN 0.0
       |         ELSE list_inner_product(x.emb, y.emb)
       |           / sqrt(list_inner_product(x.emb, x.emb)
       |                  * list_inner_product(y.emb, y.emb))
       |    END AS cos
       |  FROM cand JOIN raw x ON x.vec_id = cand.a
       |            JOIN raw y ON y.vec_id = cand.b)
       |SELECT a, b, round(cos, 6) AS cos
       |FROM scored WHERE cos >= 0.45 ORDER BY a, b""".stripMargin

  /** d09's generated oracle — Lloyd replay (shared generator) + the
    * direct-path keep/drop semantics (paths are output-identical, so
    * one replay covers both). */
  private def d09OracleSql: String = {
    val centEmb = "list_transform(c.cemb, v -> CAST(v AS DOUBLE))"
    s"""WITH ${Similarity.lloydCtesSql(
           "greatest(8, least(1024, n // 256))", 2)},
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, emb, cid FROM (
       |    SELECT vec_id, emb, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ccos DESC, cid) AS crnk
       |    FROM (
       |      SELECT r.vec_id, r.emb, c.cid,
       |        ${Similarity.cosSql("r.emb", centEmb)} AS ccos
       |      FROM raw r CROSS JOIN cents2 c))
       |  WHERE crnk = 1),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${Similarity.cosSql("a.emb", "b.emb")} >= 0.45)
       |SELECT v.vec_id, v.cid, d.vec_id IS NULL AS kept
       |FROM assigned v LEFT JOIN dropped d ON v.vec_id = d.vec_id
       |ORDER BY v.vec_id""".stripMargin
  }

  private def d02OracleSql: String =
    "WITH sigsrc AS (SELECT doc_id AS id, text FROM documents),\n" +
      sigCtes +
      """,
        |cand AS (
        |  SELECT DISTINCT a.id AS a, b.id AS b
        |  FROM bands a JOIN bands b
        |    ON a.bi = b.bi AND a.bucket = b.bucket AND a.id < b.id)
        |SELECT c.a, c.b,
        |  CAST(len(list_intersect(list_distinct(x.h1), list_distinct(y.h1)))
        |      AS DOUBLE)
        |    / len(list_distinct(list_concat(x.h1, y.h1))) AS jaccard
        |FROM cand c JOIN mh x ON x.id = c.a JOIN mh y ON y.id = c.b
        |WHERE CAST(len(list_intersect(list_distinct(x.h1),
        |        list_distinct(y.h1))) AS DOUBLE)
        |    / len(list_distinct(list_concat(x.h1, y.h1))) >= 0.6
        |ORDER BY a, b""".stripMargin

  /** d14's generated oracle: d02's full pair derivation (signatures,
    * banding, candidates, exact-jaccard verify) at DOC level — identical
    * texts have identical signatures, so doc-level pairs are exactly the
    * rep-level pairs expanded, and keep-first reduces to one LEFT JOIN +
    * MIN over the symmetric pair relation. */
  private def d14OracleSql: String =
    "WITH sigsrc AS (SELECT doc_id AS id, text FROM documents),\n" +
      sigCtes +
      """,
        |cand AS (
        |  SELECT DISTINCT a.id AS a, b.id AS b
        |  FROM bands a JOIN bands b
        |    ON a.bi = b.bi AND a.bucket = b.bucket AND a.id < b.id),
        |pairs AS (
        |  SELECT c.a, c.b
        |  FROM cand c JOIN mh x ON x.id = c.a JOIN mh y ON y.id = c.b
        |  WHERE CAST(len(list_intersect(list_distinct(x.h1),
        |          list_distinct(y.h1))) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.h1, y.h1))) >= 0.6),
        |mp AS (
        |  SELECT x, MIN(y) AS mn FROM (
        |    SELECT a AS x, b AS y FROM pairs
        |    UNION ALL SELECT b AS x, a AS y FROM pairs)
        |  GROUP BY x)
        |SELECT d.doc_id,
        |  least(d.doc_id, COALESCE(mp.mn, d.doc_id)) AS canonical_id,
        |  least(d.doc_id, COALESCE(mp.mn, d.doc_id)) < d.doc_id AS is_dup
        |FROM documents d LEFT JOIN mp ON mp.x = d.doc_id
        |ORDER BY d.doc_id""".stripMargin

  /** d15's generated oracle: d06's full pair derivation (shared
    * hyperplane/geometry replay, kernel-mirrored cosine at τ = 0.45) at
    * VECTOR level + the same keep-first MIN fold as d14. The zero-norm
    * guard in the cosine CASE makes zero vectors pairless, so they fall
    * out as their own canonicals exactly as the engine's selfOk guard
    * decides. */
  private def d15OracleSql: String =
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS emb
       |             FROM embeddings),
       |${Lsh.scaledGeoCteSql("raw")},
       |sigs AS (SELECT vec_id, emb, [${Lsh.signAccTermsSql()}] AS accs
       |         FROM raw),
       |bnd AS (
       |  SELECT s.vec_id, t.b AS band,
       |    (SELECT SUM(CASE WHEN s.accs[t.b * g.bits + i.i + 1] > 0
       |                     THEN 1 << i.i ELSE 0 END)
       |     FROM range(16) i(i), geo g WHERE i.i < g.bits) AS bucket
       |  FROM sigs s, range(8) t(b), geo g WHERE t.b < g.bands),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS a, q.vec_id AS b
       |  FROM bnd p JOIN bnd q
       |    ON p.band = q.band AND p.bucket = q.bucket
       |   AND p.vec_id < q.vec_id),
       |pairs AS (
       |  SELECT cand.a, cand.b
       |  FROM cand JOIN raw x ON x.vec_id = cand.a
       |            JOIN raw y ON y.vec_id = cand.b
       |  WHERE CASE WHEN list_inner_product(x.emb, x.emb) = 0
       |               OR list_inner_product(y.emb, y.emb) = 0 THEN 0.0
       |             ELSE list_inner_product(x.emb, y.emb)
       |               / sqrt(list_inner_product(x.emb, x.emb)
       |                      * list_inner_product(y.emb, y.emb))
       |        END >= 0.45),
       |mp AS (
       |  SELECT x, MIN(y) AS mn FROM (
       |    SELECT a AS x, b AS y FROM pairs
       |    UNION ALL SELECT b AS x, a AS y FROM pairs)
       |  GROUP BY x)
       |SELECT r.vec_id,
       |  least(r.vec_id, COALESCE(mp.mn, r.vec_id)) AS canonical_id,
       |  least(r.vec_id, COALESCE(mp.mn, r.vec_id)) < r.vec_id AS is_dup
       |FROM raw r LEFT JOIN mp ON mp.x = r.vec_id
       |ORDER BY r.vec_id""".stripMargin

  private def d12OracleSql: String =
    "WITH sigsrc AS (SELECT doc_id AS id, text FROM documents),\n" +
      sigCtes +
      """,
        |cand AS (
        |  SELECT DISTINCT h.id AS hist_id, n.id AS new_id
        |  FROM bands h JOIN bands n
        |    ON h.bi = n.bi AND h.bucket = n.bucket
        |  WHERE h.id < 400 AND n.id >= 400)
        |SELECT c.hist_id, c.new_id,
        |  round(CAST(len([j for j in range(1, 17) if x.m[j] = y.m[j]])
        |      AS DOUBLE) / 16.0, 6) AS est_jaccard
        |FROM cand c JOIN mh x ON x.id = c.hist_id
        |            JOIN mh y ON y.id = c.new_id
        |WHERE CAST(len([j for j in range(1, 17) if x.m[j] = y.m[j]])
        |      AS DOUBLE) / 16.0 >= 0.5
        |ORDER BY hist_id, new_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // d09: SemDeDup fully re-derived — the Lloyd quantizer replay
    // (shared with s03), top-1-cell assignment, and the keep-first drop
    // rule as a self-join EXISTS with the kernel-mirrored cosine
    "d09_semdedup" -> d09OracleSql,
    // d02: the whole near-dup pipeline replayed — portable signatures,
    // banding, candidate join, exact-jaccard verify (ratios of integer
    // set sizes — engine-exact doubles)
    "d02_dedup_minhash" -> d02OracleSql,
    // d06: hyperplanes + scaled geometry re-derived (shared with s02),
    // kernel-mirrored cosine verify at τ=0.45
    "d06_dedup_embedding_lsh" -> d06OracleSql,
    // d12: same signature chain; candidates are hist(<400)×batch(≥400)
    // band collisions, verified by the 16-component signature estimate
    // (k/16 — exact doubles)
    "d12_incremental_lsh_index" -> d12OracleSql,
    // d14/d15: keep-first canonical assignment — the pair derivations
    // replay at doc/vector level (identical payloads ⇒ identical
    // signatures ⇒ rep-level pairs expand exactly), then one MIN fold
    // over the symmetric relation assigns canonicals
    "d14_dedup_assign" -> d14OracleSql,
    "d15_embedding_assign" -> d15OracleSql,
    // d17: d14 under its registered second name (d02's assignment
    // output), oracled by d14's SQL
    "d17_assign_mode" -> d14OracleSql,
    // d03: d13's simhash replay at full corpus — portable 60-bit token
    // hashes, per-bit majority, 4×15-bit pigeonhole bands, hamming ≤ 3
    "d03_dedup_simhash" ->
      """WITH tokh AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)),
        |bitsv AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM tokh, LATERAL (SELECT unnest(range(0, 60)) AS j)
        |  GROUP BY doc_id, j),
        |sig AS (
        |  SELECT d.doc_id, COALESCE(s2.sg, 0) AS sg
        |  FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN (
        |    SELECT doc_id,
        |      CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
        |        ELSE 0 END) AS BIGINT) AS sg
        |    FROM bitsv GROUP BY doc_id) s2 ON d.doc_id = s2.doc_id),
        |bands AS (
        |  SELECT doc_id, sg, bi, (sg >> (bi * 15)) & 32767 AS bucket
        |  FROM sig, LATERAL (SELECT unnest(range(0, 4)) AS bi))
        |SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
        |  bit_count(xor(a.sg, b.sg)) AS hamming
        |FROM bands a JOIN bands b
        |  ON a.bi = b.bi AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sg, b.sg)) <= 3
        |ORDER BY a, b""".stripMargin,
    // d13: the full method-eval twin — truth, BOTH candidate sets
    // (portable md5Hash60 hash family), and the metric arithmetic all
    // recomputed independently. prec/recall are raw double divisions of
    // counts, bit-identical across engines.
    "d13_dedup_eval" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text,' ')) >= 3
        |         THEN string_split(text,' ') ELSE [text] END AS ws,
        |    string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 200),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ws[i:i+2], ' ')
        |      for i in range(1, len(ws)-1)]) AS s
        |  FROM d),
        |truth AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.6),
        |shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        |mh AS (
        |  SELECT doc_id,
        |    [list_min(list_transform(s, x ->
        |       CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || x),
        |         1, 15)) AS BIGINT)))
        |     for i in range(0, 16)] AS m
        |  FROM shn),
        |bandsm AS (
        |  SELECT doc_id, bi,
        |    CAST(m[4*bi+1] AS VARCHAR) || ':' ||
        |    CAST(m[4*bi+2] AS VARCHAR) || ':' ||
        |    CAST(m[4*bi+3] AS VARCHAR) || ':' ||
        |    CAST(m[4*bi+4] AS VARCHAR) AS bucket
        |  FROM mh, LATERAL (SELECT unnest(range(0, 4)) AS bi)),
        |candm AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM bandsm a JOIN bandsm b
        |    ON a.bi = b.bi AND a.bucket = b.bucket
        |      AND a.doc_id < b.doc_id),
        |foundm AS (
        |  SELECT c.a, c.b
        |  FROM candm c JOIN shn x ON x.doc_id = c.a
        |    JOIN shn y ON y.doc_id = c.b
        |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.s, y.s))) >= 0.6),
        |tokh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
        |  FROM d, LATERAL (SELECT unnest(toks) AS w)),
        |bitsv AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM tokh, LATERAL (SELECT unnest(range(0, 60)) AS j)
        |  GROUP BY doc_id, j),
        |sig AS (
        |  SELECT d.doc_id, COALESCE(s2.sg, 0) AS sg
        |  FROM d LEFT JOIN (
        |    SELECT doc_id,
        |      CAST(SUM(CASE WHEN v > 0
        |        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sg
        |    FROM bitsv GROUP BY doc_id) s2 ON d.doc_id = s2.doc_id),
        |bandss AS (
        |  SELECT doc_id, sg, bi, (sg >> (bi*15)) & 32767 AS bucket
        |  FROM sig, LATERAL (SELECT unnest(range(0, 4)) AS bi)),
        |founds AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM bandss a JOIN bandss b
        |    ON a.bi = b.bi AND a.bucket = b.bucket
        |      AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sg, b.sg)) <= 3),
        |m0 AS (
        |  SELECT 'minhash_lsh_md5' AS method,
        |    (SELECT COUNT(*) FROM truth) AS n_truth,
        |    (SELECT COUNT(*) FROM foundm) AS n_found,
        |    (SELECT COUNT(*) FROM foundm f
        |       JOIN truth t ON f.a = t.a AND f.b = t.b) AS n_tp
        |  UNION ALL
        |  SELECT 'simhash_md5',
        |    (SELECT COUNT(*) FROM truth),
        |    (SELECT COUNT(*) FROM founds),
        |    (SELECT COUNT(*) FROM founds f
        |       JOIN truth t ON f.a = t.a AND f.b = t.b))
        |SELECT method, n_truth, n_found, n_tp,
        |  CASE WHEN n_found = 0 THEN 1.0
        |       ELSE CAST(n_tp AS DOUBLE) / n_found END AS prec,
        |  CASE WHEN n_truth = 0 THEN 1.0
        |       ELSE CAST(n_tp AS DOUBLE) / n_truth END AS recall
        |FROM m0 ORDER BY method""".stripMargin,
    // d11: the genuine semi-join twin — a batch row is a dup iff its
    // content hash appears in history (simulated re-crawls AND any
    // organic cross-split dup the corpus carries; sf0.1 has one). The
    // bloom+verify machinery must land exactly here: no false negatives
    // (a bloom never misses), no surviving false positives.
    "d11_bloom_dedup" ->
      """WITH stride AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
        |hist AS (
        |  SELECT md5(text) AS h FROM documents WHERE doc_id < 350),
        |newb AS (
        |  SELECT doc_id, md5(text) AS h FROM documents
        |  WHERE doc_id >= 350
        |  UNION ALL
        |  SELECT doc_id + (SELECT s FROM stride), md5(text)
        |  FROM documents
        |  WHERE doc_id < 350 AND doc_id % 10 = 0)
        |SELECT doc_id, h IN (SELECT h FROM hist) AS is_dup
        |FROM newb ORDER BY doc_id""".stripMargin,
    "d10_substring_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
        |  FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS n_words FROM d
        |      WHERE len(ws) >= 15),
        |pos AS (
        |  SELECT doc_id, n_words, i AS p,
        |    md5(array_to_string(ws[i:i+14], ' ')) AS fp
        |  FROM n, LATERAL (SELECT unnest(generate_series(1, n_words - 14))
        |    AS i)),
        |dup AS (SELECT fp FROM pos GROUP BY fp HAVING COUNT(*) > 1),
        |spans AS (
        |  SELECT DISTINCT doc_id, n_words, p
        |  FROM pos WHERE fp IN (SELECT fp FROM dup)),
        |seg AS (
        |  SELECT doc_id, n_words, p,
        |    SUM(CASE WHEN prev IS NULL OR p >= prev + 15 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS sid
        |  FROM (SELECT doc_id, n_words, p,
        |          LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        |        FROM spans)),
        |runs AS (
        |  SELECT doc_id, n_words, sid,
        |    MAX(p) + 15 - MIN(p) AS run_len
        |  FROM seg GROUP BY doc_id, n_words, sid)
        |SELECT doc_id, n_words,
        |  CAST(SUM(run_len) AS BIGINT) AS dup_words,
        |  COUNT(*) AS n_runs,
        |  ROUND(CAST(SUM(run_len) AS DOUBLE)
        |    / CAST(n_words AS DOUBLE), 6) AS dup_frac
        |FROM runs GROUP BY doc_id, n_words
        |ORDER BY doc_id""".stripMargin,
    "d08_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ws[i:i+2], ' ')
        |      for i in range(1, len(ws)-1)]) AS s
        |  FROM (SELECT doc_id,
        |          CASE WHEN len(string_split(text,' ')) >= 3
        |               THEN string_split(text,' ') ELSE [text] END AS ws
        |        FROM documents WHERE doc_id < 200)),
        |e AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.01),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |nodes AS (SELECT DISTINCT a AS node FROM sym),
        |reach(node, r) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node)
        |SELECT node AS doc_id, MIN(r) AS cluster
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "d07_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END)
        |    || '://'
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END)
        |    || source || '.example.com'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
        |    || '/articles/' || CAST(doc_id % 400 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END)
        |      AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url),
        |      '\?utm_[a-z_]+=[a-z0-9]*', '', 'g'),
        |      ':(443|80)/', '/'),
        |      '://www\.', '://'),
        |      '/$', '') AS canonical_url
        |  FROM u)
        |SELECT canonical_url, MIN(doc_id) AS keeper, COUNT(*) AS n_variants
        |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    "d01_dedup_exact" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "d04_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ws[i:i+2], ' ')
        |      for i in range(1, len(ws)-1)]) AS s
        |  FROM (SELECT doc_id,
        |          CASE WHEN len(string_split(text,' ')) >= 3
        |               THEN string_split(text,' ') ELSE [text] END AS ws
        |        FROM documents WHERE doc_id < 200))
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.01
        |ORDER BY a, b""".stripMargin,
    "d05_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |           FROM embeddings WHERE vec_id < 2000)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
        |ORDER BY a, b""".stripMargin,
    // d16: d04's shingle comprehension, containment ratios both ways
    "d16_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ws[i:i+2], ' ')
        |      for i in range(1, len(ws)-1)]) AS s
        |  FROM (SELECT doc_id,
        |          CASE WHEN len(string_split(text,' ')) >= 3
        |               THEN string_split(text,' ') ELSE [text] END AS ws
        |        FROM documents WHERE doc_id < 200)),
        |nz AS (SELECT * FROM sh WHERE len(s) > 0)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
        |    AS a_in_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)
        |    AS b_in_a
        |FROM nz a JOIN nz b ON a.doc_id < b.doc_id
        |WHERE greatest(
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s),
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s))
        |  >= 0.8
        |ORDER BY a, b""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_dedup_exact" -> (d01DedupExact _),
    "d02_dedup_minhash" -> (d02DedupMinhash _),
    "d03_dedup_simhash" -> (d03DedupSimhash _),
    "d04_ngram_jaccard" -> (d04NgramJaccard _),
    "d05_dedup_embedding" -> (d05DedupEmbedding _),
    "d06_dedup_embedding_lsh" -> (d06DedupEmbeddingLsh _),
    "d07_url_dedup" -> (d07UrlDedup _),
    "d08_dedup_clusters" -> (d08DedupClusters _),
    "d09_semdedup" -> (d09SemDedup _),
    "d10_substring_dedup" -> (d10SubstringDedup _),
    "d11_bloom_dedup" -> (d11BloomDedup _),
    "d12_incremental_lsh_index" -> (d12IncrementalLshIndex _),
    "d13_dedup_eval" -> (d13DedupEval _),
    "d14_dedup_assign" -> (d14DedupAssign _),
    "d15_embedding_assign" -> (d15EmbeddingAssign _),
    "d16_containment" -> (d16Containment _),
    "d17_assign_mode" -> (d14DedupAssign _)
  )
}
