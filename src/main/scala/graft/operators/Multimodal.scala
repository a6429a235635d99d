package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** m01 — multimodal column plumbing (SURVEY.md §2): media as an opaque
  * `binary` payload + a typed metadata struct, processed batch-wise.
  *
  * The real decode (image/audio codecs) is STUBBED — this container has no
  * media libraries — by a deterministic fake: the payload is the document's
  * utf-8 bytes and "decoding" extracts byte-level features. Everything
  * Spark-side is real and is what would carry a genuine decoder at 100 TB:
  * the schema contract (payload: binary, meta: struct<width,height,format>),
  * a narrow columnar scan feeding it, per-partition batch processing via
  * mapPartitions over a typed Dataset (the Scala analog of the
  * mapInPandas/Arrow-batch shape a Python decoder UDF would use), and a
  * partition count sized so one batch ≈ one task.
  */
object Multimodal {

  /** Raw media row: what a real pipeline would read from a lakehouse table
    * of crawled media. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte],
      width: Int, height: Int, format: String)

  /** Decoded features: the stub "decoder" output — deterministic byte
    * statistics standing in for pixel/sample features. */
  final case class MediaFeatures(doc_id: Long, width: Int, height: Int,
      format: String, n_bytes: Int, mean_byte: Double, head_hex: String)

  /** The stubbed decoder: a real implementation would decode `payload`
    * with an image/audio codec here. Deterministic fake = byte stats. */
  private def decodeStub(r: MediaRow): MediaFeatures = {
    val n = r.payload.length
    var sum = 0L
    var i = 0
    while (i < n) { sum += (r.payload(i) & 0xff); i += 1 }
    val mean = if (n == 0) 0.0 else sum.toDouble / n
    val head = r.payload.take(4).map(b => f"${b & 0xff}%02x").mkString
    MediaFeatures(r.doc_id, r.width, r.height, r.format, n, mean, head)
  }

  /** The synthetic media table both m01 and m03 read: payload = utf-8
    * bytes, metadata derived deterministically from doc_id. */
  private def mediaTable(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(3)) * 120 + 240).cast("int").as("height"),
        element_at(array(lit("png"), lit("jpeg"), lit("webp")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"))
      .as[MediaRow]
  }

  /** m01 — build the media table from documents, then run the batched
    * decode. Rows-only (the stub has no DuckDB twin); the spec pins the
    * schema contract and the byte-stat math.
    */
  def m01MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .mapPartitions(_.map(decodeStub))(
        org.apache.spark.sql.Encoders.product[MediaFeatures])
      .toDF()
      .orderBy(col("doc_id"))

  /** Resized media: the thumbnail BYTES (binary out — the re-encode half
    * of the contract) plus recomputed dims. */
  final case class Resized(doc_id: Long, width: Int, height: Int,
      thumb_w: Int, thumb_h: Int, thumb: Array[Byte], thumb_bytes: Int)

  /** The resize stub: ceil-stride sampling spans the WHOLE payload (a
    * floor stride would only ever read a prefix), standing in for a pixel
    * resampler. Exposed for the spec. */
  def resizeStub(r: MediaRow): Resized = {
    val n = r.payload.length
    val budget = 64
    val stride = math.max(1, (n + budget - 1) / budget) // ceil(n/budget)
    val thumb = Array.range(0, math.min(budget, n))
      .map(i => r.payload(math.min(n - 1, i * stride)))
    val th = math.max(1, (64L * r.height / r.width).toInt)
    Resized(r.doc_id, r.width, r.height, 64, th, thumb, thumb.length)
  }

  /** m03 — resize plumbing: per-row "decode→resample→re-encode" stub via
    * the same typed mapPartitions batch shape as m01; binary in, binary
    * out, metadata recomputed, narrow scan feeding it — the Spark
    * contract a real resizer needs at 100 TB.
    */
  def m03Resize(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .mapPartitions(_.map(resizeStub))(
        org.apache.spark.sql.Encoders.product[Resized])
      .toDF()
      // the operator's contract is binary-out (MultimodalSpec pins it);
      // the gate-facing projection hexes the bytes — raw binary columns
      // don't survive both engines' dataframe readers comparably
      .withColumn("thumb", lower(hex(col("thumb"))))
      .orderBy(col("doc_id"))

  /** m02 — frame sampling: chunk the payload into fixed-size "frames" and
    * keep every 2nd one (the video frame-sample shape: a decoder would
    * emit frames; sampling cuts downstream cost before feature
    * extraction). Pure generate+project — no shuffle, scales linearly; the
    * per-frame md5 gives the DuckDB oracle an exact twin. Frames are
    * 64-char windows over the (all-ASCII) document text so bytes == chars
    * on both engines.
    */
  def m02FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val nLast = floor((length(col("text")) - 1) / 64).cast("int")
    // empty text: nLast = -1 and sequence(0, -1) would generate a
    // DESCENDING [0, -1] — emit zero frames instead, matching the
    // oracle's empty range
    val frames = when(length(col("text")) > 0,
      transform(sequence(lit(0), nLast),
        i => substr(col("text"), i * 64 + 1, lit(64))))
      .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        posexplode(frames).as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % 2 === 0)
      .select(col("doc_id"), col("frame_idx"),
        md5(col("frame").cast("binary")).as("frame_md5"),
        length(col("frame")).as("n_chars_f"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** m09 — video SCENE SPLIT over the stubbed decode path (the cut
    * detection every video-training pipeline runs before clip
    * sampling): m02's 64-byte frames each reduce to a cheap feature
    * pair (the stub "frame histogram": space count + 'e' count — a
    * real decoder would emit a color histogram here), a boundary fires
    * where consecutive frames' L1 feature distance exceeds the
    * threshold, and gaps-and-islands (cumulative boundary sum) numbers
    * the scenes. Every window partitions by doc_id and is bounded by
    * one document's frame count at any corpus size; output is one row
    * per scene with its frame span — what a clip sampler consumes.
    * All-ASCII corpus ⇒ byte features replay exactly in DuckDB. */
  def m09SceneSplit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nLast = floor((length(col("text")) - 1) / 64).cast("int")
    val frames = when(length(col("text")) > 0,
      transform(sequence(lit(0), nLast),
        i => substr(col("text"), i * 64 + 1, lit(64))))
      .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    Tables(spark, dir).documents
      .select(col("doc_id"), posexplode(frames).as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("frame_idx"),
        (length(col("frame")) -
          length(expr("replace(frame, ' ', '')"))).as("f1"),
        (length(col("frame")) -
          length(expr("replace(frame, 'e', '')"))).as("f2"))
      .withColumn("boundary",
        when(lag(col("f1"), 1).over(w).isNull, lit(1))
          .when(abs(col("f1") - lag(col("f1"), 1).over(w)) +
            abs(col("f2") - lag(col("f2"), 1).over(w)) > 6, lit(1))
          .otherwise(lit(0)))
      .withColumn("scene_id", sum(col("boundary")).over(w))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(min(col("frame_idx")).as("start_idx"),
        max(col("frame_idx")).as("end_idx"),
        count(lit(1)).as("n_frames"))
      .sortWithinPartitions(col("doc_id"), col("scene_id"))
  }

  /** m04 — media payload dedup, the layered strategy a 100 TB blob lake
    * uses: a CHEAP content fingerprint (md5 of 192 sampled bytes —
    * head/mid/tail 64 each) buckets candidates without reading whole
    * blobs, and the exact full-payload hash confirms within buckets.
    * Here both levels compute in one pass and the output proves they
    * agree (same payload ⇒ same fingerprint); at scale the fingerprint
    * comes from byte-range reads and only fingerprint-collisions pay a
    * full-blob hash. Oracle mirrors both hashes over the all-ASCII
    * corpus.
    */
  def m04PayloadDedup(spark: SparkSession, dir: String): DataFrame = {
    val p = col("payload")
    val len = length(p)
    val mid = (floor(len / 2) + 1).cast("int")
    val tail = when(len > 64, len - 63).otherwise(lit(1)).cast("int")
    val fp = md5(concat(substring(p, 1, 64),
      substr(p, mid, lit(64)), substr(p, tail, lit(64))))
    mediaTable(spark, dir).toDF()
      .select(col("doc_id"), md5(p).as("h"), fp.as("fp"), len.as("n_bytes"))
      .groupBy(col("h"))
      .agg(min(col("fp")).as("fp"), min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_copies"),
        sum(col("n_bytes")).as("total_bytes"))
      .select(col("h"), col("fp"), col("keeper"), col("n_copies"),
        col("total_bytes"))
      .orderBy(col("h"))
  }

  /** m05 — contrastive training-pair construction (the CLIP-style data
    * prep that turns an aligned multimodal corpus into (anchor, positive,
    * negative) triples): each text document joins its media embedding on
    * id, the positive is the next same-label neighbor (one window over
    * label), and the negative is the rank-aligned member of the NEXT
    * label — deterministic rank pairing instead of RNG, so runs are
    * reproducible and the oracle can rebuild the exact triple set. Scoring
    * margins ride along via the codegen'd cosine kernel. At 100 TB:
    * one narrow join on id, two window exchanges, one equi-join on
    * (label, rank) — all hash-partitionable; note a 10-value label key is
    * deliberately coarse here, a real corpus partitions by (label-shard)
    * the way q22 salts hot keys.
    */
  def m05ContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val docs = t.documents.select(col("doc_id"), md5(col("text")).as("txt_md5"))
    val anchors = t.embeddings
      .join(docs, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("label"), col("embedding"), col("txt_md5"))
    val wLab = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val ranked = anchors.select(col("vec_id"), col("label"),
      col("embedding"), col("txt_md5"),
      row_number().over(wLab).as("r"),
      lead(col("vec_id"), 1).over(wLab).as("pos_id"),
      lead(col("embedding"), 1).over(wLab).as("pos_emb"))
    val negSrc = anchors
      .select(col("label").as("nlabel"), col("vec_id").as("neg_id"),
        col("embedding").as("neg_emb"))
      .withColumn("nr", row_number().over(
        Window.partitionBy(col("nlabel")).orderBy(col("neg_id"))))
    ranked.filter(col("pos_id").isNotNull)
      .join(negSrc,
        pmod(col("label") + 1, lit(10)) === col("nlabel") &&
          col("r") === col("nr"))
      .select(col("vec_id").as("anchor"), col("label"), col("txt_md5"),
        col("pos_id"), col("neg_id"),
        round(graft.functions.cosine_similarity(
          col("embedding"), col("pos_emb")), 6).as("pos_cos"),
        round(graft.functions.cosine_similarity(
          col("embedding"), col("neg_emb")), 6).as("neg_cos"))
      .orderBy(col("anchor"))
  }

  /** m06 — modality coverage reconciliation (the corpus-health check a
    * multimodal pipeline runs before training: which ids have text but
    * no embedding, which have a vector with no caption, per source).
    * Missing modalities are SIMULATED by key filters on each side
    * (doc_id%5, vec_id%3) so all four presence combinations exist; the
    * full-outer join + flag aggregation is the real machinery. One
    * equi-join shuffle + one aggregated-rows groupBy at any scale;
    * vec-only rows have no source and report under 'none'.
    */
  def m06ModalityCoverage(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val d = t.documents.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"), col("source"))
    val e = t.embeddings.filter(pmod(col("vec_id"), lit(3)) =!= 0)
      .select(col("vec_id"))
    d.join(e, col("doc_id") === col("vec_id"), "full_outer")
      .select(coalesce(col("source"), lit("none")).as("src"),
        col("doc_id").isNotNull.as("has_text"),
        col("vec_id").isNotNull.as("has_vec"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_ids"),
        sum(when(col("has_text") && col("has_vec"), 1L).otherwise(0L))
          .as("n_aligned"),
        sum(when(col("has_text") && !col("has_vec"), 1L).otherwise(0L))
          .as("n_text_only"),
        sum(when(!col("has_text") && col("has_vec"), 1L).otherwise(0L))
          .as("n_vec_only"))
      .orderBy(col("src"))
  }

  /** 64-bit average-hash (aHash) of a payload: the byte stream folds onto
    * a 64-bucket grid (the stub analog of an 8×8 grayscale thumbnail);
    * bit j set iff bucket j's mean exceeds the global mean. Small local
    * edits move few bucket means, so near-identical payloads land at
    * small hamming distance — a real image pipeline computes the same
    * hash from decoded pixels; everything downstream is codec-agnostic.
    * Exposed for the spec. */
  def aHash64(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val b = (i.toLong * 64 / n).toInt
      val v = bytes(i) & 0xff
      sums(b) += v; cnts(b) += 1; total += v
      i += 1
    }
    val gm = total.toDouble / n
    var h = 0L
    var j = 0
    while (j < 64) {
      if (cnts(j) > 0 && sums(j).toDouble / cnts(j) > gm) h |= (1L << j)
      j += 1
    }
    h
  }

  final case class MediaHash(doc_id: Long, ahash: Long)

  /** m07 — perceptual-hash near-dup over media payloads: decode-stage
    * aHash (typed mapPartitions, the decoder batch shape m01 uses) →
    * d03's 4×16-bit band pigeonhole (hamming ≤ 3 ⇒ at least one band
    * identical) → bucket equi-join on ids+hash only → exact hamming
    * verify. The image twin of SimHash text dedup: candidates stay
    * ~linear because only same-band-bucket payloads ever meet — never an
    * all-pairs distance pass.
    *
    * Re-encoded copies are SIMULATED (the m06 pattern — the corpus's
    * text near-dups are word-INSERTIONS, which shift every downstream
    * byte; image re-encodes perturb intensities in place, which is what
    * a positional grid hash is robust to): every 25th payload also emits
    * a low-amplitude-noise variant under a max(doc_id)+1-stride id, and
    * the hash must pair each variant with its original. Distinct corpus payloads
    * sit at hamming ≥ 12 here, so ≤ 3 admits no false pairs. Rows-only
    * (no SQL twin); the spec plants near-identical and unrelated
    * payloads.
    */
  /** The decode-stage hash table m07's both paths read: aHash per
    * payload, plus the simulated re-encode variant every 25th doc.
    * Variant ids offset by max(doc_id)+1 (the make_sf1.py stride
    * pattern) — a fixed literal would alias real doc_ids once the
    * corpus passes it (round-9 advice). */
  private[graft] def m07Hashed(spark: SparkSession, dir: String): DataFrame = {
    val stride = Tables(spark, dir).documents
      .agg(max(col("doc_id"))).head().getLong(0) + 1L
    mediaTable(spark, dir)
      .mapPartitions(_.flatMap { r =>
        val orig = MediaHash(r.doc_id, aHash64(r.payload))
        if (r.doc_id % 25 == 0) {
          // low-amplitude noise on ~3% of bytes: the re-encode stand-in,
          // calibrated to land variants at hamming 0–3 (measured ≤ 3
          // across the corpus, so the pigeonhole bound catches them all)
          val noisy = r.payload.clone()
          var i = 0
          while (i < noisy.length) { noisy(i) = (noisy(i) ^ 8).toByte; i += 31 }
          Iterator(orig, MediaHash(r.doc_id + stride, aHash64(noisy)))
        } else Iterator(orig)
      })(org.apache.spark.sql.Encoders.product[MediaHash])
      .toDF()
      // decoded exactly once: the probe and whichever path wins both
      // read the hash table, never the payloads again
      .localCheckpoint(true)
  }

  def m07PhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val hashed = m07Hashed(spark, dir)
    // DUP-DENSITY GATE — see d02/d03. Verbatim payload copies share an
    // aHash, so a high-dup corpus turns the band join quadratic in copy
    // multiplicity (the sf10 rehearsal at 100×-verbatim density measured
    // 324 s); band-join + hamming-verify once per DISTINCT hash, then
    // expand member pairs with equi-joins. The OUTPUT stays
    // pair-quadratic in multiplicity — inherent to pair semantics (m04
    // is the collapse-output form).
    DupDensity.pairs(hashed, "doc_id", col("ahash"),
      DupDensity.probe(hashed, col("ahash")).collapse)(m07Kernel)
  }

  private[graft] def m07Kernel =
    Dedup.hammingKernel(col("ahash"), phashBands) _

  /** d03's 4×16-bit pigeonhole over the 64-bit aHash: hamming ≤ 3 ⇒ at
    * least one band identical — correctness-pinned, never scales. */
  private val phashBands = Lsh.pigeonhole(64, maxHamming = 3)

  /** Per-doc audio stats from the stub "decoder": 32-sample windowed
    * energy (sum of squared amplitudes around the space baseline — a
    * real pipeline computes the same over PCM samples), silence flags,
    * and the first/last loud window = the trim points. */
  final case class AudioStats(doc_id: Long, n_windows: Int, n_silent: Int,
      first_loud: Int, last_loud: Int, kept_bytes: Int)

  private def audioStub(r: MediaRow): AudioStats = {
    val W = 32
    val thresh = 160000L
    val n = r.payload.length / W
    var first = -1; var last = -1; var silent = 0
    var w = 0
    while (w < n) {
      var ss = 0L
      var i = 0
      while (i < W) {
        val d = (r.payload(w * W + i) & 0xff) - 32
        ss += d.toLong * d
        i += 1
      }
      if (ss <= thresh) silent += 1
      else { if (first < 0) first = w; last = w }
      w += 1
    }
    val kept = if (first < 0) 0 else (last - first + 1) * W
    AudioStats(r.doc_id, n, silent, first, last, kept)
  }

  /** m08 — the AUDIO twin of the image plumbing (m01/m03): windowed
    * energy + silence-trim over the opaque payload via the same typed
    * batched-decode shape; full windows only, docs shorter than one
    * window drop out (mirrored by the oracle). The trim points
    * (first/last loud window) are what a speech pipeline cuts on before
    * feature extraction. Stub decode = byte amplitudes — oracle-exact
    * because the corpus is all-ASCII (the m01 contract).
    */
  def m08AudioEnergy(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .mapPartitions(_.map(audioStub))(
        org.apache.spark.sql.Encoders.product[AudioStats])
      .toDF()
      .filter(col("n_windows") > 0)
      .orderBy(col("doc_id"))

  /** m10 — interleaved multimodal sequence assembly: the VLM training
    * shape, where each sample is an ordered stream of text segments and
    * image slots ([img] t t [img] t t …) with modality-aware token
    * costs. Per document: text splits into fixed 128-char chunks (the
    * c03 substring machinery, stride = width), one image slot precedes
    * every pair of chunks, and each element becomes one output row
    * (doc_id, seq_pos, kind, cost, content_key) — text cost ≈ chars/4
    * rounded up, image cost the fixed 576-token vision-patch
    * convention, content_key the md5 the packer/dedup layers join on.
    * All pure Column arithmetic on one documents scan: the sequence
    * explode fans out map-side (no shuffle anywhere — .explain shows a
    * single scan→project→generate chain), output is
    * partition-sorted, and downstream c02-style packing consumes the
    * (cost, content_key) rows as-is. At 100 TB this is the assembly
    * step between curation and the trainer's sampler; the stub is only
    * the content_key standing in for a real media reference, exactly
    * like m01's payload contract.
    */
  def m10Interleave(spark: SparkSession, dir: String): DataFrame = {
    val c = 128 // chunk width in chars
    val base = Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
      .where(length(col("text")) > 0)
      .withColumn("n_chunks",
        expr(s"cast((length(text) + ${c - 1}) div $c as int)"))
    val text = base
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"),
        expr("cast(3 * (chunk_idx div 2) + chunk_idx % 2 + 1 as bigint)")
          .as("seq_pos"),
        lit("text").as("kind"),
        expr(s"cast((length(substring(text, chunk_idx * $c + 1, $c)) + 3)" +
          " div 4 as bigint)").as("cost"),
        md5(expr(s"substring(text, chunk_idx * $c + 1, $c)"))
          .as("content_key"))
    val imgs = base
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), expr("(n_chunks + 1) div 2 - 1")))
          .as("j"))
      .select(col("doc_id"),
        expr("cast(3 * j as bigint)").as("seq_pos"),
        lit("image").as("kind"), lit(576L).as("cost"),
        concat(md5(col("text")), lit("#"), col("j")).as("content_key"))
    text.unionByName(imgs)
      .sortWithinPartitions(col("doc_id"), col("seq_pos"))
  }

  val oracle: Map[String, String] = Map(
    "m10_interleave" ->
      """WITH d AS (
        |  SELECT doc_id, text, (length(text) + 127) // 128 AS n_chunks
        |  FROM documents WHERE length(text) > 0),
        |txt AS (
        |  SELECT doc_id,
        |    CAST(3 * (i // 2) + i % 2 + 1 AS BIGINT) AS seq_pos,
        |    'text' AS kind,
        |    CAST((length(substr(text, CAST(i * 128 + 1 AS INT), 128)) + 3)
        |      // 4 AS BIGINT) AS cost,
        |    md5(substr(text, CAST(i * 128 + 1 AS INT), 128)) AS content_key
        |  FROM d, unnest(range(0, n_chunks)) AS t(i)),
        |img AS (
        |  SELECT doc_id, CAST(3 * j AS BIGINT) AS seq_pos,
        |    'image' AS kind, CAST(576 AS BIGINT) AS cost,
        |    md5(text) || '#' || j AS content_key
        |  FROM d, unnest(range(0, (n_chunks + 1) // 2)) AS t(j))
        |SELECT * FROM txt UNION ALL SELECT * FROM img
        |ORDER BY doc_id, seq_pos""".stripMargin,
    "m08_audio_energy" ->
      """WITH w AS (
        |  SELECT doc_id, i AS widx,
        |    list_sum([
        |      (ascii(substring(text, CAST(i*32 + j AS INT), 1)) - 32)
        |      * (ascii(substring(text, CAST(i*32 + j AS INT), 1)) - 32)
        |      for j in range(1, 33)]) AS ss
        |  FROM documents, LATERAL (SELECT unnest(range(0,
        |    CAST(floor(length(text)/32) AS BIGINT))) AS i)),
        |f AS (SELECT doc_id, widx, ss <= 160000 AS silent FROM w),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_windows,
        |    CAST(SUM(CASE WHEN silent THEN 1 ELSE 0 END) AS INT)
        |      AS n_silent,
        |    CAST(COALESCE(MIN(CASE WHEN NOT silent THEN widx END), -1)
        |      AS INT) AS first_loud,
        |    CAST(COALESCE(MAX(CASE WHEN NOT silent THEN widx END), -1)
        |      AS INT) AS last_loud
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id, n_windows, n_silent, first_loud, last_loud,
        |  CAST(CASE WHEN first_loud < 0 THEN 0
        |    ELSE (last_loud - first_loud + 1) * 32 END AS INT)
        |    AS kept_bytes
        |FROM agg ORDER BY doc_id""".stripMargin,
    "m06_modality_coverage" ->
      """WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 5 <> 0),
        |e AS (SELECT vec_id FROM embeddings WHERE vec_id % 3 <> 0),
        |j AS (
        |  SELECT COALESCE(d.source, 'none') AS src,
        |    d.doc_id IS NOT NULL AS has_text,
        |    e.vec_id IS NOT NULL AS has_vec
        |  FROM d FULL OUTER JOIN e ON d.doc_id = e.vec_id)
        |SELECT src, COUNT(*) AS n_ids,
        |  CAST(SUM(CASE WHEN has_text AND has_vec THEN 1 ELSE 0 END) AS BIGINT) AS n_aligned,
        |  CAST(SUM(CASE WHEN has_text AND NOT has_vec THEN 1 ELSE 0 END) AS BIGINT) AS n_text_only,
        |  CAST(SUM(CASE WHEN NOT has_text AND has_vec THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_only
        |FROM j GROUP BY src ORDER BY src""".stripMargin,
    "m05_contrastive_pairs" ->
      """WITH a AS (
        |  SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS emb,
        |    md5(d.text) AS txt_md5
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |rk AS (
        |  SELECT vec_id, label, emb, txt_md5,
        |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS r,
        |    LEAD(vec_id) OVER (PARTITION BY label ORDER BY vec_id)
        |      AS pos_id,
        |    LEAD(emb) OVER (PARTITION BY label ORDER BY vec_id) AS pos_emb
        |  FROM a),
        |neg AS (
        |  SELECT label AS nlabel, vec_id AS neg_id, emb AS neg_emb,
        |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS nr
        |  FROM a)
        |SELECT rk.vec_id AS anchor, rk.label, rk.txt_md5, rk.pos_id,
        |  neg.neg_id,
        |  round(list_cosine_similarity(rk.emb, rk.pos_emb), 6) AS pos_cos,
        |  round(list_cosine_similarity(rk.emb, neg.neg_emb), 6) AS neg_cos
        |FROM rk JOIN neg ON (rk.label + 1) % 10 = neg.nlabel
        |  AND rk.r = neg.nr
        |WHERE rk.pos_id IS NOT NULL
        |ORDER BY anchor""".stripMargin,
    "m04_payload_dedup" ->
      """SELECT md5(text) AS h,
        |  MIN(md5(substring(text, 1, 64)
        |    || substring(text, CAST(FLOOR(length(text) / 2) AS BIGINT) + 1, 64)
        |    || substring(text, CASE WHEN length(text) > 64
        |         THEN length(text) - 63 ELSE 1 END, 64))) AS fp,
        |  MIN(doc_id) AS keeper, COUNT(*) AS n_copies,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    // m01/m03 oracles recompute the stub decode in SQL — possible because
    // the synthetic corpus is all-ASCII (bytes == chars, verified: zero
    // rows where octet_length <> len), so byte stats and stride sampling
    // are expressible over the text column
    "m01_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 4 * 160 + 320 AS INT) AS width,
        |  CAST(doc_id % 3 * 120 + 240 AS INT) AS height,
        |  ['png','jpeg','webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |  CASE WHEN len(text) = 0 THEN 0.0
        |    ELSE CAST(list_sum([ascii(text[i])
        |      for i in range(1, len(text)+1)]) AS DOUBLE) / len(text)
        |  END AS mean_byte,
        |  lower(hex(substr(text, 1, 4))) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m03_resize" ->
      """WITH src AS (
        |  SELECT doc_id, text, len(text) AS n,
        |    CAST(doc_id % 4 * 160 + 320 AS INT) AS width,
        |    CAST(doc_id % 3 * 120 + 240 AS INT) AS height
        |  FROM documents)
        |SELECT doc_id, width, height, 64 AS thumb_w,
        |  CAST(GREATEST(1, 64 * height // width) AS INT) AS thumb_h,
        |  lower(hex(CAST(array_to_string([text[LEAST(n, 1 + i * ((n + 63) // 64))]
        |    for i in range(0, LEAST(64, n))], '') AS BLOB))) AS thumb,
        |  CAST(LEAST(64, n) AS INT) AS thumb_bytes
        |FROM src ORDER BY doc_id""".stripMargin,
    // m07's oracle (round 8): the whole perceptual-hash pipeline is
    // integer/double-exact arithmetic over the ASCII payload bytes, so
    // DuckDB re-derives it end to end — the noisy re-encode variants
    // (xor 8 on every 31st byte of every 25th doc, shifted ids), the
    // 64-bucket average hash (integer bucket index i*64//n, double
    // mean-vs-global-mean threshold — both engines' doubles agree on
    // integer-valued ratios), the 4×16-bit pigeonhole bands rebuilt
    // bit-by-bit (sidestepping cross-engine shift semantics, the s02
    // trick), candidate pairs via the band-bucket join, and hamming as
    // the count of differing bits. Matching the engine's typed
    // mapPartitions kernel proves decode∘hash∘band∘verify is the same
    // function on both sides.
    "m07_phash_dedup" ->
      """WITH stride AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
        |variants AS (
        |  SELECT doc_id AS id, text, FALSE AS noisy FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT s FROM stride) AS id, text, TRUE AS noisy
        |  FROM documents WHERE doc_id % 25 = 0),
        |bytes AS (
        |  SELECT id, n, i,
        |    CASE WHEN noisy AND i % 31 = 0 THEN xor(v, 8) ELSE v END AS val
        |  FROM (
        |    SELECT id, noisy, len(text) AS n,
        |      unnest(range(len(text))) AS i,
        |      unnest([ascii(text[k]) for k in range(1, len(text)+1)]) AS v
        |    FROM variants)),
        |buckets AS (
        |  SELECT id, i * 64 // n AS b, SUM(val) AS s, COUNT(*) AS c
        |  FROM bytes GROUP BY id, i * 64 // n),
        |gm AS (
        |  SELECT id, SUM(val)::DOUBLE / COUNT(*) AS g
        |  FROM bytes GROUP BY id),
        |bits AS (
        |  SELECT g.id, j.j AS j,
        |    COALESCE(b.s::DOUBLE / b.c > g.g, FALSE) AS bit
        |  FROM gm g CROSS JOIN range(64) j(j)
        |  LEFT JOIN buckets b ON b.id = g.id AND b.b = j.j),
        |bb AS (
        |  SELECT id, j // 16 AS band,
        |    SUM(CASE WHEN bit THEN 1 << (j % 16) ELSE 0 END) AS bucket
        |  FROM bits GROUP BY id, j // 16),
        |cand AS (
        |  SELECT DISTINCT x.id AS a, y.id AS b
        |  FROM bb x JOIN bb y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.id < y.id),
        |ham AS (
        |  SELECT c.a, c.b,
        |    SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS h
        |  FROM cand c
        |  JOIN bits p ON p.id = c.a
        |  JOIN bits q ON q.id = c.b AND q.j = p.j
        |  GROUP BY c.a, c.b)
        |SELECT a, b, CAST(h AS INTEGER) AS hamming
        |FROM ham WHERE h <= 3 ORDER BY a, b""".stripMargin,
    "m02_frame_sample" ->
      """WITH idx AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((length(text)-1)/64) AS BIGINT) + 1))
        |      AS frame_idx
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        |  md5(substring(text, CAST(frame_idx*64 + 1 AS INT), 64)) AS frame_md5,
        |  length(substring(text, CAST(frame_idx*64 + 1 AS INT), 64))
        |    AS n_chars_f
        |FROM idx WHERE frame_idx % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // m09: the identical frame features, LAG boundary rule, and
    // gaps-and-islands numbering
    "m09_scene_split" ->
      """WITH idx AS (
        |  SELECT doc_id,
        |    unnest(range(0, CAST(floor((length(text)-1)/64) AS BIGINT) + 1))
        |      AS frame_idx,
        |    text
        |  FROM documents WHERE length(text) > 0),
        |f AS (
        |  SELECT doc_id, frame_idx,
        |    substring(text, CAST(frame_idx*64 + 1 AS INT), 64) AS frame
        |  FROM idx),
        |s AS (
        |  SELECT doc_id, frame_idx,
        |    length(frame) - length(replace(frame, ' ', '')) AS f1,
        |    length(frame) - length(replace(frame, 'e', '')) AS f2
        |  FROM f),
        |b AS (
        |  SELECT doc_id, frame_idx,
        |    CASE WHEN lag(f1) OVER w IS NULL THEN 1
        |         WHEN abs(f1 - lag(f1) OVER w)
        |            + abs(f2 - lag(f2) OVER w) > 6 THEN 1
        |         ELSE 0 END AS boundary
        |  FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
        |g AS (
        |  SELECT doc_id, frame_idx,
        |    CAST(SUM(boundary) OVER (PARTITION BY doc_id
        |      ORDER BY frame_idx) AS BIGINT) AS scene_id
        |  FROM b)
        |SELECT doc_id, scene_id, MIN(frame_idx) AS start_idx,
        |  MAX(frame_idx) AS end_idx, COUNT(*) AS n_frames
        |FROM g GROUP BY 1, 2 ORDER BY doc_id, scene_id""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m01_multimodal_meta" -> (m01MultimodalMeta _),
    "m02_frame_sample" -> (m02FrameSample _),
    "m03_resize" -> (m03Resize _),
    "m04_payload_dedup" -> (m04PayloadDedup _),
    "m05_contrastive_pairs" -> (m05ContrastivePairs _),
    "m06_modality_coverage" -> (m06ModalityCoverage _),
    "m07_phash_dedup" -> (m07PhashDedup _),
    "m08_audio_energy" -> (m08AudioEnergy _),
    "m09_scene_split" -> (m09SceneSplit _),
    "m10_interleave" -> (m10Interleave _)
  )
}
