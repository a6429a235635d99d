package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The exact-dup collapse: one probe that decides it, and the two
  * combinators every dup-gated operator states its kernel through.
  *
  * The pre-collapse (the kernel runs once per DISTINCT payload, results
  * expand back to the rows afterwards) is the correct crawl discipline
  * at scale — the sf1/sf10 rehearsals measured 3–20× savings on
  * 10×-verbatim corpora — but on a LOW-dup corpus its dropDuplicates +
  * expansion joins are pure overhead (~+5–30% at sf0.1, round-5
  * minima). One cheap probe chooses the path: a single aggregate of
  * count vs approx_count_distinct(key). The HLL sketch is map-side
  * mergeable, so the probe is one pass with a KB-sized shuffle — never
  * a dedup shuffle of the corpus.
  *
  * Each operator writes its kernel ONCE, keyed by an opaque `gid`, and
  * the combinator runs it per row (direct) or per class (collapsed):
  *  - [[perClass]] for outputs that are a function of a document's
  *    (text, flags): the body sees (gid, text, flags…, m), where `m` is
  *    the class size (1 on the direct path), so corpus-level counts
  *    weight by sum(m) and stay exact at any dup profile;
  *  - [[pairs]] for near-dup pair kernels: the kernel runs on distinct
  *    payloads, cross pairs expand through the members, and verbatim
  *    copies pair up only where the kernel pairs the representative
  *    with itself — the same score and filter a direct run applies.
  * The paths are therefore output-identical by construction (DupGateSpec
  * proves it on dup-heavy, degenerate, null-text and unique corpora),
  * so the gate is purely a cost chooser, never a semantics switch.
  */
object DupDensity {

  /** `collapse`: the probe's verdict under [[collapseWorthIt]]. */
  final case class Density(rows: Long, collapse: Boolean)

  /** Collapse pays once ≥~10% of rows are verbatim copies. The 10%
    * margin also absorbs the HLL estimation error (rsd 2%): a fully
    * unique corpus can never be misread as collapsible. */
  private def collapseWorthIt(rows: Long, distinctEst: Long): Boolean =
    distinctEst < rows - rows / 10

  /** One-pass probe: exact row count + HLL distinct estimate of `key`
    * (the collapse key — md5(text), a signature, or the embedding hash). */
  def probe(df: DataFrame, key: Column): Density = {
    val r = df.agg(count(lit(1)), approx_count_distinct(key, 0.02)).head()
    Density(r.getLong(0), collapseWorthIt(r.getLong(0), r.getLong(1)))
  }

  /** The probe every text operator gates on: verbatim text copies. */
  def textGate(docs: DataFrame): Boolean =
    probe(docs, md5(col("text"))).collapse

  /** The null-safe exact-dup class key of a document's text. md5 is
    * fixed-width hex, so the 6-char NULL stand-in cannot collide with a
    * real class: without it a null key fails every inner expansion join
    * and the collapsed path silently DROPS rows the direct path keeps. */
  def textKey: Column = coalesce(md5(col("text")), lit("~null~"))

  /** The rows a [[perClass]] body runs on: (gid, text, flags…, m).
    * Direct: one row per document, gid = doc_id, m = 1. Collapsed: one
    * row per (text, flags) class, gid = the class key, m = its size.
    * `spreadKernel` spreads the raw scan on the direct path only
    * (Tables.spreadNarrow — a no-op on sharded corpora): a
    * single-row-group file scans as ONE task, so a body with a heavy
    * per-row kernel asks for it; the collapsed path's dedup exchange
    * already spreads the work, and a light body (t01/t02/t19) or an
    * explode→groupBy shape (t06) loses more to the extra exchange than
    * it gains. */
  def classes(src: DataFrame, collapsed: Boolean,
      flags: Seq[(String, Column)] = Nil,
      spreadKernel: Boolean = false): DataFrame = {
    val flagCols = flags.map { case (n, c) => c.as(n) }
    if (collapsed)
      src.select(classKey(flags).as("gid") +: col("text") +: flagCols: _*)
        .groupBy(col("gid"))
        .agg(first(col("text")).as("text"),
          flags.map(f => first(col(f._1)).as(f._1)) :+
            count(lit(1)).as("m"): _*)
    else
      (if (spreadKernel) Tables.spreadNarrow(src) else src)
        .select((col("doc_id").as("gid") +: col("text") +: flagCols :+
          lit(1L).as("m")): _*)
  }

  /** A (text, flags) class: the flags render as one JSON array after
    * the text key, which is injective and null-safe for any flag
    * values, so no two classes collide and no row loses its class. */
  private def classKey(flags: Seq[(String, Column)]): Column =
    if (flags.isEmpty) textKey
    else concat(textKey, to_json(array(flags.map(_._2.cast("string")): _*)))

  /** Runs `body` — (gid, text, flags…, m) rows to (gid, out…) rows, the
    * operator's whole computation without a final sort — per document
    * or per class, and emits (doc_id, out…). An output that depends on
    * a document only through (text, flags) is a class function, so both
    * paths agree row for row. The output is PART-sorted by doc_id, not
    * globally: it is document-scale, and a global sort's RangePartitioner
    * sampling job re-executes the whole expansion join + body lineage
    * just to pick bounds (measured 2× the query on t08's regex body).
    * The correctness comparator sorts rows itself. */
  def perClass(src: DataFrame, collapsed: Boolean,
      flags: Seq[(String, Column)] = Nil, spreadKernel: Boolean = false)(
      body: DataFrame => DataFrame): DataFrame = {
    val out = body(classes(src, collapsed, flags, spreadKernel))
    val outCols = out.columns.filter(_ != "gid").map(col).toIndexedSeq
    val rows =
      if (collapsed) {
        src.select(col("doc_id"), classKey(flags).as("gid"))
          .join(out, Seq("gid"))
          .select(col("doc_id") +: outCols: _*)
      } else out.select(col("gid").as("doc_id") +: outCols: _*)
    rows.sortWithinPartitions(col("doc_id"))
  }

  /** All near-dup pairs (a, b, score…) with a < b over the `id` rows of
    * `src`, found by `kernel`: given (gid, payload…) rows and the gid
    * order to join on, it returns its verified (ga, gb, score…) pairs.
    *
    * Direct: the kernel runs on every row under `<`. Collapsed: it runs
    * once per distinct `key` under `<=`, so each representative also
    * meets ITSELF exactly where two verbatim copies would meet on the
    * direct path — same band collision, same score, same filter (a
    * degenerate payload that fails its own test, like an all-zero
    * embedding, pairs with nothing) — and every class pair then expands
    * into its member pairs ([[expand]]). Unsorted on both paths: the
    * output is pair-quadratic in dup multiplicity, and any trailing sort
    * of that mass is pure overhead (measured: the sf100 suite spent
    * 35+ min spilling in exactly that sort); the comparator sorts rows
    * itself. `spreadKernel` as in [[classes]]. */
  def pairs(src: DataFrame, id: String, key: Column, collapsed: Boolean,
      spreadKernel: Boolean = false)(
      kernel: (DataFrame, (Column, Column) => Column) => DataFrame)
      : DataFrame =
    if (!collapsed) {
      val in = if (spreadKernel) Tables.spreadNarrow(src) else src
      kernel(in.withColumnRenamed(id, "gid"), _ < _)
        .withColumnRenamed("ga", "a").withColumnRenamed("gb", "b")
    } else {
      val keyed = src.withColumn("gid", key)
      expand(kernel(keyed.drop(id).dropDuplicates("gid"), _ <= _),
        keyed.select(col(id), col("gid")), id)
    }

  /** The member pairs (a < b, score…) of every class pair (ga, gb,
    * score…): all of ga's members × gb's, or, for a self pair, every two
    * members of the class. The naive spelling (a join on the class key)
    * puts a whole class's |g|² output on ONE join key = one task: a
    * planted 10%-hot-key corpus (one text owned by 10% of a 100 TB
    * crawl) makes that a billion-row straggler. Chunk-balanced instead:
    * members rank within their class (one bounded window per class,
    * parallel across classes), each ga member pairs with every chunk of
    * 256 gb members (from its own chunk on, for a self pair), and the
    * join key becomes (gb, chunk) — ~|g|/256 keys per hot class, the
    * largest task bounded at |g|×256 pairs, instead of |g|² on one. Pair
    * output itself is quadratic in class size BY CONTRACT (it's a pair
    * list — d14's linear assignment is the production shape); this
    * bounds the per-task slice, which is what OOMs. */
  private def expand(found: DataFrame, members: DataFrame,
      id: String): DataFrame = {
    val C = 256
    // The expansion join's OUTPUT is quadratically larger than its
    // input, so AQE's input-sized partition coalescing under-plans it:
    // a few hundred MB of member rows coalesce to ~8 partitions which
    // then each emit 10^8+ pairs — one decade of lost parallelism and
    // (if anything downstream buffers) task-level spill. Pinning the
    // pre-join shuffles to the configured parallelism keeps the
    // expansion spread over every core; the inputs are id-only rows,
    // so the extra exchange is noise.
    val n = members.sparkSession.sessionState.conf.numShufflePartitions
    val scores = found.columns.filterNot(Set("ga", "gb")).map(col)
      .toIndexedSeq
    val w = Window.partitionBy(col("gid")).orderBy(col(id))
    val ranked = members
      .withColumn("r", row_number().over(w).cast("long") - 1)
      .withColumn("c", expr(s"r div $C"))
    val cmax = ranked.groupBy(col("gid").as("gb"))
      .agg(max(col("c")).as("cmax"))
    val self = col("ga") === col("gb")
    val lhs = found
      .join(ranked.select(col("gid").as("ga"), col(id).as("ia"),
        col("r").as("ra"), col("c").as("ca")), Seq("ga"))
      .join(cmax, Seq("gb"))
      .select(Seq(col("ga"), col("gb"), col("ia"), col("ra"),
        explode(sequence(when(self, col("ca")).otherwise(lit(0L)),
          col("cmax"))).as("cb")) ++ scores: _*)
      .repartition(n, col("gb"), col("cb"))
    val rhs = ranked.select(col("gid").as("gb"), col(id).as("ib"),
      col("r").as("rb"), col("c").as("cb"))
      .repartition(n, col("gb"), col("cb"))
    lhs.join(rhs, Seq("gb", "cb"))
      .where(!self || col("ra") < col("rb"))
      .select(least(col("ia"), col("ib")).as("a") +:
        greatest(col("ia"), col("ib")).as("b") +: scores: _*)
  }
}
