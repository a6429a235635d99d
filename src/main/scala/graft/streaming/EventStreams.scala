package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

import graft.operators.{Corpus, Funnel}
import graft.operators.Funnel.FEv

/** Structured-Streaming operators st01–st02 (SURVEY.md §2).
  *
  * The reference's ingest loop is a continuous tip-follow: cherry providers
  * stream block batches and each pipeline incrementally folds them into the
  * sink (see /root/reference/src/cherry_pipelines/svm/swap_prices.py:59-116
  * batched read loop, and db.py resume semantics). Spark-first that is
  * a file stream → event-time transforms → a sink, with watermarks
  * bounding state instead of the reference's explicit batch bookkeeping.
  *
  * Both operators are expressed as a *transform on an unbounded DataFrame*
  * (`windowedAgg`, `sessionize`) so the identical code runs over a
  * MemoryStream in tests, a file stream in the driver-verified queries
  * below, and a Kafka/file stream on a real cluster. At 100 TB-equivalent
  * event rates the shape holds: the window agg is a streaming partial
  * aggregation (state keyed by (window, event_type), bounded by the
  * watermark); sessionization shuffles once on user_id and keeps one small
  * state row per user, dropped on event-time timeout.
  */
object EventStreams {

  /** st01 — tumbling event-time window aggregate with a watermark: the
    * streaming twin of Relational.q20TimeBucket (same day buckets, same
    * decimal-exact sums, so the batch oracle verifies the streaming run).
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 6))).cast("double")
          .as("sum_value"))
      .select(col("w.start").as("day"), col("event_type"), col("n"),
        col("sum_value"))

  final case class Ev(user_id: Long, event_id: Long, ts_us: Long)
  final case class SessionState(lastTsUs: Long, nSessions: Long, nEvents: Long)
  final case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** The ONE session fold every state API runs (st02/st05/st10): events
    * sorted by (event time, id); a gap > gapUs opens a new session.
    * State is one row per user — at cluster scale this is the canonical
    * arbitrary-state shape: shuffle once on user_id, state store holds
    * O(active users), not O(events). */
  def foldSession(gapUs: Long, init: SessionState,
      evs: Iterator[Ev]): SessionState = {
    var st = init
    evs.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      val fresh = st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > gapUs
      st = SessionState(e.ts_us, st.nSessions + (if (fresh) 1L else 0L),
        st.nEvents + 1L)
    }
    st
  }

  def updateSessions(gapUs: Long)(
      userId: Long, evs: Iterator[Ev],
      state: GroupState[SessionState]): UserSessions = {
    val st = foldSession(gapUs,
      state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L)), evs)
    state.update(st)
    UserSessions(userId, st.nEvents, st.nSessions)
  }

  /** st02 — stateful sessionization via mapGroupsWithState (30-min gap). */
  def sessionize(events: Dataset[Ev], gapUs: Long = 1800L * 1000000L)
      : Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(updateSessions(gapUs))
  }

  // ---- driver-verified query entries (file stream → runToTable) ----

  private val memId = new AtomicInteger(0)

  /** events.parquet as a *streaming* source; shares sources.Tables' ONE
    * nanos→µs normalization. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.normalizeEventTs(tableStream(spark, dir, "events"))

  /** A driver sf table as a file-stream source. File streams need a
    * DIRECTORY: driver sf dirs hold ONE FILE per table, so the stream
    * reads the parent dir glob-scoped to that file; rehearsal corpora
    * shard each table as a directory of part files (the shape a real
    * 100 TB table has), which streams directly — a glob for the table
    * name there would match nothing and silently stream zero rows. */
  private def tableStream(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    val tablePath = s"$dir/$table.parquet"
    val schema = graft.sources.Tables.schemaOf(spark, tablePath)
    if (new java.io.File(tablePath).isDirectory)
      spark.readStream.schema(schema).parquet(tablePath)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** A staged replay: its dir, its part files in admission order and the
    * rows of each. */
  private[graft] final case class Staged(dir: String,
      files: Seq[java.io.File], rows: Seq[Long]) {
    def rowsPerFile: Long = rows.sum / rows.size
  }

  /** Staged replays by key, built once per JVM: bench reps re-measure the
    * stream, not the fixture write. */
  private[graft] val replays =
    new java.util.concurrent.ConcurrentHashMap[String, Staged]

  /** One replay wave: writes its part files into the staging dir. */
  private[graft] type Wave = String => Unit

  /** A wave appending `df`, one part file per partition. */
  private[graft] def written(df: DataFrame): Wave =
    df.write.mode("append").parquet(_)

  /** `df` range-partitioned on `by` into one part per ~`rowsPerChunk`
    * rows (2 to `maxChunks` parts): part i holds only keys at or below
    * part i+1's. */
  private def inRanges(df: DataFrame, by: String, rowsPerChunk: Long,
      maxChunks: Long): DataFrame = {
    val n = math.max(2L, math.min(maxChunks, df.count() / rowsPerChunk + 1L))
    df.repartitionByRange(n.toInt, col(by))
  }

  /** THE admission order of every finite replay. A file stream admits
    * files in mtime order, so the `waves` are staged once per `key` per
    * JVM into one pinned dir, each wave's part files after the previous
    * wave's, and every part file is stamped with strictly increasing
    * mtimes in (wave, part-name) order; its rows are recorded from the
    * parquet footer. The stream admits `ceil(files / triggerCap)` files
    * per trigger — one unless the trigger count is capped — so every row
    * of file i arrives no later than any row of file i+1. */
  private[graft] def replay(spark: SparkSession, key: String,
      triggerCap: Int = Int.MaxValue)(waves: => Seq[Wave]): DataFrame = {
    val staged = replays.computeIfAbsent(key, { _ =>
      val out = graft.Scratch.pinnedDir("replay_") + "/parts"
      val files = waves.foldLeft(Vector.empty[java.io.File]) { (done, wave) =>
        wave(out)
        done ++ Option(new java.io.File(out).listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith("part-") && !done.contains(f))
          .sortBy(_.getName)
      }
      files.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1000L * (i + 1)): Unit }
      val conf = spark.sparkContext.hadoopConfiguration
      Staged(out, files, files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI), conf))
        try r.getRecordCount finally r.close()
      })
    })
    val perTrigger =
      math.max(1, math.ceil(staged.files.size.toDouble / triggerCap).toInt)
    spark.readStream.schema(graft.sources.Tables.schemaOf(spark, staged.dir))
      .option("maxFilesPerTrigger", perTrigger.toString).parquet(staged.dir)
  }

  /** The PRODUCTION arrival shape for stream-stream joins: events staged
    * as ts-range chunk files and streamed one file per trigger, so the
    * watermark advances BETWEEN micro-batches and evicts join state. A
    * real stream delivers time-ordered bounded batches (Kafka offsets,
    * the reference's provider pages); the single-file rehearsal source
    * instead lands the whole corpus in ONE batch — nothing ever evicts,
    * and every input row probes its key's ENTIRE history. That
    * per-key-quadratic state scan measured 246 s for st04 at sf10 (the
    * time-extended corpus grows per-user history with SF); chunking
    * divides the quadratic by the chunk count. Range staging guarantees
    * every chunk-i row precedes every chunk-i+1 row, so nothing is ever
    * late: the emitted set equals the single-batch answer and the
    * st04/st19 batch oracles hold unchanged.
    *
    * `triggerCap` bounds the NUMBER of micro-batches, not the chunking:
    * the staged files are shared (one repartition pass serves every
    * chunked twin), and a query whose per-key state is O(1) — the
    * funnel's K longs, the transition matrix's one string — gains
    * nothing from fine admission while paying the ~1 s scheduling floor
    * per trigger (64 chunks at sf100 = a 64 s floor, the whole
    * stream-vs-batch gap). Admitting k consecutive ts-range files per
    * trigger preserves global event-time order across triggers, so the
    * incremental folds stay exactly batch-equal.
    */
  private[graft] def eventsStreamChunked(spark: SparkSession, dir: String,
      triggerCap: Int = Int.MaxValue): DataFrame =
    // chunk size trades per-trigger fixed cost (planning, 2 source reads,
    // state commit) against in-batch state growth; with the bucketed
    // equi-key the probe cost is bucket-local, so chunks are sized for
    // state MEMORY (~2M rows/side), not probe fan-out
    replay(spark, s"$dir#chunks", triggerCap)(Seq(written(inRanges(
      graft.sources.Tables(spark, dir).events, "ts", 2000000L, 64L))))

  /** eventsStreamChunked plus one trailing SENTINEL file — a single row
    * with user_id = -1 and ts = max(ts) + 4 h, admitted last. When it
    * arrives, the watermark advances past every real event, so
    * append-mode stateful operators flush and evict their entire
    * remaining state (the punctuation/flush-marker pattern every
    * finite-replay streaming harness needs; a real deployment's
    * watermark advances the same way because ingestion never stops).
    * The chunk files are HARDLINKED from the shared staging — one
    * repartition pass serves st04/st19/st09, and a link shares its
    * file's mtime — and the sentinel lives only in this replay, so join
    * queries never see it. */
  private[graft] def eventsStreamChunkedFlushed(spark: SparkSession,
      dir: String): DataFrame = {
    eventsStreamChunked(spark, dir) // ensure the shared staging exists
    replay(spark, s"$dir#flushed")(Seq(
      out => {
        new java.io.File(out).mkdirs()
        replays.get(s"$dir#chunks").files.foreach(f =>
          java.nio.file.Files.createLink(
            new java.io.File(out, f.getName).toPath, f.toPath): Unit)
      },
      written(graft.sources.Tables(spark, dir).events
        .orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr("INTERVAL 4 HOURS"))
        .withColumn("user_id", lit(-1L)).coalesce(1))))
  }

  /** Where [[runToTable]] puts a stream's rows. */
  sealed trait Sink
  object Sink {
    /** Aggregate-sized output (one row per group, or st18's few windows)
      * held on the driver and read back as a `graft_stream_` temp view;
      * `mode` is the output mode. */
    final case class Memory(mode: String) extends Sink
    /** Fact-scale append output: a parquet FileStreamSink, read back
      * through its commit log. */
    case object Files extends Sink
    /** A per-micro-batch `body` that writes its own output, and the
      * `read` of what it wrote. A `checkpoint` dir makes a later run over
      * the same dir resume from the committed offsets. */
    final case class Batches(body: (DataFrame, Long) => Unit,
        read: () => DataFrame, checkpoint: Option[String] = None)
        extends Sink
  }

  /** State-store count for a stateful memory/file stream. Every stateful
    * operator instantiates one state store per shuffle partition per
    * micro-batch, so the batch-side width (sized for data-proportional
    * shuffles) buys pure fixed overhead here: 8 stores fit
    * watermark-bounded state (most st queries; st22's 2-group aggregate
    * measured addBatch ~650-1000 ms/batch at the session's 32 partitions
    * vs ~250-330 ms at 8, sf0.1). Operators whose in-flight state is
    * corpus-proportional (st09 holds every open session of the current
    * arrival chunk — millions at sf10) pass `stateRows`, their per-batch
    * state bound (the staged chunk row count): one store per ~50k state
    * rows, floored at 8 and CAPPED at 64 — every store pays a
    * commit/maintenance cost per micro-batch, so a count not backed by
    * data volume multiplies pure overhead by the trigger count (measured
    * sf100: st09 473 s at the suite's 256 partitions vs 216 s at 64;
    * sf0.1: 32 inherited stores cost ~0.5 s of commit overhead per batch
    * on 50k-row chunks where 8 suffice; sf10: 39 s at 8 stores → 29 s at
    * 32 — both directions lose, so the count scales with state volume,
    * not with the core count or the batch shuffle sizing). Spark pins a
    * query's state partitioning at its first start, so at 100 TB this is
    * a per-pipeline capacity choice, like the reference sizing its
    * provider buffers. */
  private def statePartitions(stateRows: Long): String =
    math.min(64L, math.max(8L, stateRows / 50000L)).toString

  private val RocksDbProvider =
    "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The one stream runner: run `df` to completion over its (finite)
    * source with `Trigger.AvailableNow`, hand the finished query to
    * `check`, and read the result back from `sink`. Append mode holds the
    * last watermark window open unless the source ends with a flush
    * sentinel (eventsStreamChunkedFlushed) — the scale-correct pairing
    * for operators whose complete-mode state would grow with the corpus.
    *
    * SINK CHOICE IS A SCALE CONTRACT: append-mode outputs are fact-scale
    * (every join match, every finalized session, every enriched event),
    * so they land in [[Sink.Files]] — the shape a production stream
    * writes. A memory sink would accumulate the whole corpus-sized answer
    * on the driver heap: at sf10 st09's 9.5M finalized sessions OOM'd the
    * driver-parity 8 GB suite JVM exactly there. Complete/update outputs
    * are aggregate-sized, which is what [[Sink.Memory]] is for — and the
    * file sink can't express their retractions anyway.
    *
    * STATE CONFS ARE START-SCOPED: a memory/file stream gets
    * [[statePartitions]] as its shuffle width, and `rocksDb` swaps in the
    * RocksDB state store (st05 by choice; st10 because transformWithState
    * requires it). Both are set on the caller's session only across
    * `start()`: the StreamExecution constructor clones the session for
    * the stream, so every batch plans under the clone and never reads the
    * caller's conf, which is restored as soon as `start()` returns. The
    * stream stays on the caller's session so its StreamingQueryListeners
    * see it.
    * [[Sink.Batches]] streams get no sizing: their bodies run batch
    * queries in the clone, sized for data (st20's as-of join, st12's
    * anti-join), and st08's dedup state keeps the session width.
    *
    * STATE IS RUN-SCOPED: when the run ends, successfully or not, its
    * state-store providers are unloaded and closed
    * ([[org.apache.spark.sql.graft.Interop.releaseStateStores]]), so a
    * finished stream keeps nothing on the heap; a later run over the same
    * checkpoint reloads its state from the checkpoint files.
    */
  private[graft] def runToTable(df: DataFrame, sink: Sink,
      stateRows: Long = 0L, rocksDb: Boolean = false,
      check: StreamingQuery => Unit = _ => ()): DataFrame = {
    val spark = df.sparkSession
    val (writer, read) = sink match {
      case Sink.Memory(mode) =>
        val name = s"graft_stream_${memId.incrementAndGet()}"
        (df.writeStream.format("memory").queryName(name).outputMode(mode),
          () => spark.table(name))
      case Sink.Files =>
        val root = graft.Scratch.dir("stout_")
        (df.writeStream.format("parquet").option("path", s"$root/data")
          .option("checkpointLocation", s"$root/ckpt").outputMode("append"),
          // explicit schema: an all-filtered run leaves only the metadata
          // log, where schema inference has nothing to read
          () => spark.read.schema(df.schema).parquet(s"$root/data"))
      case Sink.Batches(body, read, checkpoint) =>
        val w = df.writeStream.foreachBatch(body)
        (checkpoint.fold(w)(w.option("checkpointLocation", _)), read)
    }
    val confs = (sink match {
      case _: Sink.Batches => Nil
      case _ => Seq("spark.sql.shuffle.partitions" -> statePartitions(stateRows))
    }) ++ (if (rocksDb) Seq(RocksDbProvider) else Nil)
    // what the caller set itself; getOption would also report defaults
    val prev = confs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val q = try writer.trigger(Trigger.AvailableNow()).start()
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    try { q.awaitTermination(); check(q) }
    finally org.apache.spark.sql.graft.Interop.releaseStateStores(q)
    read()
  }

  def st01StreamWindow(spark: SparkSession, dir: String): DataFrame =
    runToTable(windowedAgg(eventsStream(spark, dir)), Sink.Memory("complete"))
      .orderBy(col("day"), col("event_type"))

  /** st03 — the reference's whole ingest architecture in one operator:
    * stream batches in, fold each micro-batch through the pipeline into a
    * parquet sink via foreachBatch (cherry's provider loop → transform →
    * ClickHouse insert). The db.py MAX+1 resume point is computed ONCE at
    * stream start — re-reading it per micro-batch would silently DROP any
    * later batch whose keys sort below an earlier batch's max (file/batch
    * order is not key order). Within a run, exactly-once comes from each
    * event living in exactly one micro-batch; across runs, from the
    * resume filter. The oracle is the one-shot batch answer.
    */
  def st03StreamSink(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Incremental
    val sink = graft.Scratch.dir("st03_") + "/sink"
    val pipe = Incremental.Pipeline(Seq(
      Incremental.Step("project", _.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))),
      Incremental.Step("boost", _.withColumn("boosted", col("value") * 2.0)
        .drop("value"))))
    val start = Incremental.nextStart(spark, sink, "event_id")
    val events = eventsStream(spark, dir)
    runToTable(events, Sink.Batches(
      (batch, _) => pipe.run(batch.filter(col("event_id") >= start))
        .write.mode("append").parquet(sink),
      () => spark.read.schema(pipe.run(events).schema).parquet(sink)))
      .sortWithinPartitions(col("event_id"))
  }

  def st02StreamState(spark: SparkSession, dir: String): DataFrame =
    sessionState(spark, dir, rocksDb = false)

  private def sessionState(spark: SparkSession, dir: String,
      rocksDb: Boolean): DataFrame =
    finalSessions(runToTable(sessionize(typedEvents(spark, dir)).toDF(),
      Sink.Memory("update"), rocksDb = rocksDb))

  /** st04 — stream-stream interval join: the streaming form of the swap→
    * transfer match (orca_swaps adjacency): each click pairs with the same
    * user's purchases in the following hour. Both sides are watermarked so
    * the join state is bounded — Spark buffers only rows inside the
    * watermark horizon, the 100 TB-rate requirement for any stream-stream
    * join. Inner matches emit as they arrive; the oracle is the batch
    * self-join with the identical predicate.
    *
    * BUCKETED equi-key: Spark's symmetric-hash join state is probed by
    * exact key, so keying on user alone makes every arriving purchase
    * scan the user's whole in-state click history — per-key-quadratic in
    * batch span (measured 71 s at sf10 even after chunked arrival). The
    * hour-bucket joins the key instead: 0 ≤ p_ts − c_ts ≤ 1 h means
    * bucket(p_ts) − bucket(c_ts) ∈ {0, 1}, so each purchase enters state
    * under BOTH its own bucket and the previous one, and a pair meets
    * under exactly ONE key (the click's bucket) — emitted once, probes
    * scan one (user, hour) cell, work linear in matches at any scale.
    * The PURCHASE side carries the duplication: the buffered inner side
    * of an outer join never null-extends, which is what keeps the same
    * shape correct for st19.
    */
  def st04StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStreamChunked(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"),
        floor(unix_timestamp(col("ts")) / 3600L).as("c_bucket"))
      .withWatermark("c_ts", "2 hours")
    val purchases = eventsStreamChunked(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withColumn("p_bucket", explode(array(
        floor(unix_timestamp(col("p_ts")) / 3600L),
        floor(unix_timestamp(col("p_ts")) / 3600L) - 1L)))
      .withWatermark("p_ts", "2 hours")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("c_bucket") === col("p_bucket") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("c_ts"), col("p_ts"))
    // fact-scale output (every click-purchase match): part-sorted per
    // the global-sort-tax convention — the compare is order-insensitive
    runToTable(joined, Sink.Files)
      .sortWithinPartitions(col("user_id"), col("click_id"),
        col("purchase_id"))
  }

  /** st19 — stream-stream LEFT OUTER join (st04's inner join plus the
    * null-extension contract): a click with no purchase in its hour can
    * only emit once the watermark proves no match can still arrive —
    * Spark holds the left row in state until the watermark passes its
    * maximum match time (c_ts + 1 h against the event-time bound), then
    * emits it null-extended. Matches emit as they meet; unmatched
    * clicks whose horizon the FINAL watermark (max ts − 30 min, after
    * the AvailableNow no-data batch) has not passed stay in state and
    * never emit — the oracle mirrors exactly that split, so both the
    * inner rows and the emit-or-hold rule for outer rows are what
    * hashes.
    */
  def st19StreamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    // st04's bucketed equi-key, outer-safe by construction: clicks stay
    // single-copy (each null-extends at most once when the watermark
    // passes its horizon), purchases carry the two-bucket duplication
    // (buffered inner-side rows never emit unmatched), and a matched
    // pair still meets under exactly one bucket key.
    val clicks = eventsStreamChunked(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"),
        floor(unix_timestamp(col("ts")) / 3600L).as("c_bucket"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = eventsStreamChunked(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withColumn("p_bucket", explode(array(
        floor(unix_timestamp(col("p_ts")) / 3600L),
        floor(unix_timestamp(col("p_ts")) / 3600L) - 1L)))
      .withWatermark("p_ts", "30 minutes")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("c_bucket") === col("p_bucket") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"))
    // fact-scale output: part-sorted (see st04)
    runToTable(joined, Sink.Files)
      .sortWithinPartitions(col("user_id"), col("click_id"),
        col("purchase_id"))
  }

  /** st20 — the CUSTOM PHYSICAL OPERATOR under streaming: each
    * micro-batch runs the native as-of join (AsOfJoinExec — custom
    * LogicalPlan + Strategy + merge-scan SparkPlan) against a static,
    * once-checkpointed dimension inside foreachBatch. Per-row matches
    * depend only on the static side, so the result is independent of
    * micro-batch splits, and the query shares q21/q23's batch oracle
    * VERBATIM — the strongest statement that the operator is a real
    * engine citizen, not a batch-only trick. This is swap_prices'
    * trailing price match running in the reference's continuous ingest
    * loop.
    */
  def st20StreamAsof(spark: SparkSession, dir: String): DataFrame = {
    // st13's marker-after-data sink: a retried micro-batch overwrites its
    // own directory instead of double-appending — the as-of enrichment
    // inherits exactly-once under at-least-once delivery for free
    val sink = IdempotentSink(graft.Scratch.dir("st20_") + "/sink")
    val ord = graft.sources.Tables(spark, dir).orders
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"),
        col("o_orderkey"))
      .localCheckpoint(true) // computed once, reused every micro-batch
    try {
      runToTable(eventsStream(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts")), Sink.Batches(
        (batch, id) => sink.writeBatch(
          graft.plans.AsOf.join(
            batch.withColumn("ts_us", unix_micros(col("ts"))), ord,
            leftKey = "user_id", leftTime = "ts_us",
            rightKey = "o_custkey", rightTime = "o_us",
            rightTie = "o_orderkey")
            .select(col("user_id"), col("event_id"), col("ts"),
              col("o_orderkey").as("asof_orderkey")), id),
        () => sink.read(spark)))
        .sortWithinPartitions(col("user_id"), col("event_id"))
    } finally ord.unpersist()
  }

  /** Oracles are plain batch SQL over the same table — valid because the
    * streaming run drains the finite source, so its final state equals the
    * batch answer (exactly the resume invariant the reference's incremental
    * loop relies on).
    */
  /** st05 — the same sessionization as st02, but with state in the
    * RocksDB state store provider instead of the default on-heap HDFS
    * store. This is the 100 TB-rate configuration: stateful operators
    * (mapGroupsWithState, stream-stream joins) hold state per key, and at
    * scale that state exceeds executor heap — RocksDB keeps it on local
    * disk with an in-memory working set, changing the state-size ceiling
    * from "fits in heap" to "fits on disk". Identical answer contract:
    * verified against the SAME oracle as st02.
    */
  /** events stream as the typed Ev dataset st02/st10 fold over. */
  private def typedEvents(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Ev] = {
    import spark.implicits._
    eventsStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[Ev]
  }

  /** Update-mode memory sink appends one row per user per micro-batch;
    * keep each user's FINAL state (counts are monotone). */
  private def finalSessions(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("n_sessions"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.n_sessions").as("n_sessions"))
      .orderBy(col("user_id"))

  def st05RocksdbState(spark: SparkSession, dir: String): DataFrame =
    sessionState(spark, dir, rocksDb = true)

  /** The sessionization fold as a Spark-4 `StatefulProcessor`: typed
    * ValueState replaces GroupState, init wires the state handle, and
    * the per-batch fold is IDENTICAL to updateSessions — one contract,
    * three state APIs (st02 mapGroupsWithState, st05 RocksDB store,
    * st10 transformWithState), one oracle. */
  final class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, UserSessions] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserSessions] = {
      val s = foldSession(gapUs,
        if (st.exists()) st.get() else SessionState(Long.MinValue, 0L, 0L),
        rows)
      st.update(s)
      Iterator.single(UserSessions(key, s.nEvents, s.nSessions))
    }
  }

  /** st10 — the current-generation arbitrary-state API:
    * `transformWithState` (Spark 4's successor to mapGroupsWithState,
    * RocksDB-backed by requirement) running the same sessionization.
    */
  def st10TransformWithState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val out = typedEvents(spark, dir).groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(1800L * 1000000L),
        TimeMode.None(), OutputMode.Update())
    finalSessions(runToTable(out.toDF(), Sink.Memory("update"),
      rocksDb = true))
  }

  /** st06 — the reference's ACTUAL sink topology end-to-end: stream in,
    * transform per micro-batch, batched JDBC insert into a live database
    * (cherry's provider loop → transform → ClickHouse insert;
    * erc20_transfers.py:30-50 init_db + writer). st03 proved the
    * streaming fold into parquet; this proves it into the DB engine —
    * table auto-created on the first batch, appends after, every event
    * in exactly one micro-batch. Read-back over JDBC is the query
    * result, so the oracle certifies the whole write→read path
    * (DDL inference, batched insert, type mapping) under streaming.
    */
  def st06StreamJdbc(spark: SparkSession, dir: String): DataFrame = {
    val db = graft.Scratch.dir("st06_") + "/db"
    val sink = graft.sinks.Writers.JdbcSink(
      s"jdbc:derby:$db;create=true", "EVENTS_BOOSTED", numPartitions = 1,
      scratchDurability = true)
    // a deterministic 10% slice: the operator under test is the streaming
    // fold into a DB, and the DB's single-threaded insert path would
    // otherwise dominate the bench with time that isn't Spark's
    runToTable(eventsStream(spark, dir)
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      Sink.Batches(
        (batch, _) => sink.write(batch.withColumn("boosted", col("value") * 2.0)
          .drop("value")),
        () => sink.read(spark)))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("boosted"))
      .sortWithinPartitions(col("event_id"))
  }

  /** st07 — the EVM decode pipeline under streaming: synthesized Transfer
    * logs flow through `EvmAbi.decodeEvent` applied DIRECTLY to the
    * streaming DataFrame (the decode is a pure projection, so the same
    * plan runs batch or stream — the architectural claim of §3, proven
    * here), malformed rows (every 11th, empty data) null out under
    * allow_decode_fail mid-stream, and foreachBatch folds the decoded
    * batches into parquet. Oracle = the batch answer.
    */
  def st07StreamDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{EvmAbi, u256_from_long}
    val sig =
      "Transfer(address indexed from, address indexed to, uint256 amount)"
    val sink = graft.Scratch.dir("st07_") + "/sink"
    val logs = eventsStream(spark, dir)
      .select(col("event_id"),
        unhex(lit(EvmAbi.signatureTopic0Hex(sig))).as("topic0"),
        u256_from_long(col("user_id")).as("topic1"),
        u256_from_long(col("user_id") + 1000).as("topic2"),
        when(pmod(col("event_id"), lit(11)) === 0, lit(Array.emptyByteArray))
          .otherwise(u256_from_long(floor(col("value") * 100).cast("long")))
          .as("data"))
    val decoded = EvmAbi.decodeEvent(logs, sig)
      .select(col("event_id"), col("from").as("from_addr"),
        col("to").as("to_addr"), col("amount").cast("string").as("amount"))
    runToTable(decoded, Sink.Batches(
      (batch, _) => batch.write.mode("append").parquet(sink),
      () => spark.read.schema(decoded.schema).parquet(sink)))
      .sortWithinPartitions(col("event_id"))
  }

  /** st08 — watermarked streaming deduplication: every event arrives
    * TWICE (explode-duplicated mid-stream) and
    * `dropDuplicatesWithinWatermark` must emit each exactly once while
    * the watermark bounds the dedup state — the unbounded-state trap a
    * naive streaming distinct falls into at 100 TB rates. Oracle = the
    * batch distinct.
    */
  def st08StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val sink = graft.Scratch.dir("st08_") + "/sink"
    val doubled = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"),
        explode(array(lit(1), lit(2))).as("copy"))
      .drop("copy")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    runToTable(doubled, Sink.Batches(
      (batch, _) => batch.write.mode("append").parquet(sink),
      () => spark.read.schema(doubled.schema).parquet(sink)))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .sortWithinPartitions(col("event_id"))
  }

  /** st09 — built-in session windows: gap-based sessionization through
    * `session_window` (the declarative twin of st02's hand-rolled
    * mapGroupsWithState sessions — both exist in the reference's world:
    * provider buffering vs SQL-level sessionization). Session end = last
    * event + gap by definition, mirrored in the oracle's lag/gap
    * cumulative-sum session assignment.
    *
    * APPEND mode over chunked time-ordered arrival, NOT complete mode:
    * complete retains every session ever opened in the state store —
    * 9.5M sessions at sf10, which OOM'd the driver-parity 8 GB heap and
    * is flatly impossible at 100 TB. With append, the watermark
    * advancing between chunk micro-batches finalizes+EVICTS each
    * session, so state is bounded by the watermark horizon regardless of
    * corpus size. A sentinel row staged past max(ts)+gap+delay (the
    * streaming punctuation pattern) pushes the final watermark beyond
    * every real session so the tail flushes; its own user_id = -1 never
    * closes and is invisible to the output. The emitted session SET
    * equals the complete-mode answer — the oracle is unchanged. */
  def st09SessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val sessions = eventsStreamChunkedFlushed(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(sessions, Sink.Files,
      stateRows = replays.get(s"$dir#chunks").rowsPerFile)
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      // fact-scale output (9.5M sessions at sf10): part-sorted
      .sortWithinPartitions(col("user_id"), col("session_start"))
  }

  /** st11 — the t11 stratified sampler running DIRECTLY on a streaming
    * documents source (the st07 architectural claim applied to the LLM
    * ops): the sampling decision is a pure hash projection, so the SAME
    * Column expressions — literally shared objects with batch t11 — run
    * under a stream with no state store, no watermark, no rewrite. A
    * curation pipeline at 100 TB samples its crawl AS IT ARRIVES instead
    * of staging it. The oracle IS t11's oracle: stream and batch must
    * produce the identical sample.
    */
  def st11StreamSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val docs = tableStream(spark, dir, "documents")
    val sampled = docs
      .select(col("doc_id"), col("lang"),
        TextAnalysis.sampleBucket.as("bucket"))
      .filter(col("bucket") <= TextAnalysis.sampleThreshold)
    runToTable(sampled, Sink.Files).sortWithinPartitions(col("doc_id"))
  }

  /** st12 — the curation pipeline under streaming: each micro-batch of
    * arriving documents runs the SAME curateBatch transform p11 uses
    * (sample → quality → contamination anti-join against the STATIC
    * eval-gram table, computed once and reused across batches) and
    * appends survivors to the sink. Contamination is a per-document
    * decision, so batch-local evaluation is EXACT under streaming — no
    * cross-batch state needed; only the corpus-wide dedup stage stays
    * batch-side (it needs global state: st08's watermarked
    * dropDuplicates is the streaming form of that stage). The oracle is
    * the batch pipeline's own SQL minus dedup.
    */
  def st12StreamCuration(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pipelines
    val sink = graft.Scratch.dir("st12_") + "/sink"
    val staticDocs = graft.sources.Tables(spark, dir).documents
    // the density probe runs ONCE against the static table at query
    // build (the p11 pattern) — never per micro-batch, so streaming pays
    // no extra per-trigger job; each batch is a slice of the same corpus,
    // so the corpus-level decision is the right per-batch one too, and
    // both curateBatch paths are output-identical regardless (DupGateSpec)
    val collapse = graft.operators.DupDensity.textGate(staticDocs)
    val evalGrams = Pipelines
      .evalGramsOf(staticDocs, collapse)
      .localCheckpoint(true) // computed ONCE, reused every micro-batch
    def curated(docs: DataFrame) =
      Pipelines.curateBatch(docs, evalGrams, collapse).drop("text")
    runToTable(tableStream(spark, dir, "documents"), Sink.Batches(
      (batch, _) => curated(batch).write.mode("append").parquet(sink),
      // the static table has the stream's schema, so this only analyzes
      () => spark.read.schema(curated(staticDocs).schema).parquet(sink)))
      .select(col("doc_id"), col("lang"), col("bucket"), col("quality"))
      .sortWithinPartitions(col("doc_id"))
  }

  /** Idempotent per-batch committer — the standard Structured-Streaming
    * exactly-once recipe for non-transactional sinks: foreachBatch is
    * AT-LEAST-once (a batch replays after any failure between its
    * delivery and the checkpoint commit), so the sink must make replays
    * no-ops. Data lands in an overwrite-mode batch directory (a partial
    * write from a crashed attempt is simply replaced), and a per-batchId
    * marker file is created strictly AFTER the data — the commit point.
    * A batchId whose marker exists is skipped entirely; readers union
    * only committed directories. The marker holds the batch's schema, so
    * the read-back parses it instead of starting a schema-inference job.
    * Same shape against a ClickHouse sink: the marker becomes a
    * committed-batch-ids table row.
    */
  final case class IdempotentSink(root: String) {
    private def fs(spark: SparkSession) = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def marker(id: Long) =
      new org.apache.hadoop.fs.Path(s"$root/_commits/$id")

    def writeBatch(batch: DataFrame, id: Long): Unit = {
      val f = fs(batch.sparkSession)
      if (!f.exists(marker(id))) {
        batch.write.mode("overwrite").parquet(s"$root/batch_$id")
        val out = f.create(marker(id), true)
        try out.write(batch.schema.json.getBytes("UTF-8")) finally out.close()
      }
    }

    def read(spark: SparkSession): DataFrame = {
      val f = fs(spark)
      val ids = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/_commits"))
        .map(_.getPath.getName.toLong).sorted
      val in = f.open(marker(ids.head))
      val schema = try DataType.fromJson(new String(in.readAllBytes(), "UTF-8"))
        finally in.close()
      spark.read.schema(schema.asInstanceOf[StructType])
        .parquet(ids.map(id => s"$root/batch_$id").toSeq: _*)
    }
  }

  /** st13 — exactly-once under at-least-once delivery: every micro-batch
    * is deliberately delivered TWICE to the sink (the replay foreachBatch
    * produces after a mid-commit failure), and the batch oracle still
    * matches — duplicates would double every row. Complements st03
    * (which relies on each event living in one batch) with the machinery
    * that survives the batch itself being re-delivered.
    */
  def st13IdempotentSink(spark: SparkSession, dir: String): DataFrame = {
    val sink = IdempotentSink(graft.Scratch.dir("st13_"))
    runToTable(eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value")), Sink.Batches(
      { (batch, id) =>
        sink.writeBatch(batch, id)
        sink.writeBatch(batch, id) // simulated post-failure replay
      },
      () => sink.read(spark)))
      .sortWithinPartitions(col("event_id"))
  }

  /** st14 — the reference's FULL production topology composed end to end
    * from parts that are each oracled on their own: provider stream →
    * ABI decode with allow_decode_fail (st07's projection, malformed
    * rows nulling through) → idempotent exactly-once staging under
    * double delivery (st13's marker-after-data committer) →
    * manifest-atomic snapshot publish (k13's CURRENT-pointer machinery)
    * → consumers resolve the published pointer. This entry pins the
    * COMPOSITION: the published snapshot must equal the batch decode of
    * the same source — any duplicate from the double delivery, any torn
    * or unpublished file, or any decode drift breaks the oracle.
    */
  def st14IngestPublish(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{EvmAbi, u256_from_long}
    val sig =
      "Transfer(address indexed from, address indexed to, uint256 amount)"
    val root = graft.Scratch.dir("st14_")
    val staging = IdempotentSink(s"$root/staging")
    val logs = eventsStream(spark, dir)
      .select(col("event_id"),
        unhex(lit(EvmAbi.signatureTopic0Hex(sig))).as("topic0"),
        u256_from_long(col("user_id")).as("topic1"),
        u256_from_long(col("user_id") + 1000).as("topic2"),
        when(pmod(col("event_id"), lit(11)) === 0, lit(Array.emptyByteArray))
          .otherwise(u256_from_long(floor(col("value") * 100).cast("long")))
          .as("data"))
    val decoded = EvmAbi.decodeEvent(logs, sig)
      .select(col("event_id"), col("from").as("from_addr"),
        col("to").as("to_addr"), col("amount").cast("string").as("amount"))
    val staged = runToTable(decoded, Sink.Batches(
      { (batch, id) =>
        staging.writeBatch(batch, id)
        staging.writeBatch(batch, id) // simulated at-least-once replay
      },
      () => staging.read(spark)))
    graft.sinks.Writers.publishVersion(spark, s"$root/table", 1, staged)
    graft.sinks.Writers.readCurrent(spark, s"$root/table")
      .sortWithinPartitions(col("event_id"))
  }

  /** st21 — the typed provider request driving a stream: an
    * `IngestRequest.EvmQuery` (block range, topic0 membership, log
    * field selection — the cherry_core.ingest request shape,
    * erc20_transfers.py:86-116) is applied by the SAME
    * `applyLogRequest` the batch compiler uses, over the streaming
    * events source. The request's range/filter/projection are plain
    * predicates, so every micro-batch's file scan is pruned exactly as
    * the batch plan is (OrchestratorSpec audits the batch twin's
    * PushedFilters/ReadSchema). The oracle is the request semantics in
    * SQL — stream, batch compile, and oracle share one contract.
    */
  def st21TypedIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.IngestRequest._
    val req = EvmQuery(
      range = BlockRange(1000L, Some(5000L)),
      logs = Seq(LogRequest(topic0 = Seq("click", "purchase"))),
      fields = EvmFields(
        log = Seq("event_id", "user_id", "event_type", "value")))
    runToTable(applyLogRequest(eventsStream(spark, dir), req), Sink.Files)
      .sortWithinPartitions(col("event_id"))
  }

  /** st15 — stream-static enrichment join: each arriving event joins a
    * STATIC dimension (here per-user lifetime totals precomputed from the
    * batch table — the token-decimals/pool-metadata shape) and emits its
    * share of the user's total. The static side is planned per
    * micro-batch as a broadcast hash join — no stream state, no
    * watermark, the cheapest join a stream can do and the right one
    * whenever the dim fits an executor (ChainDict, mint decimals, pool
    * registries). The denominator aggregates through DECIMAL so the
    * oracle is exact.
    *
    * THE DIM IS MATERIALIZED (write-then-read parquet) BEFORE THE
    * STREAM STARTS — round 9's fix for the one scale-killer round 8
    * flagged: Spark RE-PLANS the static side of a stream-static join on
    * every trigger, so an unmaterialized aggregation over the fact
    * table re-scanned and re-aggregated the ENTIRE corpus per
    * micro-batch (measured 14.1× on the sf1→sf10 step; at 100 TB the
    * fact IS the corpus). Snapshotting first means each trigger
    * broadcasts a KB–MB parquet table — per-batch cost is now
    * batch-shaped, not corpus-shaped, and the snapshot is exactly the
    * dict-publish discipline the reference's pipelines use (k13).
    */
  def st15StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dimPath = s"${graft.Scratch.dir("st15_dim_")}/user_totals"
    graft.sources.Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast(DecimalType(38, 6))).as("user_total"))
      .write.mode("overwrite").parquet(dimPath)
    val userTotals = spark.read.parquet(dimPath)
    val enriched = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .join(broadcast(userTotals), Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        (col("value") / col("user_total").cast("double")).as("share"))
    // fact-scale output (one row per event): part-sorted
    runToTable(enriched, Sink.Files).sortWithinPartitions(col("event_id"))
  }

  /** st16 — exactly-once across RESTARTS (st13 covers replays within a
    * run; this covers the process dying): the same foreachBatch sink
    * query runs TWICE against one checkpointLocation. The first run
    * drains the source and appends to the sink; the restart recovers the
    * source offsets from the checkpoint, finds nothing new, and appends
    * NOTHING — a sink without checkpoint discipline would re-ingest the
    * whole directory. Oracle = the batch projection: any restart
    * duplication doubles rows and fails it. This is the cherry provider
    * loop's crash-restart contract (resume from committed offsets, not
    * from scratch).
    */
  def st16CheckpointResume(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("st16_")
    val sink = s"$root/sink"
    val events = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    def runOnce(read: () => DataFrame): DataFrame =
      runToTable(events, Sink.Batches(
        (batch, _) => batch.write.mode("append").parquet(sink), read,
        checkpoint = Some(s"$root/chk")))
    // initial run drains the source; only the restart's sink is read
    runOnce(() => spark.emptyDataFrame)
    // recovered offsets ⇒ appends nothing
    runOnce(() => spark.read.schema(events.schema).parquet(sink))
      .sortWithinPartitions(col("event_id"))
  }

  /** st17 — streaming CDC apply: the change feed (update rows for every
    * 3rd event, delete tombstones for every 5th) arrives AS A STREAM,
    * each micro-batch appends to the k18 delta log (O(changes) per
    * trigger — no table rewrite inside the hot loop), and the final
    * state resolves through the SAME mergeOnReadView k18 uses. Batch
    * and stream implement one contract and share one oracle: the
    * update-then-delete (15-multiples) and update-only paths must land
    * identically however the source splits into micro-batches, because
    * resolution is by version, not arrival order. The delta log goes
    * through st13's IdempotentSink (marker-after-data committer) and
    * every batch is deliberately delivered twice — exactly-once is
    * structural, not an accident of bit-identical duplicates winning
    * the same window slot.
    */
  def st17StreamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("st17_")
    val base = s"$root/base"
    val deltaLog = IdempotentSink(s"$root/deltas")
    val baseRows = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    baseRows.write.parquet(base)
    val s = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val upd = s.filter(pmod(col("event_id"), lit(3)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("version", lit(2L))
      .withColumn("__deleted", lit(false))
    val del = s.filter(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("version", lit(3L))
      .withColumn("__deleted", lit(true))
    val deltas = runToTable(upd.unionByName(del), Sink.Batches(
      { (batch, id) =>
        deltaLog.writeBatch(batch, id)
        deltaLog.writeBatch(batch, id) // simulated post-failure replay
      },
      () => deltaLog.read(spark), checkpoint = Some(s"$root/chk")))
    graft.sinks.Writers.mergeOnReadView(
      spark.read.schema(baseRows.schema).parquet(base), deltas,
      Seq("event_id"), "version")
      .sortWithinPartitions(col("event_id"))
  }

  /** st18 — the WATERMARK contract under genuinely LATE data, append
    * mode (st01 watermarks but nothing arrives late; here lateness is
    * staged). Three arrival waves of a [[replay]], each file its own
    * micro-batch: the old on-time bulk, the frontier (its watermark
    * finalizes and EVICTS the old windows at batch end), then old
    * stragglers (every 10th old event) arriving after their windows
    * were finalized. Spark-4.1's measured contract,
    * which the oracle mirrors exactly: a late row is dropped iff its
    * window was already evicted (window end ≤ the watermark that drove
    * the last eviction, here max(old on-time ts) − 30 min); a late row
    * whose window is still open merges into state; and the emitted table
    * is exactly the windows the FINAL watermark (max ts − 30 min)
    * passed. Drops are additionally asserted from the engine's own
    * StreamingQueryProgress.numRowsDroppedByWatermark counter — this
    * query fails if nothing was actually late. (Update-mode aggregation
    * does NOT filter late input while state exists — append is the mode
    * that enforces lateness, so it's the one this operator uses.)
    */
  def st18LateData(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val cut = lit("2024-01-25") // the staged "now" between bulk and frontier
    val isOld = col("ts") < cut
    val isLate = isOld && pmod(col("event_id"), lit(10)) === 0
    // three arrival waves: the old on-time bulk, the frontier (advances
    // the watermark and finalizes the old windows), then the stragglers
    // — which now face finalized windows. The bulk wave is RANGE-
    // partitioned on ts into a few files (part-0000N is the N-th ts
    // range): the write parallelizes across tasks, and because each
    // later bulk micro-batch holds only LATER timestamps, the advancing
    // watermark can never drop an on-time bulk row (randomly-split bulk
    // files would — rows older than a previous batch's max(ts)−delay die).
    val s = replay(spark, s"$dir#st18")(Seq(
      written(ev.filter(isOld && pmod(col("event_id"), lit(10)) =!= 0)
        .repartitionByRange(4, col("ts"))),
      written(ev.filter(!isOld).coalesce(1)),
      written(ev.filter(isLate).coalesce(1))))
    val agg = s.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double").as("sum_v"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_v"))
    runToTable(agg, Sink.Memory("append"), check = { q =>
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      require(dropped > 0,
        "the stragglers must actually be dropped by the watermark, " +
          s"got numRowsDroppedByWatermark=$dropped")
    }).orderBy(col("window_start"), col("event_type"))
  }

  final case class PackDoc(doc_id: Long, bucket: Long, cost: Long)
  final case class PackState(seq: Long, rem: Long)
  final case class PackAssign(doc_id: Long, bucket: Long, pack_seq: Long,
    n_tokens: Long)

  /** st23 — streaming sequence packing: c02's greedy first-fit packer as
    * an INCREMENTAL stream — the shape a continuous curation pipeline
    * needs, where documents keep arriving and every batch must extend
    * the already-published packs instead of repacking the corpus. State
    * per bucket is two longs (open pack seq + remaining room): O(buckets),
    * corpus-independent — contrast st09, whose in-flight state is
    * corpus-proportional. Arrival order is the packer's contract: a
    * [[replay]] of doc_id-range chunks, so chunk i's docs all precede
    * chunk i+1's, and the per-batch group iterator sorts its own slice —
    * exactly the replayable order a Kafka-partition-per-bucket feed
    * gives. The emitted assignment set is IDENTICAL to the batch
    * packer's, so c02's recursive-CTE oracle verifies the stream run.
    */
  def st23StreamPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val src = replay(spark, s"$dir#pack")(Seq(written(inRanges(
      Corpus.packInput(spark, dir), "doc_id", 250000L, 16L))))
      .as[PackDoc]
    val assigned = src.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (bucket: Long, docs: Iterator[PackDoc],
         state: GroupState[PackState]) =>
          var st = state.getOption.getOrElse(PackState(-1L, 0L))
          val outRows = docs.toIndexedSeq.sortBy(_.doc_id).map { d =>
            st = if (d.cost <= st.rem) PackState(st.seq, st.rem - d.cost)
                 else PackState(st.seq + 1L, Corpus.T - d.cost)
            PackAssign(d.doc_id, bucket, st.seq, d.cost - 1L)
          }
          state.update(st)
          outRows.iterator
      }
    runToTable(assigned.toDF(), Sink.Files)
      .sortWithinPartitions(col("doc_id"))
  }

  final case class LenDoc(doc_id: Long, cost: Long, pad_len: Long,
    capacity: Long)
  final case class LenAssign(doc_id: Long, pad_len: Long, n_tokens: Long,
    batch_seq: Long, waste: Long)

  /** st28 — streaming length-bucketed batching: c11's
    * padding-minimizing fine-tuning batcher as an INCREMENTAL stream —
    * documents keep arriving and every micro-batch EXTENDS the already-
    * emitted batches instead of re-ranking the corpus. State per
    * octave is ONE LONG (docs seen so far in that pad bucket):
    * O(#octaves) ≈ 50 longs total at any corpus size, the minimal-
    * state end of the packer ladder (st23 keeps two longs per bucket,
    * this keeps one per octave). Cost/octave/capacity derive from the
    * SHARED c11Input definition, arrival order is st23's doc_id-range
    * [[replay]], and the closed-form assignment ((seen − 1) div capacity) is exactly the
    * batch packer's — so c11's naive-window oracle verifies the stream
    * run verbatim. */
  def st28StreamLengthBatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val src = replay(spark, s"$dir#lenb")(Seq(written(inRanges(
      Corpus.c11Input(spark, dir), "doc_id", 250000L, 16L))))
      .as[LenDoc]
    val assigned = src.groupByKey(_.pad_len)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (pad: Long, docs: Iterator[LenDoc],
         state: GroupState[Long]) =>
          var seen = state.getOption.getOrElse(0L)
          val outRows = docs.toIndexedSeq.sortBy(_.doc_id).map { d =>
            seen += 1L
            LenAssign(d.doc_id, pad, d.cost,
              (seen - 1L) / d.capacity, pad - d.cost)
          }
          state.update(seen)
          outRows.iterator
      }
    runToTable(assigned.toDF(), Sink.Files)
      .sortWithinPartitions(col("doc_id"))
  }

  /** st24 — the streaming tip-follow twin of k28's sketch rollup: a
    * per-day HLL sketch aggregation over the event stream. The state
    * per group is ONE mergeable sketch (KBs) that each micro-batch
    * unions into — the shape a continuous metrics pipeline keeps live
    * distinct counts with, and the same bytes k28's batch rollup
    * persists. Complete mode: the output is aggregate-sized (one row
    * per day), exactly the memory-sink contract. The gated check is
    * k28's tolerance band against exact per-day distincts, computed
    * batch-side as the audit. */
  def st24StreamSketch(spark: SparkSession, dir: String): DataFrame = {
    val sketched = runToTable(
      eventsStream(spark, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))")
          .as("est"),
          count(lit(1)).as("n_events")),
      Sink.Memory("complete"))
    val exact = graft.sources.Tables(spark, dir).events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    sketched.join(exact, "day")
      .select(col("day"), col("n_events"), col("exact_users"),
        (abs(col("est") - col("exact_users")).cast("double") <=
          col("exact_users").cast("double") * 0.05).as("est_ok"))
      .orderBy(col("day"))
  }

  /** st26 — the streaming twin of q44's windowed funnel, over
    * [[Funnel.chain3]]; see [[funnelStream]]. */
  def st26StreamFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelStream(spark, dir, Funnel.chain3)

  /** st29 — the streaming twin of q48's K-STEP funnel, over q48's
    * five-step chain; see [[funnelStream]]. */
  def st29StreamFunnelK(spark: SparkSession, dir: String): DataFrame =
    funnelStream(spark, dir, graft.operators.Relational.chain5)

  /** The streaming windowed funnel, parameterised by chain like the
    * batch `Relational.funnelChain`: per-user funnel state live at the
    * tip. State per user is K LONGS (the greedy max-first times, stored
    * as a Seq[Long] so one state encoding serves every K), advanced per
    * micro-batch by the same [[Funnel.foldFunnelK]] kernel the batch
    * fold runs. The ts-range-ordered chunk staging guarantees events
    * arrive in global event-time order across micro-batches, so the
    * incremental fold lands exactly on the batch answer (q44's and
    * q48's oracles verify the stream runs verbatim). Level is monotone,
    * so the update-mode sink finalizes with MAX per user. The state
    * stays O(K) per user however hot the user — the point of the greedy
    * dominance argument at 100 TB. */
  private def funnelStream(spark: SparkSession, dir: String,
      chain: Seq[String]): DataFrame = {
    import spark.implicits._
    val levelOf = chain.zipWithIndex.toMap
    val wUs = 24L * 3600 * 1000000
    // O(K)-state twin: cap the trigger count (files admitted per
    // trigger grow with SF instead) — the per-trigger scheduling floor
    // was 2.5x the batch twin at sf100
    val evs = eventsStreamChunked(spark, dir, triggerCap = 8)
      .filter(col("event_type").isin(chain: _*))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type").as("y"))
      .as[FEv]
    val updated = evs.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FEv], state: GroupState[Seq[Long]]) =>
          val st = Funnel.foldFunnelK(wUs, levelOf,
            state.getOption.map(_.toArray)
              .getOrElse(Funnel.unreachedK(chain.length)),
            it)
          state.update(st.toSeq)
          Funnel.UserFunnel(uid, Funnel.levelK(st))
      }
    val levels = runToTable(updated.toDF(), Sink.Memory("update"))
      .groupBy(col("user_id")).agg(max(col("funnel_level")).as("lvl"))
    // q44's output contract, one definition — level-0 backfill included
    graft.operators.Relational.funnelAllUsers(spark, dir, levels)
  }

  final case class TransDelta(user_id: Long, from_type: String,
    to_type: String, n: Long)

  /** st27 — the streaming twin of q46's path-transition matrix: the
    * per-user state is ONE STRING (the chronologically-last event
    * type), each micro-batch emits its DELTA of (from, to) pair counts
    * — including the boundary pair formed by the stored last type and
    * the batch's first event — and the batch-side sum + normalization
    * is q46's shared transitionMatrix contract. ts-range-ordered chunk
    * arrival makes the incremental pairing exactly the batch LAG, so
    * q46's oracle verifies the stream run verbatim. The minimal-state
    * extreme of the stateful-twin ladder: st02 keeps three counters,
    * the st26/st29 funnel K longs (3 and 5), st27 one enum-valued
    * string per user. */
  def st27StreamTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // O(1)-state twin: trigger count capped like the funnel streams
    val evs = eventsStreamChunked(spark, dir, triggerCap = 8)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type").as("y"))
      .as[FEv]
    val deltas = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FEv],
         state: org.apache.spark.sql.streaming.GroupState[String]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
          val types = state.getOption.toSeq ++ sorted.map(_.y)
          if (sorted.nonEmpty) state.update(sorted.last.y)
          types.sliding(2).collect { case Seq(a, b) => (a, b) }
            .toSeq.groupBy(identity).map { case ((a, b), g) =>
              TransDelta(uid, a, b, g.size.toLong)
            }.iterator
      }
    graft.operators.Relational.transitionMatrix(
      runToTable(deltas.toDF(), Sink.Memory("update"))
        .groupBy(col("from_type"), col("to_type"))
        .agg(sum(col("n")).as("n")))
  }

  /** st25 — the streaming tip-follow twin of k29's quantile rollup: a
    * live per-day integer log-binned histogram over the event stream.
    * The state per day is the histogram itself (a few hundred (bin,
    * count) rows — value-domain-bounded, never event-bounded), each
    * micro-batch folds counts in, and quantiles derive from the merged
    * cumulatives with k29's integer arithmetic. Because the whole
    * sketch is integer-exact and merge-order-free, the streamed
    * quantiles equal the batch quantiles EXACTLY — so unlike st24's
    * tolerance band, this one carries a full-value oracle. */
  def st25StreamQuantile(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Writers.{binIdSql, binLbSql, histQuantiles, k29Cents}
    val hist = runToTable(
      eventsStream(spark, dir)
        .select(date_trunc("day", col("ts")).as("day"),
          expr(k29Cents).as("v1"))
        .select(col("day"), expr(binIdSql("v1")).as("bin_id"))
        .groupBy(col("day"), col("bin_id"))
        .agg(count(lit(1)).as("cnt")),
      Sink.Memory("complete"))
    histQuantiles(hist) // k29's selection, one definition — no drift
      .select(col("day"), col("n_events"),
        expr(binLbSql("b50")).as("p50_cents"),
        expr(binLbSql("b95")).as("p95_cents"),
        expr(binLbSql("b99")).as("p99_cents"))
      .orderBy(col("day"))
  }

  private val sessionizeOracle =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(1 + COALESCE(SUM(CASE WHEN prev IS NOT NULL
      |        AND us - prev > 1800000000 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_sessions
      |FROM (SELECT user_id, epoch_us(ts) AS us,
      |        LAG(epoch_us(ts)) OVER (
      |          PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |      FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The plain event projection: st08's dedup and st13's idempotent sink
    * must both land on it. */
  private val projectionOracle =
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** The decoded Transfer logs st07 emits, and st14 through its sink. */
  private val decodeOracle =
    """SELECT event_id,
      |  CASE WHEN event_id % 11 <> 0 THEN printf('%040x', user_id) END
      |    AS from_addr,
      |  CASE WHEN event_id % 11 <> 0 THEN printf('%040x', user_id + 1000)
      |    END AS to_addr,
      |  CASE WHEN event_id % 11 <> 0 THEN
      |    CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR)
      |  END AS amount
      |FROM events ORDER BY event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // st13: double-delivered batches must still equal the plain batch
    // projection — any non-idempotence doubles rows and fails the compare
    "st13_idempotent_sink" -> projectionOracle,
    // st18: a straggler counts iff its window outlived the frontier
    // batch's eviction (end > wm1); emitted windows are those the final
    // watermark passed (end ≤ wm2) — the engine's measured late-data
    // contract, recomputed relationally
    "st18_late_data" ->
      """WITH wm1 AS (
        |  SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events
        |  WHERE ts < TIMESTAMP '2024-01-25' AND event_id % 10 <> 0),
        |wm2 AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events),
        |keep AS (
        |  SELECT * FROM events
        |  WHERE NOT (ts < TIMESTAMP '2024-01-25' AND event_id % 10 = 0)
        |     OR date_trunc('hour', ts) + INTERVAL 1 HOUR
        |        > (SELECT w FROM wm1))
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_v
        |FROM keep
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
        |      <= (SELECT w FROM wm2)
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    // st17: the streaming CDC apply must land exactly where k18's batch
    // merge-on-read lands — same contract, LITERALLY the same oracle
    // (referencing it keeps the two from drifting apart)
    "st17_stream_upsert" -> graft.sinks.Writers.oracle("k18_merge_on_read"),
    // st23: the incremental packer must land exactly where the batch
    // packer lands — c02's recursive-CTE oracle verbatim
    "st23_stream_pack" ->
      Corpus.oracle("c02_pack_greedy"),
    // st28: the incremental length-batcher must land exactly where the
    // batch packer lands — c11's naive-window oracle verbatim
    "st28_stream_length_batches" ->
      Corpus.c11OracleSql,
    // st29: the incremental K-step funnel must land exactly where the
    // batch K-fold lands — q48's GENERATED K-way EXISTS oracle verbatim
    "st29_stream_funnel_k" ->
      graft.operators.Relational.oracle("q48_funnel_k"),
    // st27: the incremental pairing must land exactly where the batch
    // LAG lands — q46's oracle verbatim
    "st27_stream_transitions" ->
      graft.operators.Relational.oracle("q46_path_transitions"),
    // st26: the incremental funnel must land exactly where the batch
    // fold lands — q44's EXISTS-join oracle verbatim
    "st26_stream_funnel" ->
      graft.operators.Relational.oracle("q44_funnel"),
    // st25: the streamed sketch is integer-exact, so the oracle replays
    // the FULL quantile values from the fact table (k29's arithmetic)
    "st25_stream_quantile" -> {
      import graft.sinks.Writers.{duckBinIdSql, duckBinLbSql}
      s"""WITH v AS (
         |  SELECT date_trunc('day', ts) AS day,
         |    greatest(CAST(floor(value * 100) AS BIGINT), 1) AS v1
         |  FROM events),
         |b AS (SELECT day, ${duckBinIdSql("v1")} AS bin_id FROM v),
         |d AS (SELECT day, bin_id, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
         |c AS (
         |  SELECT day, bin_id,
         |    CAST(SUM(cnt) OVER (PARTITION BY day ORDER BY bin_id)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY day) AS BIGINT) AS n
         |  FROM d),
         |est AS (
         |  SELECT day, MAX(n) AS n_events,
         |    MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin_id END)
         |      AS b50,
         |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin_id END)
         |      AS b95,
         |    MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin_id END)
         |      AS b99
         |  FROM c GROUP BY day)
         |SELECT day, n_events,
         |  ${duckBinLbSql("b50")} AS p50_cents,
         |  ${duckBinLbSql("b95")} AS p95_cents,
         |  ${duckBinLbSql("b99")} AS p99_cents
         |FROM est ORDER BY day""".stripMargin
    },
    // st24: per-day event counts + exact distincts; the 5%-band boolean
    // is k28's tolerance contract
    "st24_stream_sketch" ->
      """SELECT date_trunc('day', ts) AS day,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS est_ok
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // st20: per-batch native as-of against a static dim must land exactly
    // where the batch operator lands — q21/q23's oracle verbatim
    "st20_stream_asof" ->
      graft.operators.Relational.oracle("q21_asof_join"),
    "st05_rocksdb_state" -> sessionizeOracle,
    "st10_transform_state" -> sessionizeOracle,
    "st11_stream_sample" -> graft.operators.TextAnalysis.t11OracleSql,
    "st12_stream_curation" ->
      graft.operators.Pipelines.curationOracleSql(withDedup = false),
    "st01_stream_window" ->
      """SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "st02_stream_state" -> sessionizeOracle,
    // st03: the streaming fold lands where k03's batch pipeline lands
    "st03_stream_sink" -> graft.pipeline.Incremental.oracle("k03_pipeline"),
    "st06_stream_jdbc" ->
      """SELECT event_id, user_id, event_type, value * 2.0 AS boosted
        |FROM events WHERE event_id % 10 = 0 ORDER BY event_id""".stripMargin,
    "st08_stream_dedup" -> projectionOracle,
    "st09_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |assigned AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events
        |FROM assigned GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    // st16: a restart that re-ingested anything doubles rows and fails
    "st16_checkpoint_resume" ->
      """SELECT event_id, user_id, value
        |FROM events ORDER BY event_id""".stripMargin,
    "st21_typed_ingest" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE event_id >= 1000 AND event_id < 5000
        |  AND event_type IN ('click', 'purchase')
        |ORDER BY event_id""".stripMargin,
    "st15_stream_enrich" ->
      """WITH ut AS (
        |  SELECT user_id,
        |    SUM(CAST(value AS DECIMAL(38,6))) AS user_total
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id,
        |  value / CAST(user_total AS DOUBLE) AS share
        |FROM events e JOIN ut USING (user_id)
        |ORDER BY event_id""".stripMargin,
    // st14 composes st07's decode with st13's sink and k13's publish —
    // same decode oracle; the composition is what's under test
    "st14_ingest_publish" -> decodeOracle,
    "st07_stream_decode" -> decodeOracle,
    "st04_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.ts AS c_ts, p.ts AS p_ts
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,
    // st19: inner matches always emit; an unmatched click null-extends
    // iff the final watermark passed its maximum match time. Three
    // engine details, each pinned by data or spec: the join watermark is
    // the MIN of the two sides' watermarks (each side advances from ITS
    // OWN max — sf0.1 has a click whose horizon falls between the two);
    // event-time stats are ms-FLOORED before the delay subtracts; and
    // eviction compares against watermark MINUS 1 ms (Spark's
    // state-value-watermark offset — measured: horizon = wm−1 ms emits,
    // wm−1 µs does not; StreamingSinksSpec pins the boundary).
    "st19_stream_outer_join" ->
      """WITH wm AS (
        |  SELECT LEAST(
        |      (SELECT date_trunc('milliseconds', MAX(ts)) FROM events
        |       WHERE event_type = 'click'),
        |      (SELECT date_trunc('milliseconds', MAX(ts)) FROM events
        |       WHERE event_type = 'purchase'))
        |    - INTERVAL 30 MINUTE - INTERVAL 1 MILLISECOND AS w),
        |l AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id AS u2, event_id AS purchase_id, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT l.user_id, l.click_id, r.purchase_id
        |  FROM l JOIN r ON l.user_id = r.u2
        |    AND r.p_ts >= l.c_ts AND r.p_ts <= l.c_ts + INTERVAL 1 HOUR),
        |um AS (
        |  SELECT user_id, click_id, CAST(NULL AS BIGINT) AS purchase_id
        |  FROM l
        |  WHERE click_id NOT IN (SELECT click_id FROM m)
        |    AND c_ts + INTERVAL 1 HOUR <= (SELECT w FROM wm))
        |SELECT * FROM m
        |UNION ALL SELECT * FROM um
        |ORDER BY user_id, click_id, purchase_id""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st01_stream_window" -> (st01StreamWindow _),
    "st02_stream_state" -> (st02StreamState _),
    "st03_stream_sink" -> (st03StreamSink _),
    "st04_stream_join" -> (st04StreamJoin _),
    "st05_rocksdb_state" -> (st05RocksdbState _),
    "st06_stream_jdbc" -> (st06StreamJdbc _),
    "st07_stream_decode" -> (st07StreamDecode _),
    "st08_stream_dedup" -> (st08StreamDedup _),
    "st09_session_window" -> (st09SessionWindow _),
    "st10_transform_state" -> (st10TransformWithState _),
    "st11_stream_sample" -> (st11StreamSample _),
    "st12_stream_curation" -> (st12StreamCuration _),
    "st13_idempotent_sink" -> (st13IdempotentSink _),
    "st14_ingest_publish" -> (st14IngestPublish _),
    "st15_stream_enrich" -> (st15StreamEnrich _),
    "st21_typed_ingest" -> (st21TypedIngest _),
    "st16_checkpoint_resume" -> (st16CheckpointResume _),
    "st17_stream_upsert" -> (st17StreamUpsert _),
    "st18_late_data" -> (st18LateData _),
    "st19_stream_outer_join" -> (st19StreamOuterJoin _),
    "st20_stream_asof" -> (st20StreamAsof _),
    "st23_stream_pack" -> (st23StreamPack _),
    "st24_stream_sketch" -> (st24StreamSketch _),
    "st25_stream_quantile" -> (st25StreamQuantile _),
    "st26_stream_funnel" -> (st26StreamFunnel _),
    "st27_stream_transitions" -> (st27StreamTransitions _),
    "st28_stream_length_batches" -> (st28StreamLengthBatches _),
    "st29_stream_funnel_k" -> (st29StreamFunnelK _)
  )
}
