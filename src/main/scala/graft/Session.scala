package graft

import org.apache.spark.sql.SparkSession

/** The one local-session geometry every graft main and the test fixture
  * run under, and the cleanup that keeps one query's leftovers out of the
  * next query's measurement.
  */
object Session {
  /** The load-time contract every query reads its inputs under. Built
    * into every graft session and applied again by [[enforce]] on each
    * [[SparkEntry]] call, so a query's answer never depends on the session
    * it was handed or on which query ran before it in that session. */
  val contract: Seq[(String, String)] = Seq(
    // temporal semantics (date_trunc buckets, date→timestamp casts, event
    // ts normalization) are defined in UTC; the oracles compare naive
    // timestamps
    "spark.sql.session.timeZone" -> "UTC",
    // older events.parquet files store TIMESTAMP(NANOS), which Spark's
    // parquet reader rejects unless nanos read as long;
    // `Tables.normalizeEventTs` turns that long (or a MICROS column) into
    // the UTC microsecond TimestampType the oracle compares at
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
  )

  /** Confs that do not depend on the core count, each with its reason. */
  val geometry: Seq[(String, String)] = contract ++ Seq(
    "spark.ui.enabled" -> "false",
    // A full suite in one JVM accumulates weakly-referenced state
    // (localCheckpoint blocks, shuffle files) that Spark's ContextCleaner
    // only reaps after a JVM GC; on a large heap GC may not fire for the
    // whole run and late queries degrade behind the pile-up (measured: the
    // same 4 queries 293 s inside a full sf1 sweep vs 12 s isolated). The
    // default interval is 30 min — longer than the suite.
    "spark.cleaner.periodicGC.interval" -> "2min",
    // split small files finer than the 128 MB default: the sf dirs hold
    // one small file per table (documents at sf0.1 is ~600 KB), and one
    // scan partition serializes every per-doc kernel behind one core.
    // Rehearsal corpora shard each table as a directory of per-copy files,
    // so file-level parallelism grows with SF and this only sub-splits.
    "spark.sql.files.maxPartitionBytes" -> "8m",
    // staged (localCheckpoint) fact slices — the d-family pre-collapse —
    // overflow memory onto disk as RDD blocks, which Spark leaves
    // UNCOMPRESSED by default; at the sf100 rehearsal that raw spill costs
    // more scratch than the work it saves
    "spark.rdd.compress" -> "true",
    // one clustering, many key-sets: hash(slot) co-locates (slot, idx)
    // too, but the conservative default REFUSES subset co-partitioning for
    // joins (a skew guard) and re-shuffles + re-sorts both sides on the
    // full key set — at sf100 that silently moved p05's whole fact a
    // second time. The rehearsal keys are uniform; let a staged single-key
    // clustering serve every join whose keys extend it.
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // ...and let a staged bucket table's per-bucket sortBy feed the merge
    // joins: off by default since 3.0 (multi-file buckets would need a
    // merge-sort) but Spark still guards on one-file-per-bucket, which the
    // stageBucketed writer guarantees by construction
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
  )

  /** What graft needs of any session it runs on, whoever built it: the
    * [[contract]], graft's planner strategies, graft's SQL functions, and
    * graft's local filesystem (`graft.localfs`, which writes checkpoints,
    * state and sinks without a shell process per file). Idempotent; every
    * [[SparkEntry]] call and every [[apply]] runs it. */
  def enforce(spark: SparkSession): Unit = {
    contract.foreach { case (k, v) => spark.conf.set(k, v) }
    plans.SmallSortStrategy.ensureRegistered(spark)
    functions.registerSql(spark)
    localfs.LocalFs.install(spark)
  }

  /** A `local[cores]` session with `shufflePartitions` shuffle partitions
    * and the [[geometry]] confs, logging at WARN, [[enforce]]d. */
  def apply(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = geometry.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    enforce(spark)
    spark
  }

  /** The session the mains run under. `SPARK_GRAFT_CPUS` sets the cores
    * (default: this host's). `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default:
    * the cores) sets the shuffle width, which must scale with DATA, not
    * cores: 32 partitions of a 600M-row sort are ~19M wide rows each and
    * 32 of them run concurrently — the sf100 rehearsal OOM'd exactly
    * there. It is raised per run at rehearsal scale; AQE coalesces small
    * shuffles back down, so over-provisioning costs little. */
  def fromEnv(): SparkSession = {
    def env(name: String, default: Int): Int =
      sys.env.get(name).map(_.trim.toInt).getOrElse(default)
    val cores = env("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)
    apply(cores, env("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores))
  }

  /** Drop what a finished query left in the session; its output must
    * already be consumed. */
  def cleanup(spark: SparkSession): Unit = {
    // cached tables must not ride into the next query's measurement (or
    // occupy storage memory for the rest of the suite)
    spark.catalog.clearCache()
    // memory-sink temp views (runToTable's memory outputs) hold
    // their full result rows on the DRIVER via the registered MemorySink —
    // 28 streaming queries × reps of them otherwise ride to JVM exit and
    // squeeze the late-suite heap
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name): Unit)
    // localCheckpoint blocks (the d-family loops, pre-collapse stages) are
    // NOT cleared by clearCache() — they sit in the unified memory region
    // until the weak-ref cleaner happens to reap them, squeezing execution
    // memory for every later query (measured at sf10: the same flagged
    // queries run 2-5x faster isolated than late in the suite). Nothing
    // holds a reference across queries by design.
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    // scratch sinks (streaming outputs, k-family tables): the sf100 ladder
    // otherwise accumulates fact-scale sinks per query per rep and
    // exhausts the volume mid-suite. The shared chunk staging is pinned.
    Scratch.reap()
  }
}
