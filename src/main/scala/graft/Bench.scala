package graft

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Benchmark main — per-query wall time over SPARK_GRAFT_SF_DIR, under the
  * [[Session.fromEnv]] geometry.
  *
  *  - `Bench` benches every query and writes BENCH_FULL.json and
  *    BENCH_HEADLINE.json.
  *  - `Bench <query> ...` benches only the named queries and writes
  *    BENCH_PARTIAL.json, never the full-suite files.
  *  - `Bench --explain <query> [formatted|extended]` runs the query at the
  *    SF dir, discarding its rows, and prints its final adaptive plan: AQE
  *    decisions, join strategies and bucketed-scan recognition at
  *    rehearsal row counts.
  *  - `Bench --profile <query> [reps]` runs the query `reps` times (default
  *    1) and prints, on stderr, each rep's wall time, the used heap after a
  *    full GC at the end of the rep (outside the wall), and each
  *    micro-batch's engine-side `durationMs` split: where a streaming
  *    query's wall goes, and whether each run leaves heap behind.
  *
  * The bench modes print the headline JSON as the last stdout line.
  * Materialization is a `noop`-sink write, not count(): count() lets
  * Catalyst prune every projection back to the scan, so it times file
  * listing rather than the operator; noop computes every output column and
  * row but pays no write I/O — the honest single-node throughput number.
  */
object Bench {
  type Entry = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val run = mode(args.toList, sfDir, Paths.get(""))
    val spark = Session.fromEnv()
    // the headline must be the last stdout line: print it after
    // spark.stop(), whose streaming-teardown WARNs otherwise land after it
    val out = try run(spark) finally {
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    }
    if (out.nonEmpty) println(out)
  }

  /** The run `args` ask for, as a function of the session, returning what
    * to print last. Query names are checked here, before a session starts.
    * Artifacts go to `dir`. */
  def mode(args: List[String], sfDir: String, dir: Path): SparkSession => String =
    args match {
      case "--explain" :: query :: rest if rest.size <= 1 =>
        val fn = entry(query)
        val how = ExplainMode.fromString(rest.headOption.getOrElse("formatted"))
        spark => {
          // run the Dataset's own plan, not a write's copy of it, so the
          // explain below shows the plan AQE settled on
          val qe = fn(spark, sfDir).queryExecution
          qe.toRdd.foreach(_ => ())
          qe.explainString(how)
        }
      case "--profile" :: query :: rest if rest.size <= 1 =>
        val fn = entry(query)
        val reps = rest.headOption.fold(1)(_.toInt)
        spark => {
          withRuns(spark, profile = true)(
            measure(spark, sfDir, _, query, fn, reps))
          ""
        }
      case flag :: _ if flag.startsWith("--") =>
        throw new IllegalArgumentException(
          "usage: Bench [query ...] | --explain <query> [formatted|extended]" +
            " | --profile <query> [reps]")
      case names =>
        val entries = SparkEntry.select(names)
        spark => suite(spark, sfDir, entries, partial = names.nonEmpty, dir)
    }

  private def entry(query: String): Entry = SparkEntry.select(Seq(query)).head._2

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Sums each streaming run's engine-side triggerExecution durations and
    * remembers the runs started since [[StreamRuns.forget]]; when
    * profiling, also prints each micro-batch's `durationMs` split.
    *
    * st-family wall times are dominated by the micro-batch scheduling
    * floor (forced AvailableNow triggers + awaitTermination), not compute;
    * this is their actual batch EXECUTION time. Progress events arrive on
    * Spark's ASYNC listener bus, so durations are keyed by run id and
    * attributed to the bench entry that STARTED that run (QueryStartedEvent
    * is delivered synchronously on the starting thread) — a late event can
    * never leak into the next query's number, and a batch query (which
    * starts no runs) can never be misclassified as streaming.
    */
  private final class StreamRuns(val profile: Boolean)
      extends StreamingQueryListener {
    private val execMs = new ConcurrentHashMap[UUID, java.lang.Long]()
    private val started = new ConcurrentLinkedQueue[UUID]()
    private val parts = Seq("triggerExecution", "queryPlanning", "getBatch",
      "latestOffset", "addBatch", "walCommit", "commitOffsets")

    override def onQueryStarted(e: QueryStartedEvent): Unit =
      started.add(e.runId): Unit
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      Option(d.get("triggerExecution")).foreach(ms =>
        execMs.merge(e.progress.runId, ms.longValue(), (a, b) => a + b))
      if (profile) System.err.println(
        s"[prof] batch=${e.progress.batchId} rows=${e.progress.numInputRows} " +
          parts.map(k => s"$k=${Option(d.get(k)).fold(-1L)(_.longValue())}")
            .mkString(" "))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

    def forget(): Unit = started.clear()

    /** Per-rep average execution seconds of the runs started since
      * [[forget]]. A short drain gives the async bus time to flush the
      * final progress events of just-terminated runs. */
    def execSec(reps: Int): Double = {
      val mine = started.asScala.toSeq
      if (mine.nonEmpty) Thread.sleep(150)
      mine.map(id => Option(execMs.get(id)).fold(0L)(_.longValue())).sum /
        1e3 / reps
    }
  }

  private def withRuns[A](spark: SparkSession, profile: Boolean)(
      body: StreamRuns => A): A = {
    val runs = new StreamRuns(profile)
    spark.streams.addListener(runs)
    try body(runs) finally spark.streams.removeListener(runs)
  }

  /** Used heap after a full GC: a per-run leak shows as a slope over
    * `--profile` reps. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  private final case class R(name: String, median: Double, min: Double,
    max: Double, streamExecSec: Double, ok: Boolean)

  /** `reps` timed runs of one entry, then [[Session.cleanup]]. A crashed
    * rep must not masquerade as a fast one: any failure marks the entry
    * failed. */
  private def measure(spark: SparkSession, sfDir: String, runs: StreamRuns,
      name: String, fn: Entry, reps: Int): R = {
    runs.forget()
    val times = (1 to reps).flatMap { rep =>
      val t0 = System.nanoTime()
      try {
        noop(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        if (runs.profile) System.err.println(
          f"[prof] rep $rep wall $wall%.3f s heap ${heapAfterGcMb()}%.1f MB")
        Some(wall)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); None }
    }
    val sorted = times.sorted
    val median = if (sorted.isEmpty) -1.0 else sorted(sorted.size / 2)
    val min = if (sorted.isEmpty) -1.0 else sorted.head
    val max = if (sorted.isEmpty) -1.0 else sorted.last
    // 0 for batch queries, the honest compute number for st-family
    val exec = runs.execSec(reps)
    Session.cleanup(spark)
    // stderr progress line: long full-suite runs (sf1/sf10 rehearsals)
    // are otherwise silent until the final headline JSON
    System.err.println(f"[bench] $name%-28s median $median%7.2f s  min $min%7.2f s")
    R(name, median, min, max, exec, times.size == reps)
  }

  private def suite(spark: SparkSession, sfDir: String,
      entries: Seq[(String, Entry)], partial: Boolean, dir: Path): String = {
    // warmup: JIT + codegen + parquet footer caches, so query 1 isn't
    // charged the JVM's cold start
    try noop(SparkEntry.queries("q01_agg_filter")(spark, sfDir))
    catch { case _: Throwable => }

    // median-of-N per query (N=3 default): a host-contention spike during
    // one alphabetical span cannot distort the round artifact (round 1
    // shipped 90 s where quiet runs measure ~56 s). The per-query min is
    // reported too — the best observed single-node throughput.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    val results = withRuns(spark, profile = false) { runs =>
      entries.map { case (name, fn) =>
        measure(spark, sfDir, runs, name, fn, reps)
      }
    }

    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def qmap(f: R => String, keep: String => Boolean): String =
      results.collect { case r if keep(r.name) =>
        "\"" + r.name + "\":" + f(r) }.mkString("{", ",", "}")
    // failures report -1 in the per-query maps, are excluded from the
    // total, and are listed so "total improved" can never mean "half the
    // queries died"
    val failedNames = results.filterNot(_.ok).map(_.name)
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver's tail window is ~2000 chars; a long failure list would
    // push the front of the headline JSON out of it and break parsing.
    // The headline line carries a bounded sample + count; the full
    // artifact keeps the full list.
    val failedBrief = (failedNames.take(8).map("\"" + _ + "\"") ++
      (if (failedNames.size > 8) Seq("\"...\"") else Nil))
      .mkString("[", ",", "]")
    val total = results.filter(_.ok).map(_.median).sum
    val totalMin = results.filter(_.ok).map(_.min).sum
    // The driver keeps only the FINAL ~2000 chars of output, so the
    // one-line JSON must stay well under that window. The inline `queries`
    // map therefore carries a fixed headline subset (one per operator
    // family); the full per-query median/min maps go to the artifact next
    // to the repo for PERF.md and judge spot-checks.
    val headline = Set(
      "q01_agg_filter", "q05_multi_join_agg", "q10_adjacency_join",
      "q11_range_window", "q23_asof_native", "q28_window_analytics",
      "d01_dedup_exact", "d02_dedup_minhash", "d06_dedup_embedding_lsh",
      "d14_dedup_assign",
      "s01_ann_bruteforce", "s05_ann_pq", "t03_token_count",
      "t10_contamination", "p01_swaps_pipeline", "p03_erc20_pipeline",
      "p11_curation_pipeline", "st01_stream_window", "st04_stream_join",
      "k01_parquet_sink", "k04_bucketed_join")
    val med = { r: R => if (r.ok) fmt(r.median) else "-1" }
    val mn = { r: R => if (r.ok) fmt(r.min) else "-1" }
    val mx = { r: R => if (r.ok) fmt(r.max) else "-1" }
    val ex = { r: R => if (r.ok) fmt(r.streamExecSec) else "-1" }
    val streaming = results.filter(r => r.streamExecSec > 0.0).map(_.name).toSet
    // a filtered run must never stand in for the committed full suite
    val artifact = if (partial) "BENCH_PARTIAL.json" else "BENCH_FULL.json"
    val full =
      f"""{"metric":"total_median_of_$reps%d","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"n_queries":${results.size}%d,"queries":${qmap(med, _ => true)},"queries_min":${qmap(mn, _ => true)},"queries_max":${qmap(mx, _ => true)},"stream_exec_sec":${qmap(ex, streaming)},"failed":$failed,"sf":"$sfDir"}"""
    val headlineJson =
      f"""{"metric":"total_median_of_$reps%d","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"n_queries":${results.size}%d,"queries":${qmap(med, headline)},"n_failed":${failedNames.size}%d,"failed":$failedBrief,"full":"$artifact","sf":"$sfDir"}"""
    def write(name: String, json: String): Unit =
      Files.write(dir.resolve(name), (json + "\n").getBytes("UTF-8")): Unit
    write(artifact, full)
    // Belt and braces for a parse of the last stdout line: the full-suite
    // headline lands in a fixed file too.
    if (!partial) write("BENCH_HEADLINE.json", headlineJson)
    headlineJson
  }
}
