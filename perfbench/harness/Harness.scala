package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload, in its own JVM.
  *
  * Drives only the public `graft.SparkEntry.queries` map: each query
  * function receives the session and the data directory, nothing else.
  * Phases, in order:
  *   1. check pass: every query once, its output written as parquet for
  *      the oracle comparison (untimed, cold);
  *   2. warm-up passes into the `noop` sink: two, and a third while the
  *      second was still more than 3% faster than the first;
  *   3. timed passes into the `noop` sink until `--seconds` have been
  *      measured (at least three).
  * Query order is a fresh permutation of the workload per pass, drawn
  * from `--seed`. After every query, outside its timing, the cleanup
  * `graft.Bench` does between queries runs; a full GC runs between passes.
  *
  * Every query execution becomes one record of the result JSON; with
  * `--trace 1` the run also attaches [[Tracer]] and adds its spans and
  * per-execution layer counters.
  *
  * Usage: Harness --sf DIR --out DIR --queries a,b,c --seed N --seconds S
  *   --cores N --trace 0|1 --deadline-ms EPOCH_MS
  */
object Harness {
  final case class Exec(phase: String, pass: Int, query: String,
      start: Double, buildEnd: Double, end: Double, cleanEnd: Double,
      cpuS: Double, error: Option[String]) {
    def wallS: Double = (end - start) / 1e3
  }

  private val clock = new Clock
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of the JIT compiler threads, read from /proc (0 where it
    * is absent). The run keeps these threads alive for its whole length
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time is
    * lost with an exiting thread. */
  private def jitSeconds(): Double = {
    val tasks = new File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val comm = Files.readString(Paths.get(t.getPath, "comm"))
        if (!comm.startsWith("C1 Compiler") && !comm.startsWith("C2 Compiler")) 0L
        else {
          val stat = Files.readString(Paths.get(t.getPath, "stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime + stime, in clock ticks
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0
  }

  /** Process CPU seconds less the JIT compiler's: compilation still runs
    * during the timed passes and varies from JVM to JVM; the engine's own
    * work does not. */
  private def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9 - jitSeconds()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val sfDir = args("sf")
    val out = args("out")
    val names = args("queries").split(",").toSeq
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val cores = args("cores")
    val traced = args.getOrElse("trace", "0") == "1"
    val deadline = args("deadline-ms").toDouble

    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap

    val spark = session(cores, s"$out/local", s"$out/warehouse")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer(spark, clock)) else None
    val rng = new scala.util.Random(seed)
    val execs = ArrayBuffer.empty[Exec]

    def runQuery(phase: String, pass: Int, name: String)(
        sink: (String, DataFrame) => Unit): Exec = {
      val key = s"$phase:$pass:$name"
      tracer.foreach(_.begin(key))
      val cpu0 = cpuSeconds()
      val t0 = clock.nowMs
      var tb = t0
      val err = try {
        val df = fns(name)(spark, sfDir)
        tb = clock.nowMs
        sink(name, df)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Some(Option(e.getMessage).getOrElse(e.toString).take(500))
      }
      val t1 = clock.nowMs
      val cpuS = cpuSeconds() - cpu0
      tracer.foreach(_.storage(key))
      cleanup(spark)
      val t2 = clock.nowMs
      val e = Exec(phase, pass, name, t0, if (err.isEmpty) tb else t1, t1, t2,
        cpuS, err)
      tracer.foreach(_.end(key, e))
      execs += e
      e
    }

    def runPass(phase: String, pass: Int)(
        sink: (String, DataFrame) => Unit): Double = {
      val order = rng.shuffle(names)
      val start = clock.nowMs
      val done = order.map(n => runQuery(phase, pass, n)(sink))
      tracer.foreach(_.pass(s"$phase:$pass", start, clock.nowMs))
      fullGc()
      done.filter(_.error.isEmpty).map(_.wallS).sum
    }

    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()

    runPass("check", 0) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$name")
    }
    writeJson(s"$out/results/oracle_sql.json",
      names.map(n => n -> graft.SparkEntry.oracleSql.getOrElse(n, null)).toMap
        .filter(_._2 != null).asJava)

    val first = runPass("warm", 1)(noop)
    val second = runPass("warm", 2)(noop)
    val warm = if (second < 0.97 * first) { runPass("warm", 3)(noop); 3 } else 2

    val firstTimed = clock.nowMs
    var pass = 0
    var measured = 0.0
    while (pass < 3 ||
        (measured < seconds && clock.nowMs + 1e3 * measured / pass < deadline)) {
      pass += 1
      val t0 = clock.nowMs
      runPass("timed", pass)(noop)
      measured += (clock.nowMs - t0) / 1e3
    }
    val endTimed = clock.nowMs

    // Retained heap: blocks dropped synchronously, then the lowest reading
    // of three full collections, so late asynchronous cleanup cannot count.
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
    cleanup(spark)
    val heapMb = (1 to 3).map { _ =>
      Thread.sleep(200)
      fullGc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("seed", seed)
    result.put("cores", cores.toInt)
    result.put("queries", names.asJava)
    result.put("warm_passes", warm)
    result.put("timed_passes", pass)
    result.put("first_timed_ms", firstTimed)
    result.put("end_timed_ms", endTimed)
    result.put("retained_heap_mb", heapMb)
    result.put("execs", execs.map { e =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("phase", e.phase); m.put("pass", e.pass); m.put("query", e.query)
      m.put("wall_s", e.wallS); m.put("cpu_s", e.cpuS)
      m.put("build_s", (e.buildEnd - e.start) / 1e3)
      m.put("materialize_s", (e.end - e.buildEnd) / 1e3)
      m.put("cleanup_s", (e.cleanEnd - e.end) / 1e3)
      m.put("error", e.error.orNull)
      m
    }.asJava)
    tracer.foreach { t =>
      t.run(clock.startMs, clock.nowMs)
      result.put("trace", t.report())
    }
    writeJson(s"$out/harness.json", result)
    spark.stop()
  }

  /** The session `graft.Bench` builds, with this run's own directories. */
  def session(cores: String, localDir: String, warehouse: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.rdd.compress", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()

  /** `graft.Bench`'s between-query cleanup. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("graft_stream_") ||
        t.name.startsWith("graft_http_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name): Unit)
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    graft.Scratch.reap()
  }

  def fullGc(): Unit = { System.gc(); System.gc() }

  def writeJson(path: String, value: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), new ObjectMapper().writeValueAsString(value))
  }
}

/** Epoch milliseconds with sub-millisecond resolution, monotonic within
  * the JVM, on the same base as the epoch times Spark puts in its events. */
final class Clock {
  val startMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
