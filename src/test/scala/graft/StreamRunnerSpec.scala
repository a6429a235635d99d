package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, RuntimeConfig, SparkSession}
import org.apache.spark.sql.execution.streaming.state.{StateStore,
  StateStoreProviderId}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Sink

/** What a running stream's tasks read back from the caller's session. A
  * top-level object, so a UDF reaches it without serializing the session;
  * local mode runs the tasks in this JVM. */
object StreamRunnerProbe {
  @volatile var callerConf: RuntimeConfig = _
  val seen = new ConcurrentLinkedQueue[String]()
  def record(): Unit =
    seen.add(callerConf.get("spark.sql.shuffle.partitions")): Unit
}

/** Pins the one stream runner: it sizes a stream's state only inside the
  * stream, no query leaves a conf behind on the session it was handed,
  * and a run's state stores are released when the run ends. Each test runs on its own `newSession()`, which shares the
  * fixture's context but has its own conf and its own stream listeners. */
class StreamRunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir
  private val width = "spark.sql.shuffle.partitions"

  /** Runs `body` on `s` and returns the progress of every stream it ran,
    * once each has terminated (the listener bus is asynchronous). */
  private def progressOf(s: SparkSession, streams: Int)(body: => Unit)
      : Seq[StreamingQueryProgress] = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val done = new CountDownLatch(streams)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress): Unit
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        done.countDown()
    }
    s.streams.addListener(listener)
    try {
      body
      assert(done.await(60, TimeUnit.SECONDS), "stream did not terminate")
    } finally s.streams.removeListener(listener)
    progress.asScala.toSeq
  }

  test("st01, st05, st18, st22 and d08 leave the caller's conf unchanged") {
    // the fixture is built with Session.contract, which SparkEntry also
    // applies per call, so only an operator's own conf writes could show
    Seq("st01_stream_window", "st05_rocksdb_state", "st18_late_data",
      "st22_stream_http_ingest", "d08_dedup_clusters").foreach { q =>
      val s = spark.newSession()
      val before = s.conf.getAll
      assert(SparkEntry.queries(q)(s, sfDir).collect().nonEmpty, q)
      assert(s.conf.getAll === before, q)
    }
  }

  test("a sized stream's tasks see the caller's own shuffle width") {
    val s = spark.newSession()
    assert(s.conf.get(width) === "4")
    StreamRunnerProbe.callerConf = s.conf
    StreamRunnerProbe.seen.clear()
    val probe = udf { (t: String) => StreamRunnerProbe.record(); t }
    val events = s.readStream
      .schema(sources.Tables.schemaOf(s, s"$sfDir/events.parquet"))
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val agg = events.select(probe(col("event_type")).as("event_type"))
      .groupBy(col("event_type")).count()
    val progress = progressOf(s, streams = 1) {
      assert(EventStreams.runToTable(agg, Sink.Memory("complete"))
        .collect().nonEmpty)
    }
    assert(!StreamRunnerProbe.seen.isEmpty, "the probe never ran")
    assert(StreamRunnerProbe.seen.asScala.toSet === Set("4"))
    assert(progress.flatMap(_.stateOperators).map(_.numShufflePartitions)
      .toSet === Set(8L))
  }

  test("st01 runs 8 state partitions and st05 runs the RocksDB store") {
    val st01 = spark.newSession()
    val windowed = progressOf(st01, streams = 1) {
      SparkEntry.queries("st01_stream_window")(st01, sfDir).collect(): Unit
    }.flatMap(_.stateOperators)
    assert(windowed.nonEmpty)
    assert(windowed.map(_.numShufflePartitions).toSet === Set(8L))
    val st05 = spark.newSession()
    val sessions = progressOf(st05, streams = 1) {
      SparkEntry.queries("st05_rocksdb_state")(st05, sfDir).collect(): Unit
    }.flatMap(_.stateOperators)
    assert(sessions.nonEmpty)
    assert(sessions.forall(_.customMetrics.keySet.asScala
      .exists(_.startsWith("rocksdb"))), sessions.map(_.customMetrics))
  }

  /** Run ids of every stream `s` starts while `body` runs. */
  private def runsOf(s: SparkSession)(body: => Unit): Set[UUID] = {
    val ids = new ConcurrentLinkedQueue[UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        ids.add(e.runId): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try body finally s.streams.removeListener(listener)
    ids.asScala.toSet
  }

  /** The providers Spark's JVM-wide state-store map holds for `runs`,
    * read straight from the map rather than through the runner's helper. */
  private def loadedFor(runs: Set[UUID]): Seq[StateStoreProviderId] = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    val map = f.get(StateStore).asInstanceOf[
      scala.collection.mutable.HashMap[StateStoreProviderId, AnyRef]]
    map.synchronized(map.keys.toSeq).filter(id => runs(id.queryRunId))
  }

  /** `df` as the one parquet file `<dir>/<name>`. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Scratch.dir("runner_part_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir, name).toPath,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  test("a stateful query leaves none of its state stores loaded") {
    Seq("st01_stream_window", "st04_stream_join", "st05_rocksdb_state",
      "st08_stream_dedup", "st09_session_window", "st10_transform_state",
      "st18_late_data").foreach { q =>
      val s = spark.newSession()
      val runs = runsOf(s) {
        assert(SparkEntry.queries(q)(s, sfDir).collect().nonEmpty, q)
      }
      assert(runs.nonEmpty, q)
      assert(loadedFor(runs).isEmpty, q)
    }
  }

  test("a run whose check throws still releases its state stores") {
    val s = spark.newSession()
    val stream = s.readStream
      .schema(sources.Tables.schemaOf(s, s"$sfDir/events.parquet"))
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val agg = stream.groupBy(col("event_type")).count()
    var ran = false
    val runs = runsOf(s) {
      val e = intercept[IllegalStateException] {
        EventStreams.runToTable(agg, Sink.Memory("complete"), check = { q =>
          ran = q.lastProgress.stateOperators.nonEmpty
          throw new IllegalStateException("check failed")
        })
      }
      assert(e.getMessage === "check failed")
    }
    assert(ran, "the run loaded no state")
    assert(runs.size === 1)
    assert(loadedFor(runs).isEmpty)
  }

  test("a run over a released checkpoint reloads its state from the files") {
    val s = spark.newSession()
    val all = sources.Tables(s, sfDir).events
      .select(col("ts"), col("event_type"), col("value"))
    val cut = all
      .selectExpr("timestamp_micros((min(unix_micros(ts)) + max(unix_micros(ts))) div 2)")
      .head().getTimestamp(0)
    // split by time, so no row of the second file is late for the first
    // run's watermark, and the day window around the cut spans both files
    def window(dir: String, ckpt: String, out: String): Seq[String] = {
      val agg = EventStreams.windowedAgg(
        s.readStream.schema(all.schema).parquet(dir))
      EventStreams.runToTable(agg, Sink.Batches(
        (b, _) => b.write.mode("append").parquet(out),
        () => s.read.schema(agg.schema).parquet(out), checkpoint = Some(ckpt)))
        .collect().map(_.toString).sorted.toSeq
    }
    val early = all.filter(col("ts") < cut)
    val late = all.filter(col("ts") >= cut)
    assert(early.count() > 0 && late.count() > 0)
    val (twoRuns, oneRun) = (Scratch.dir("runner_in2_"), Scratch.dir("runner_in1_"))
    val (ckpt, out) = (Scratch.dir("runner_ckpt_"), Scratch.dir("runner_out_"))
    writeFile(early, twoRuns, "a.parquet")
    val first = window(twoRuns, ckpt, out)
    writeFile(late, twoRuns, "b.parquet")
    val resumed = window(twoRuns, ckpt, out)
    writeFile(early, oneRun, "a.parquet")
    writeFile(late, oneRun, "b.parquet")
    val single = window(oneRun, Scratch.dir("runner_ckpt1_"),
      Scratch.dir("runner_out1_"))
    // the first run left open windows in its state, which the second
    // run could only have counted in full by reloading that state
    assert(first.nonEmpty && first.size < single.size)
    assert(resumed === single)
  }
}
