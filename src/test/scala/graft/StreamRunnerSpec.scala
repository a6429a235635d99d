package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{RuntimeConfig, SparkSession}
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
  * stream, and no query leaves a conf behind on the session it was
  * handed. Each test runs on its own `newSession()`, which shares the
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
}
