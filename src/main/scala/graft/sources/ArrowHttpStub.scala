package graft.sources

import java.io.ByteArrayOutputStream
import java.net.{InetAddress, InetSocketAddress}
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float8Vector, TimeStampMicroTZVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-process loopback twin of the hypersync/SQD portal that
  * [[ArrowHttpSource]] ingests from (the sandbox has no egress; the real
  * portals are plain HTTPS + Arrow IPC, so everything except the TLS hop
  * is exercised for real).
  *
  * Protocol (the public hypersync contract re-expressed over the events
  * table, block_number := event_id):
  *  - `GET /metadata` → `{"start_block": s, "height": h}` — the served
  *    window (SQD portal metadata; main.py:191-193).
  *  - `POST /query` with `{"from_block","to_block","fields",
  *    "event_types"?}` → an Arrow IPC stream of the PROJECTED, FILTERED
  *    rows in `[from_block, min(to_block, page end))`, plus
  *    `X-Next-Block` (the pagination cursor — a page is capped at
  *    `pageRows` matched rows, like a provider's response-size cap) and
  *    `X-Archive-Height`.
  *
  * The stub serves a BOUNDED slice of the events table (backfills are
  * block-range-bounded in the reference too), collected once at startup
  * through the pushed-down parquet scan — stub cost is O(slice), never
  * O(corpus).
  */
object ArrowHttpStub {
  private final case class Ev(id: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String)

  final class Stub private[ArrowHttpStub] (server: HttpServer,
      counter: AtomicInteger,
      lastAuth: java.util.concurrent.atomic.AtomicReference[Option[String]]) {
    def url: String =
      s"http://127.0.0.1:${server.getAddress.getPort}"
    /** Number of /query requests received — specs assert pagination
      * (and, in flaky mode, that retries actually re-requested). */
    def queryRequests: Int = counter.get()
    /** Authorization header of the most recent /query request (the
      * auth specs assert the bearer layer end-to-end). */
    def lastAuthHeader: Option[String] = lastAuth.get()
    def stop(): Unit = server.stop(0)
  }

  def start(spark: SparkSession, dir: String,
      maxServedBlocks: Long = 60000L, pageRows: Int = 4096,
      failEveryNth: Int = 0): Stub = {
    val rows = Tables(spark, dir).events
      .where(col("event_id") < maxServedBlocks)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
      .map { r =>
        val t = r.getTimestamp(1)
        val micros = math.floorDiv(t.getTime, 1000L) * 1000000L +
          (t.getNanos / 1000L) % 1000000L
        Ev(r.getLong(0), micros, r.getLong(2), r.getString(3),
          r.getDouble(4), if (r.isNullAt(5)) null else r.getString(5))
      }
      .sortBy(_.id)
    require(rows.nonEmpty, s"stub has no events under block $maxServedBlocks")
    val ids = rows.map(_.id)
    val startBlock = ids.head
    val height = ids.last + 1

    val counter = new AtomicInteger(0)
    val lastAuth =
      new java.util.concurrent.atomic.AtomicReference[Option[String]](None)
    val server = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    server.setExecutor(Executors.newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, "arrow-http-stub"); t.setDaemon(true); t
    }))

    server.createContext("/metadata", (ex: HttpExchange) => {
      val body =
        s"""{"start_block":$startBlock,"height":$height}"""
          .getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })

    server.createContext("/query", (ex: HttpExchange) => {
      try {
        val n = counter.incrementAndGet()
        lastAuth.set(Option(ex.getRequestHeaders.getFirst("Authorization")))
        // flaky mode: every Nth request 503s BEFORE reading the body —
        // the retry layer must re-request and the run must still land
        // on the exact answer (requests are pure reads; the cursor only
        // advances on a decoded page)
        if (failEveryNth > 0 && n % failEveryNth == 0) {
          ex.sendResponseHeaders(503, -1L)
          ex.close()
        } else serveQuery(ex)
      } catch {
        case e: Throwable =>
          val msg = String.valueOf(e.getMessage)
            .getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(500, msg.length.toLong)
          ex.getResponseBody.write(msg)
          ex.close()
      }
    })

    // errors propagate to the handler's catch → a 500 response
    def serveQuery(ex: HttpExchange): Unit = {
        val req = ArrowHttpSource.mapper.readTree(ex.getRequestBody.readAllBytes())
        val from = req.get("from_block").asLong()
        val to = math.min(req.get("to_block").asLong(), height)
        val fields = req.get("fields").elements().asScala.map(_.asText()).toSeq
        val types = Option(req.get("event_types"))
          .map(_.elements().asScala.map(_.asText()).toSet)

        // first index with id >= from (ids are sorted unique)
        var lo = java.util.Arrays.binarySearch(ids, from)
        if (lo < 0) lo = -lo - 1
        val selected = Array.newBuilder[Ev]
        var scanned = from
        var i = lo
        var matched = 0
        var continue = true
        while (continue && i < rows.length && rows(i).id < to) {
          val ev = rows(i)
          if (types.forall(_.contains(ev.eventType))) {
            selected += ev
            matched += 1
          }
          scanned = ev.id + 1
          i += 1
          if (matched >= pageRows) continue = false
        }
        val nextBlock = if (continue) to else scanned
        val body = writeArrow(fields, selected.result())
        ex.getResponseHeaders.set("Content-Type",
          "application/vnd.apache.arrow.stream")
        ex.getResponseHeaders.set("X-Next-Block", nextBlock.toString)
        ex.getResponseHeaders.set("X-Archive-Height", height.toString)
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
    }
    server.start()
    new Stub(server, counter, lastAuth)
  }

  private def arrowField(name: String): Field = name match {
    case "event_id" | "user_id" =>
      new Field(name, FieldType.nullable(new ArrowType.Int(64, true)), null)
    case "ts" =>
      new Field(name, FieldType.nullable(
        new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")), null)
    case "value" =>
      new Field(name, FieldType.nullable(
        new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)), null)
    case "event_type" | "props" =>
      new Field(name, FieldType.nullable(new ArrowType.Utf8()), null)
    case other =>
      throw new IllegalArgumentException(s"unknown field '$other'")
  }

  private def writeArrow(fields: Seq[String], evs: Array[Ev]): Array[Byte] = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val schema = new Schema(fields.map(arrowField).asJava)
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        root.allocateNew()
        fields.zipWithIndex.foreach { case (name, c) =>
          val vec = root.getVector(c)
          var i = 0
          while (i < evs.length) {
            val ev = evs(i)
            name match {
              case "event_id" =>
                vec.asInstanceOf[BigIntVector].setSafe(i, ev.id)
              case "user_id" =>
                vec.asInstanceOf[BigIntVector].setSafe(i, ev.userId)
              case "ts" =>
                vec.asInstanceOf[TimeStampMicroTZVector].setSafe(i, ev.tsMicros)
              case "value" =>
                vec.asInstanceOf[Float8Vector].setSafe(i, ev.value)
              case "event_type" =>
                vec.asInstanceOf[VarCharVector].setSafe(i,
                  ev.eventType.getBytes(StandardCharsets.UTF_8))
              case "props" =>
                val v = vec.asInstanceOf[VarCharVector]
                if (ev.props == null) v.setNull(i)
                else v.setSafe(i, ev.props.getBytes(StandardCharsets.UTF_8))
            }
            i += 1
          }
        }
        root.setRowCount(evs.length)
        val out = new ByteArrayOutputStream()
        val writer = new ArrowStreamWriter(root, null, Channels.newChannel(out))
        try {
          writer.start()
          writer.writeBatch()
          writer.end()
        } finally writer.close()
        out.toByteArray
      } finally root.close()
    } finally alloc.close()
  }
}

/** k26 — the HTTP/Arrow ingest round trip as a gated query: stand up the
  * loopback portal, ingest a block window through [[ArrowHttpSource]]
  * (range + type filters pushed into the request, columns pruned to the
  * wire), aggregate, and compare against DuckDB reading the same parquet
  * directly — the oracle never sees the HTTP path, so transport, decode,
  * clamping and pushdown are all under the hash check. */
object ArrowHttp {
  def k26HttpArrowIngest(spark: SparkSession, dir: String): DataFrame = {
    val stub = ArrowHttpStub.start(spark, dir)
    try {
      spark.read.format("arrow-http")
        .option("url", stub.url)
        .option("blocksPerPartition", "8192")
        .load()
        .where(col("event_id") >= 100 && col("event_id") < 50000)
        .where(col("event_type").isin("click", "purchase", "view"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(38,6)")).cast("double")
            .as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
        // materialize before the portal goes away (the plan is lazy; the
        // stub must outlive the read, not the caller)
        .localCheckpoint(true)
    } finally stub.stop()
  }

  /** st22 — the continuous-ingest mode: the same portal read as a
    * micro-batch STREAM (the reference's pipelines run as a tip-follow
    * loop, not one backfill — scripts/main.py keeps ingesting until the
    * provider height). `maxBlocksPerTrigger` bounds each micro-batch so
    * the AvailableNow drain runs as several committed batches with
    * block-number offsets in the checkpoint — a crash replays at most
    * one bounded batch, never the backfill. The aggregation folds
    * incrementally across batches; the oracle sees only the final
    * table. */
  def st22StreamHttpIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStreams.{Sink, runToTable}
    val stub = ArrowHttpStub.start(spark, dir)
    try {
      val agg = spark.readStream.format("arrow-http")
        .option("url", stub.url)
        .option("toBlock", "30000")
        .option("maxBlocksPerTrigger", "4096")
        .option("blocksPerPartition", "2048")
        .load()
        .where(col("event_type").isin("click", "view"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(38,6)")).cast("double")
            .as("sum_value"))
      // a memory-sink result is driver-side rows: reading it never
      // touches the portal, so the stub can stop before the caller reads
      runToTable(agg, Sink.Memory("complete")).orderBy(col("event_type"))
    } finally stub.stop()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k26_http_arrow_ingest" -> (k26HttpArrowIngest _),
    "st22_stream_http_ingest" -> (st22StreamHttpIngest _))

  val oracle: Map[String, String] = Map(
    "k26_http_arrow_ingest" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  MAX(ts) AS max_ts
        |FROM events
        |WHERE event_id >= 100 AND event_id < 50000
        |  AND event_type IN ('click', 'purchase', 'view')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "st22_stream_http_ingest" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_id < 30000
        |  AND event_type IN ('click', 'view')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
}
