package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, DynamicPruningExpression}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracing from outside the program, for the traced run.
  *
  * The harness opens a span per pass, per query execution and per call
  * into `graft.SparkEntry` (`entry.build`), the sink write
  * (`entry.materialize`) and the cleanup (`entry.cleanup`). Spark's public
  * listeners add the work under them:
  *   - `SparkListener`: jobs (as `spark.job` spans), stages and task
  *     metrics (scheduler, executor, sources, shuffle layers);
  *   - `QueryExecutionListener`: planning phases and the final physical
  *     plan's SQL metrics (sources, operators, sinks layers);
  *   - `StreamingQueryListener`: micro-batches (as `streaming.batch`
  *     spans) and their progress (streaming layer).
  * Queries run one at a time, so an event belongs to the query execution
  * whose span holds its start time; streaming events are keyed by run id,
  * bound to the query execution that started the run (the started event
  * is delivered synchronously on the starting side). Everything is kept in
  * memory and handed over by [[report]] when the run ends.
  */
final class Tracer(spark: SparkSession, clock: Clock)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private final case class Span(id: String, parent: String, name: String,
      start: Double, end: Double)
  private final case class Job(start: Long, group: String, var end: Long)

  private val spans = ArrayBuffer.empty[Span]
  private val queryStarts = ArrayBuffer.empty[Double]
  private val queryKeys = ArrayBuffer.empty[String]
  private val queryEnds = ArrayBuffer.empty[Double]
  @volatile private var current: String = ""
  private val runToKey = new ConcurrentHashMap[String, String]()

  // Raw events, written by the listener threads under `this` lock.
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val sqlStart = mutable.Map.empty[Long, Long]
  private val byTime = ArrayBuffer.empty[(Double, String, Double)]
  private val byStage = ArrayBuffer.empty[(Int, String, Double)]
  private val byRun = ArrayBuffer.empty[(String, String, Double)]
  private val batches = ArrayBuffer.empty[(String, Double, Double)]
  private val lastState = mutable.Map.empty[String, (Double, Double)]
  private var events = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)
  spark.streams.addListener(new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      runToKey.put(e.runId.toString, current)
      Tracer.this.synchronized { byRun += ((e.runId.toString, "streaming.runs", 1)) }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  })

  // ---- harness spans (harness thread) ----

  def begin(key: String): Unit = current = key

  def end(key: String, e: Harness.Exec): Unit = synchronized {
    val pass = key.substring(0, key.lastIndexOf(':'))
    spans += Span(key, pass, "query", e.start, e.cleanEnd)
    spans += Span(s"$key/build", key, "entry.build", e.start, e.buildEnd)
    spans += Span(s"$key/materialize", key, "entry.materialize", e.buildEnd, e.end)
    spans += Span(s"$key/cleanup", key, "entry.cleanup", e.end, e.cleanEnd)
    queryStarts += e.start; queryEnds += e.cleanEnd; queryKeys += key
    current = ""
  }

  /** Bytes of persisted RDD blocks the query leaves behind, read before
    * the cleanup drops them. */
  def storage(key: String): Unit = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (bytes > 0) synchronized { held(key) = bytes.toDouble }
  }
  private val held = mutable.Map.empty[String, Double]

  def pass(key: String, start: Double, end: Double): Unit = synchronized {
    spans += Span(key, "run", "pass", start, end)
  }

  def run(start: Double, end: Double): Unit = synchronized {
    spans += Span("run", null, "run", start, end)
  }

  // ---- SparkListener ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = Job(e.time, group, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val id = e.stageInfo.stageId
    byStage += ((id, "scheduler.stages", 1))
    stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
      val sorted = ms.sorted
      val median = math.max(sorted(sorted.size / 2), 1L)
      byStage += ((id, "scheduler.task_skew_max", sorted.last.toDouble / median))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val s = e.stageId
    def add(name: String, v: Double): Unit = if (v != 0) byStage += ((s, name, v))
    add("scheduler.tasks", 1)
    if (e.reason != Success) add("scheduler.task_failures", 1)
    stageTaskMs.getOrElseUpdate(s, ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("sources.records_read", m.inputMetrics.recordsRead.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.records_read", m.shuffleReadMetrics.recordsRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.spill_mem_bytes", m.memoryBytesSpilled.toDouble)
      add("shuffle.spill_disk_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      events += 1
      sqlStart(s.executionId) = s.time
    }
    case _ =>
  }

  // ---- QueryExecutionListener ----

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execution(funcName, qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    execution(funcName, qe, 0L)

  private def execution(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val plan = qe.executedPlan
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    counts("planning.executions") += 1
    phases.get("analysis").foreach(p => counts("planning.analysis_s") += p.durationMs / 1e3)
    phases.get("optimization").foreach(p => counts("planning.optimization_s") += p.durationMs / 1e3)
    phases.get("planning").foreach(p => counts("planning.physical_s") += p.durationMs / 1e3)
    def metric(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    val nodes = collectWithSubqueries(plan) { case p => p }
    nodes.foreach {
      case s: FileSourceScanExec =>
        counts("sources.files_read") += metric(s, "numFiles")
        counts("sources.scan_s") += metric(s, "scanTime") / 1e3
      case j: BaseJoinExec =>
        counts("operators.join_rows_in") += j.children.map(rows).sum
        counts("operators.join_rows_out") += metric(j, "numOutputRows")
      case b: BroadcastExchangeExec =>
        counts("operators.broadcast_bytes") += metric(b, "dataSize")
      case w: DataWritingCommandExec =>
        counts("sinks.files_written") += metric(w, "numFiles")
        counts("sinks.bytes_written") += metric(w, "numOutputBytes")
        counts("sinks.records_written") += metric(w, "numOutputRows")
        counts("sinks.task_commit_s") += metric(w, "taskCommitTime") / 1e3
        counts("sinks.job_commit_s") += metric(w, "jobCommitTime") / 1e3
      case _ =>
    }
    counts("operators.runtime_filters") += nodes.count(_.expressions.exists(_.exists {
      case _: BloomFilterMightContain | _: DynamicPruningExpression => true
      case _ => false
    }))
    val write = Set("save", "insertInto", "saveAsTable").contains(funcName) ||
      nodes.exists(n => n.isInstanceOf[DataWritingCommandExec] ||
        n.isInstanceOf[V2TableWriteExec])
    if (write) {
      counts("sinks.writes") += 1
      counts("sinks.write_s") += durationNs / 1e9
    }
    synchronized {
      events += 1
      val t = sqlStart.get(qe.id).map(_.toDouble)
        .orElse(phases.values.map(_.startTimeMs.toDouble).minOption)
        .getOrElse(clock.nowMs - durationNs / 1e6)
      counts.foreach { case (k, v) => if (v != 0) byTime += ((t, k, v)) }
    }
  }

  /** Rows a plan node hands to its parent: its own output-row metric, or
    * its children's when it keeps none (exchanges, sorts, stage wrappers). */
  private def rows(p: SparkPlan): Double = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value.toDouble
    case None => (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }).map(rows).sum
  }

  // ---- StreamingQueryListener ----

  private def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    synchronized {
      events += 1
      val run = p.runId.toString
      def ms(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
      val trigger = ms("triggerExecution")
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      batches += ((run, start, start + trigger))
      val empty = p.numInputRows == 0
      val ops = p.stateOperators.toSeq
      Seq(
        "streaming.batches" -> 1.0,
        "streaming.empty_batches" -> (if (empty) 1.0 else 0.0),
        "streaming.input_rows" -> p.numInputRows.toDouble,
        "streaming.add_batch_s" -> ms("addBatch") / 1e3,
        "streaming.empty_batch_s" -> (if (empty) trigger / 1e3 else 0.0),
        "streaming.wal_s" -> ms("walCommit") / 1e3,
        "streaming.commit_offsets_s" -> ms("commitOffsets") / 1e3,
        "streaming.query_planning_s" -> ms("queryPlanning") / 1e3,
        "streaming.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
        "streaming.trigger_s" -> trigger / 1e3,
      ).foreach { case (k, v) => if (v != 0) byRun += ((run, k, v)) }
      // state size is a level, not a flow: keep each run's latest reading
      lastState(run) = (ops.map(_.numRowsTotal).sum.toDouble,
        ops.map(_.memoryUsedBytes).sum.toDouble)
    }

  // ---- report ----

  /** Waits for the listener buses to go quiet, then attributes every event
    * to its query execution. Returns spans, per-execution counters, job
    * intervals and micro-batch durations, as plain Java collections. */
  def report(): java.util.Map[String, Any] = {
    var seen = -1L
    var quiet = 0
    val deadline = clock.nowMs + 15000
    while (quiet < 4 && clock.nowMs < deadline) {
      Thread.sleep(250)
      val now = synchronized(events)
      if (now == seen) quiet += 1 else { quiet = 0; seen = now }
    }
    synchronized {
      def keyAt(t: Double): Option[String] = {
        val i = queryStarts.search(t) match {
          case scala.collection.Searching.Found(i) => i
          case scala.collection.Searching.InsertionPoint(i) => i - 1
        }
        if (i >= 0 && t <= queryEnds(i)) Some(queryKeys(i)) else None
      }
      val jobKey: Map[Int, String] = jobs.toMap.flatMap { case (id, j) =>
        Option(j.group).flatMap(g => Option(runToKey.get(g))).orElse(keyAt(j.start))
          .map(id -> _)
      }
      val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
      var unattributed = 0
      def put(key: Option[String], name: String, v: Double): Unit = key match {
        case Some(k) =>
          val c = counters.getOrElseUpdate(k, mutable.Map.empty[String, Double])
          c(name) = if (name == "scheduler.task_skew_max") math.max(c.getOrElse(name, 0.0), v)
            else c.getOrElse(name, 0.0) + v
        case None => unattributed += 1
      }
      held.foreach { case (k, v) => put(Some(k), "storage.rdd_block_bytes", v) }
      jobs.foreach { case (id, _) => put(jobKey.get(id), "scheduler.jobs", 1) }
      byStage.foreach { case (s, n, v) => put(stageJob.get(s).flatMap(jobKey.get), n, v) }
      byTime.foreach { case (t, n, v) => put(keyAt(t), n, v) }
      byRun.foreach { case (r, n, v) => put(Option(runToKey.get(r)).filter(_.nonEmpty), n, v) }
      lastState.foreach { case (r, (rowsTotal, bytes)) =>
        val k = Option(runToKey.get(r)).filter(_.nonEmpty)
        put(k, "streaming.state_rows", rowsTotal)
        put(k, "streaming.state_memory_bytes", bytes)
      }

      val jobSpans = jobs.toSeq.flatMap { case (id, j) =>
        jobKey.get(id).map(k => Span(s"job:$id", k, "spark.job", j.start.toDouble, j.end.toDouble))
      }
      val batchSpans = batches.zipWithIndex.flatMap { case ((r, s, e), i) =>
        Option(runToKey.get(r)).filter(_.nonEmpty)
          .map(k => Span(s"batch:$i", k, "streaming.batch", s, e))
      }
      val out = new java.util.LinkedHashMap[String, Any]()
      out.put("spans", (spans ++ jobSpans ++ batchSpans).map { s =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
        m.put("start_ms", s.start); m.put("end_ms", s.end)
        m
      }.asJava)
      out.put("counters", counters.map { case (k, c) =>
        k -> c.map { case (n, v) => n -> (v: Any) }.asJava }.asJava)
      out.put("unattributed_events", unattributed)
      out
    }
  }
}
