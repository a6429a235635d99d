package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Incremental
import graft.sinks.Writers
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** Streaming (st01/st02), sink (k01/k02), and pipeline (k03) specs.
  *
  * Streaming tests drive the SAME transforms the driver-verified queries
  * use, but over a MemoryStream across multiple micro-batches — proving the
  * state actually carries between batches (the part a single-batch file run
  * can't show).
  */
class StreamingSinksSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("st01 windowed agg across micro-batches: counts and sums fold in") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedAgg(events)
      .writeStream.format("memory").queryName("st01_test")
      .outputMode("complete").start()
    try {
      in.addData((ts("2024-01-01 01:00:00"), "click", 1.0),
        (ts("2024-01-01 09:00:00"), "click", 2.0),
        (ts("2024-01-02 03:00:00"), "view", 5.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 23:00:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("st01_test")
        .orderBy("day", "event_type")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3)))
      // second batch folded into the already-open day-1 click window
      assert(rows.toSeq === Seq(
        ("2024-01-01 00:00:00.0", "click", 3L, 7.0),
        ("2024-01-02 00:00:00.0", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("st02 sessionization state carries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.sessionize(in.toDS()).toDF()
      .writeStream.format("memory").queryName("st02_test")
      .outputMode("update").start()
    try {
      val h = 3600L * 1000000L // one hour in µs
      // batch 1: user 1 two close events (one session); user 2 one event
      in.addData(Ev(1L, 10L, 0L), Ev(1L, 11L, h / 6), Ev(2L, 20L, 0L))
      q.processAllAvailable()
      // batch 2: user 1 returns 2h later → must open a SECOND session,
      // which only works if the state row survived batch 1
      in.addData(Ev(1L, 12L, 2 * h))
      q.processAllAvailable()
      val last = spark.table("st02_test").groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_sessions"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.n_sessions"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(last === Set((1L, 3L, 2L), (2L, 1L, 1L)))
    } finally q.stop()
  }

  test("st02 file-stream query equals the batch lag/gap computation") {
    val got = EventStreams.st02StreamState(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = spark.sql(
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  1 + COALESCE(SUM(CASE WHEN prev IS NOT NULL
         |        AND us - prev > 1800000000 THEN 1 ELSE 0 END), 0)
         |    AS n_sessions
         |FROM (SELECT user_id, unix_micros(ts) AS us,
         |        LAG(unix_micros(ts)) OVER (
         |          PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |      FROM ${eventsView()})
         |GROUP BY user_id ORDER BY user_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
  }

  private def eventsView(): String = {
    graft.sources.Tables(spark, sfDir).events.createOrReplaceTempView("ev_tmp")
    "ev_tmp"
  }

  test("st09 append mode + flush sentinel emits the complete session set" +
    " and the sentinel row never reaches the output") {
    val out = EventStreams.st09SessionWindow(spark, sfDir)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(!got.exists(_._1 < 0), "flush sentinel leaked into the output")
    // batch truth with the oracle's gap rule: a gap of EXACTLY 30 min
    // stays in-session (session_window's end bound is exclusive-extended)
    val want = spark.sql(
      s"""WITH marked AS (
         |  SELECT user_id, ts, CASE WHEN unix_micros(ts) -
         |      LAG(unix_micros(ts)) OVER (PARTITION BY user_id
         |        ORDER BY ts, event_id) > 1800000000
         |    THEN 1 ELSE 0 END AS new_session
         |  FROM ${eventsView()}),
         |assigned AS (
         |  SELECT user_id, ts, SUM(new_session) OVER (
         |      PARTITION BY user_id ORDER BY ts
         |      ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM marked)
         |SELECT user_id, MIN(ts) AS session_start,
         |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         |  COUNT(*) AS n_events
         |FROM assigned GROUP BY user_id, session_id""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(got === want,
      "append-mode session set diverged from the batch computation")
  }

  test("k01 layout: one directory per partition value, rows sorted in-file") {
    val out = Files.createTempDirectory("k01_spec_").toString
    val orders = graft.sources.Tables(spark, sfDir).orders
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate")
    Writers.partitionedSortedParquet(orders, out,
      Seq("o_orderpriority"), Seq("o_orderdate", "o_orderkey"),
      bloomCols = Seq("o_custkey"))
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("o_orderpriority=")))
    // every physical file individually sorted by the sort key
    val files = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val rows = spark.read.parquet(f.getPath)
        .select(col("o_orderdate").cast("string"), col("o_orderkey"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq === rows.toSeq.sorted, s"unsorted file ${f.getName}")
    }
    // round trip is lossless
    assert(spark.read.parquet(out).count() === orders.count())
  }

  test("k08 compaction: many splinter files → size-targeted few, same rows") {
    val root = Files.createTempDirectory("k08_spec_").toString
    val src = graft.sources.Tables(spark, sfDir).events
      .select(col("event_id"), col("user_id"), col("value"))
    src.repartition(32).write.parquet(s"$root/frag")
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$root/frag").length === 32)
    val nOut = Writers.compactParquet(spark, s"$root/frag", s"$root/out",
      targetBytes = 256L << 10)
    val outFiles = parquetFiles(s"$root/out")
    assert(outFiles.length === nOut)
    assert(outFiles.length < 32, "compaction must reduce the file count")
    // never changes rows
    assert(spark.read.parquet(s"$root/out").count() === src.count())
    // a tiny target forces multiple output files (bin packing responds
    // to the target, not a fixed count)
    val nSmall = Writers.compactParquet(spark, s"$root/frag", s"$root/out2",
      targetBytes = 8L << 10)
    assert(nSmall > nOut)
  }

  test("k01 bloom option lands in footers for non-dictionary columns") {
    // parquet only writes a bloom when the chunk is NOT fully
    // dictionary-encoded (the dictionary already gives exact skipping) —
    // i.e. precisely the high-cardinality 100 TB address-column case, so
    // the spec uses a cardinality that defeats the dictionary
    import spark.implicits._
    val out = Files.createTempDirectory("k01_bloom_").toString
    val df = (0L until 50000L)
      .map(i => (i, i * 2654435761L % 1000000007L, (i % 4).toString))
      .toDF("id", "addr", "part")
    Writers.partitionedSortedParquet(df, out, Seq("part"), Seq("id"),
      bloomCols = Seq("addr"))
    val f = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new org.apache.hadoop.fs.Path(f.getPath))
    val chunk = footer.getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "addr").get
    assert(chunk.getBloomFilterOffset >= 0,
      s"no bloom for addr (enc=${chunk.getEncodings})")
  }

  test("k02 jdbc sink resolves ClickHouse-appropriate writer options") {
    val o = Writers.JdbcSink("jdbc:clickhouse://ch:8123/db", "t",
      batchSize = 50000, numPartitions = 4).options
    assert(o("isolationLevel") === "NONE") // MergeTree has no txns
    assert(o("batchsize") === "50000")
    assert(o("numPartitions") === "4")
    assert(o("truncate") === "true")
    assert(o("dbtable") === "t")
  }

  test("k12 dynamic overwrite replaces ONLY the carried partitions") {
    import spark.implicits._
    val root = Files.createTempDirectory("k12_spec_").toString + "/t"
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "pt", "v")
    df.write.partitionBy("pt").parquet(root)
    def files(p: String): Set[(String, Long)] =
      new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toSet
    val untouchedBefore = files(s"$root/pt=b")
    df.filter($"pt" === "a").withColumn("v", $"v" * 10)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("pt").parquet(root)
    // partition b: same files, same mtimes — no rewrite happened there
    assert(files(s"$root/pt=b") === untouchedBefore)
    val got = spark.read.parquet(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(r.fieldIndex("v"))))
    assert(got === Array((1L, 10.0), (2L, 2.0), (3L, 30.0)))
  }

  test("k13 snapshot publish: torn writes invisible, old versions travel") {
    import spark.implicits._
    val root = Files.createTempDirectory("k13_spec_").toString
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val v2 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    Writers.publishVersion(spark, root, 1, v1)
    Writers.publishVersion(spark, root, 2, v2)
    // torn write: parquet present, never manifested
    Seq((99L, "zz")).toDF("id", "s").write.parquet(s"$root/data_v3")
    assert(Writers.readCurrent(spark, root).count() === 3)
    assert(Writers.readCurrent(spark, root)
      .filter($"id" === 99L).count() === 0)
    // time travel: v1's manifest still resolves to exactly v1's rows
    assert(Writers.readVersion(spark, root, 1)
      .orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("k31 pinned time travel survives a later delete-rewrite") {
    import spark.implicits._
    val root = Files.createTempDirectory("k31_spec_").toString
    Writers.publishVersion(spark, root, 1, Seq((1L, "u1"), (2L, "u2"))
      .toDF("id", "s"))
    Writers.publishAppend(spark, root, 2, Seq((3L, "u3")).toDF("id", "s"))
    // erasure rewrite: v3 drops id=2 entirely (fresh files, no lineage
    // with v2's manifest) and CURRENT moves to it
    Writers.stageVersion(spark, root, 3, Seq((1L, "u1"), (3L, "u3"))
      .toDF("id", "s"))
    Writers.publishPointer(spark, root, 3)
    assert(Writers.readCurrent(spark, root)
      .filter($"id" === 2L).count() === 0, "v3 must not contain the erased row")
    // the pinned v2 reader still sees the erased row: old manifests are
    // immutable under later rewrites
    assert(Writers.readVersion(spark, root, 2)
      .orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("k02 live JDBC round trip (embedded Derby) is lossless") {
    val out = Writers.k02JdbcSink(spark, sfDir).collect()
    assert(out.length === 25)
    assert(out.map(_.getAs[Number](0).longValue).toSeq === (0L until 25L))
    assert(out.forall(r => r.getString(1).nonEmpty && r.getString(2).nonEmpty))
  }

  test("k04 bucketed co-located join: the join itself needs no exchange") {
    Writers.k04BucketedJoin(spark, sfDir).count() // builds bucketed tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = Writers.bucketedJoinPlan(spark).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
      assert(p.contains("SortMergeJoin"), p)
      // only the post-join groupBy re-keys; the join reads bucket layout
      val exchanges = p.sliding("Arguments: hashpartitioning".length)
        .count(_ == "Arguments: hashpartitioning")
      assert(exchanges <= 1, s"bucketed join still shuffles:\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("k04 memo rebuilds when the same session alternates datasets") {
    // regression: a grow-only memo once returned the PREVIOUS dataset's
    // join results when alternating sf dirs in one session
    val a = Writers.k04BucketedJoin(spark, "/root/testdata/sf0.001")
      .agg(org.apache.spark.sql.functions.sum("n_lines")).head.getLong(0)
    val b = Writers.k04BucketedJoin(spark, "/root/testdata/sf0.01")
      .agg(org.apache.spark.sql.functions.sum("n_lines")).head.getLong(0)
    val a2 = Writers.k04BucketedJoin(spark, "/root/testdata/sf0.001")
      .agg(org.apache.spark.sql.functions.sum("n_lines")).head.getLong(0)
    assert(b > a, "sf0.01 must join more lineitem rows than sf0.001")
    assert(a2 === a, "returning to the first dataset must rebuild, not reuse")
  }

  test("k15 z-order concentrates a 2-D box into fewer files than 1-D sort") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val root = graft.Scratch.dir("k15spec_")
    val li = spark.read
      .parquet(s"${SparkSessionFixture.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    sinks.Writers.zorderedWrite(li, s"$root/z", "l_partkey", "l_suppkey",
      files = 8)
    // 1-D competitor: range-sorted by partkey alone, same file count
    li.repartitionByRange(8, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.parquet(s"$root/flat")
    def spread(path: String, lo: Int, hi: Int): (Long, Long) = {
      val d = spark.read.parquet(path)
      // project the non-deterministic input_file_name BEFORE aggregating
      val all = d.select(input_file_name().as("f")).distinct().count()
      val hit = d
        .filter(col("l_partkey").between(lo, hi) &&
          col("l_suppkey").between(1, 2))
        .select(input_file_name().as("f")).distinct().count()
      (hit, all)
    }
    // a box selective in BOTH dims: the partkey slice alone spans several
    // 1-D files' worth of rows only when wide — use a WIDE partkey range
    // so the 1-D layout must touch many files while z keeps both dims local
    val (zHit, zAll) = spread(s"$root/z", 0, 1999)
    val (fHit, fAll) = spread(s"$root/flat", 0, 1999)

    assert(zAll === 8L && fAll === 8L, s"layouts wrote $zAll/$fAll files")
    // suppkey 1..2 is ~20% of rows: the 1-D partkey sort scatters them
    // over every file; z-order confines them to the sub-squares that
    // minmax stats (on a z column or on both dims) can skip
    assert(fHit === 8L, s"1-D layout unexpectedly clustered: $fHit")
    assert(zHit <= 4L, s"z-order spread the box over $zHit of 8 files")
  }

  test("st13 idempotent sink: replays skipped, crashed partials replaced") {
    import spark.implicits._
    val sink = EventStreams.IdempotentSink(graft.Scratch.dir("st13spec_"))
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink.writeBatch(b0, 0L)
    // a replay of batch 0 — even one carrying DIFFERENT data (a buggy
    // non-deterministic upstream) — must not change the committed state
    sink.writeBatch(Seq((9L, "x")).toDF("id", "v"), 0L)
    assert(sink.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L))
    // crash between data write and marker: partial batch_1 exists,
    // uncommitted — invisible to readers, then cleanly replaced on retry
    Seq((7L, "partial")).toDF("id", "v")
      .write.parquet(sink.root + "/batch_1")
    assert(sink.read(spark).count() === 2)
    sink.writeBatch(Seq((3L, "c")).toDF("id", "v"), 1L)
    assert(sink.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L), "retry must replace the partial, not append")
  }

  test("st13 idempotent sink reads back with the committed schema, no job") {
    import spark.implicits._
    val sink = EventStreams.IdempotentSink(graft.Scratch.dir("st13schema_"))
    sink.writeBatch(Seq((1L, "a", 2.5)).toDF("id", "v", "x"), 0L)
    sink.writeBatch(Seq((2L, "b", 3.5)).toDF("id", "v", "x"), 1L)
    assert(JobCount.startedBy(spark)(sink.read(spark)) === 0)
    // what the read declares is what inference over the files finds
    assert(sink.read(spark).schema ===
      spark.read.parquet(s"${sink.root}/batch_0").schema)
    assert(sink.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L))
  }

  test("k29 quantile sketch: estimates bound the exact quantile inside " +
    "one bin, and the pre-agg is KB-scale, not fact-scale") {
    val out = Writers.k29QuantileRollup(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (p95, x95) = (r.getLong(4), r.getLong(7))
      // lower-bound estimate: p <= exact, and exact < p * (1 + 1/16)
      // (the 16-sub-bin octave geometry) — for all three quantiles
      Seq((r.getLong(3), r.getLong(6)), (p95, x95),
        (r.getLong(5), r.getLong(8))).foreach { case (p, x) =>
        assert(p <= x && (x < 32 || x < p + (p + 15) / 16),
          s"exact $x escaped its bin [$p, ~${p + p / 16}]")
      }
      assert(r.getBoolean(9), s"est_ok must hold: $r")
    }
    // the persisted sketch is VALUE-DOMAIN-bounded: ≤ ~16 bins per value
    // octave per hour, independent of the hour's event count — that
    // bound (not the tiny-fixture row count) is the 100 TB compression
    val pre = Writers.k29HourlySketch(spark, sfDir)
    val hours = pre.select("hour").distinct().count()
    assert(pre.count() <= hours * 200,
      "sketch rows must be bounded by hours x bin domain")
    assert(pre.groupBy("hour").count().agg(max("count")).head.getLong(0)
      <= 200L, "per-hour sketch must be bounded by bin count, not events")
  }

  test("k30 count-min top-k: estimate never undercounts, top-1 is the " +
    "true daily maximum, and the sketch is domain-bounded") {
    val out = Writers.k30CmsTopk(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2),
        s"CMS one-sided guarantee violated: $r")
      assert(r.getBoolean(5), s"est_ok must hold: $r")
    }
    // rank-1 per day must carry that day's true max exact count
    val days = out.groupBy(_.get(0))
    days.values.foreach { rs =>
      val top = rs.find(_.getInt(4) == 1).get
      assert(rs.forall(_.getLong(2) <= top.getLong(2)),
        "rank-1 is not the day's exact maximum")
    }
    // Exactness is a STATISTICAL property of the 4x512 sketch vs the
    // corpus' daily user cardinality, not a contract — so derive the
    // expected collision rate FROM the corpus instead of hard-coding a
    // majority that would fail spuriously if the shared test corpus
    // grows. A candidate's estimate is inexact only when all 4 rows
    // collide: p_row = 1-(1-1/512)^(U-1) with U = the worst day's
    // distinct users, P(inexact) = p_row^4 under row independence.
    // Allow the binomial mean + 3 sigma + 3 (small-N slack); the hard
    // one-sided est >= exact contract above is corpus-independent.
    val maxDailyUsers = spark.read
      .parquet(s"$sfDir/events.parquet")
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .groupBy("day").agg(countDistinct("user_id").as("u"))
      .agg(max("u")).head.getLong(0)
    val pRow = 1.0 - math.pow(1.0 - 1.0 / 512.0, (maxDailyUsers - 1).toDouble)
    val expInexact = out.length * math.pow(pRow, 4)
    val allowed = expInexact + 3 * math.sqrt(expInexact) + 3
    val exactHits = out.count(r => r.getLong(3) == r.getLong(2))
    assert(out.length - exactHits <= allowed,
      s"only $exactHits/${out.length} estimates exact against an expected " +
        s"~${out.length - expInexact.toInt} (U=$maxDailyUsers) — hash " +
        "kernel suspect")
  }

  test("st25 streamed quantiles equal k29's batch quantiles exactly " +
    "(integer sketch is merge-order-free)") {
    val streamed = EventStreams.st25StreamQuantile(spark, sfDir)
      .select("day", "n_events", "p50_cents", "p95_cents", "p99_cents")
    val batch = Writers.k29QuantileRollup(spark, sfDir)
      .select("day", "n_events", "p50_cents", "p95_cents", "p99_cents")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).union(batch.except(streamed)).count()
      === 0L, "micro-batch histogram folding diverged from batch binning")
  }

  test("k17 vacuum keeps files shared with retained append manifests") {
    import spark.implicits._
    val root = graft.Scratch.dir("k17spec_")
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b = Seq((3L, "c")).toDF("id", "v")
    Writers.publishVersion(spark, root, 1, a)
    Writers.publishAppend(spark, root, 2, b)  // v2 manifest REUSES v1 files
    Writers.publishVersion(spark, root, 3, a.union(b))
    // keep v2+v3: v1's manifest expires, but its data files are members
    // of v2's manifest and MUST survive the reference-counted delete
    assert(Writers.vacuumVersions(spark, root, keep = 2) === Seq(1))
    assert(Writers.readVersion(spark, root, 2).count() === 3,
      "v2 must still read after v1 expired (shared files retained)")
    assert(Writers.readCurrent(spark, root).count() === 3)
    intercept[Exception](Writers.readVersion(spark, root, 1).collect())
    // a second vacuum down to keep=1 now really deletes the shared files
    assert(Writers.vacuumVersions(spark, root, keep = 1) === Seq(2))
    intercept[Exception](Writers.readVersion(spark, root, 2).collect())
    assert(Writers.readCurrent(spark, root).count() === 3)
  }

  test("k03 incremental ∘ resume equals one-shot batch") {
    import spark.implicits._
    val sink = Files.createTempDirectory("k03_spec_").toString + "/s"
    val src = (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
    val pipe = Incremental.Pipeline(Seq(
      Incremental.Step("t", _.withColumn("v3", col("v") * 3))))
    assert(Incremental.nextStart(spark, sink, "k") === 0L)
    assert(Incremental.minKey(spark, sink, "k") === None) // absent sink
    assert(Incremental.runIncrement(src.filter(col("k") < 40), sink, "k",
      pipe) === 0L)
    assert(Incremental.nextStart(spark, sink, "k") === 40L)
    // second tick resumes at 40 and appends ONLY the new keys
    assert(Incremental.runIncrement(src, sink, "k", pipe) === 40L)
    // re-delivering the SAME source is idempotent: tick 3 appends nothing
    assert(Incremental.runIncrement(src, sink, "k", pipe) === 100L)
    assert(Incremental.minKey(spark, sink, "k") === Some(0L)) // min probe
    val got = spark.read.parquet(sink).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 100)
    assert(got.toSeq === (0L until 100L).map(i => (i, i * 2, i * 6)))
  }

  test("st19 boundary: null-extension fires at horizon <= watermark - 1ms" +
    " exactly (ms-floored stats), never at the watermark itself") {
    import spark.implicits._
    // ns-precision events planted AROUND the eviction boundary: with
    // max(click)=max(purchase)=Mp, the join watermark W = Mp - 30min and
    // Spark's state-value watermark is W - 1ms. Clicks with match
    // horizon (c_ts + 1h) at W, W-1us and W+1us must be HELD; at W-1ms
    // and W-1s must null-extend.
    val US = 1000L; val MS = 1000L * US; val S = 1000L * MS
    val H = 3600L * S; val MIN = 60L * S
    val base = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      .getTime * 1000000L
    val Mp = base + 10 * H
    val W = Mp - 30 * MIN
    val rows = Seq(
      (900L, Mp, 99L, "purchase", 1.0, "{}"),
      (901L, base, 98L, "purchase", 1.0, "{}"),
      (800L, Mp, 97L, "click", 1.0, "{}"),      // keeps max(click) = Mp
      (1L, W - H, 1L, "click", 1.0, "{}"),      // horizon == W
      (2L, W - H - US, 2L, "click", 1.0, "{}"), // horizon = W - 1us
      (3L, W - H - MS, 3L, "click", 1.0, "{}"), // horizon = W - 1ms
      (4L, W - H + US, 4L, "click", 1.0, "{}"), // horizon = W + 1us
      (5L, W - H - S, 5L, "click", 1.0, "{}"))  // horizon = W - 1s
    val dir = java.nio.file.Files.createTempDirectory("graft-st19").toString
    // ts as a LONG nanos column — the driver files' TIMESTAMP(NANOS)
    // arrive through the same nanos→µs normalization path. The stream's
    // pathGlobFilter matches a FILE named events.parquet, so the staged
    // part file is renamed to that exact name (a directory would match
    // nothing and silently yield an empty stream).
    val stage = s"$dir/_stage"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(stage)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(
      s"$dir/events.parquet")), "test staging rename failed")
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    val nullExtended = EventStreams.st19StreamOuterJoin(spark, dir)
      .collect().filter(_.isNullAt(2)).map(_.getLong(1)).toSet
    assert(nullExtended === Set(3L, 5L),
      "eviction boundary drifted from watermark - 1ms")
  }
}
