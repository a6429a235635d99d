package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Pins the one staged-replay source every finite stream reads: part files
  * are admitted in key-range order, st09's flushed replay reuses the event
  * chunk files, and a staging is built once per key. */
class ReplaySpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  /** A replay's part files in admission order; their mtimes strictly
    * increase in that order, and no other part file is in its dir. */
  private def staged(key: String): Seq[File] = {
    val s = EventStreams.replays.get(key)
    assert(increasing(s.files.map(_.lastModified)), s.files)
    assert(new File(s.dir).list().count(_.startsWith("part-")) ===
      s.files.size)
    s.files
  }

  private def increasing(xs: Seq[Long]): Boolean =
    xs.zip(xs.drop(1)).forall { case (a, b) => a < b }

  /** (min, max) of `key` in each file. */
  private def ranges(files: Seq[File], key: Column): Seq[(Long, Long)] = {
    assert(files.size >= 2, files)
    files.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min(key), max(key)).head()
      (r.getLong(0), r.getLong(1))
    }
  }

  private def inOrder(rs: Seq[(Long, Long)]): Boolean =
    rs.zip(rs.drop(1)).forall { case ((_, hi), (lo, _)) => hi <= lo }

  private def docsDir(n: Int): String = {
    val dir = Files.createTempDirectory("graft-replay").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val rows = (0L until n.toLong).map(i =>
      Row(i, text, "en", "a", text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("event chunks are admitted in ts-range order") {
    EventStreams.eventsStreamChunked(spark, sfDir)
    assert(inOrder(ranges(staged(s"$sfDir#chunks"), unix_micros(col("ts")))))
  }

  test("st23 and st28 replays are admitted in doc_id-range order") {
    val dir = docsDir(40)
    EventStreams.st23StreamPack(spark, dir).collect()
    EventStreams.st28StreamLengthBatches(spark, dir).collect()
    Seq("#pack", "#lenb").foreach { k =>
      assert(inOrder(ranges(staged(dir + k), col("doc_id"))), k)
    }
  }

  test("st18 admits its bulk in ts-range order, then the frontier, then " +
    "the stragglers") {
    EventStreams.st18LateData(spark, sfDir).collect()
    val files = staged(s"$sfDir#st18")
    val old = col("ts") < lit("2024-01-25")
    val late = old && pmod(col("event_id"), lit(10)) === 0
    // 0 = on-time bulk, 1 = frontier, 2 = stragglers
    val waves = files.map { f =>
      val df = spark.read.parquet(f.getPath)
      val kinds = Seq(old && !late, !old, late).map(df.filter(_).count() > 0)
      assert(kinds.count(identity) === 1, f)
      kinds.indexOf(true)
    }
    assert(waves === waves.sorted)
    assert(waves.count(_ == 1) === 1 && waves.count(_ == 2) === 1, waves)
    assert(inOrder(ranges(files.take(waves.count(_ == 0)),
      unix_micros(col("ts")))))
  }

  test("st09's flushed replay links the event chunk files and adds one " +
    "sentinel") {
    EventStreams.st04StreamJoin(spark, sfDir).collect()
    EventStreams.st19StreamOuterJoin(spark, sfDir).collect()
    EventStreams.st09SessionWindow(spark, sfDir).collect()
    val chunks = staged(s"$sfDir#chunks")
    val flushed = staged(s"$sfDir#flushed")
    assert(flushed.size === chunks.size + 1)
    chunks.zip(flushed).foreach { case (c, f) =>
      assert(Files.isSameFile(c.toPath, f.toPath), (c, f))
    }
    val sentinel = spark.read.parquet(flushed.last.getPath)
      .select("user_id").collect().map(_.getLong(0)).toSeq
    assert(sentinel === Seq(-1L))
  }

  test("a capped replay admits ceil(files / cap) files per trigger") {
    val key = s"spec#${java.util.UUID.randomUUID}"
    val src = EventStreams.replay(spark, key, triggerCap = 2)(Seq(
      EventStreams.written(spark.range(40).toDF().repartitionByRange(4,
        col("id")))))
    var batches = Seq.empty[Long]
    EventStreams.runToTable(src, EventStreams.Sink.Memory("append"),
      check = q => batches = q.recentProgress.toSeq.map(_.numInputRows)
        .filter(_ > 0))
    val rows = EventStreams.replays.get(key).rows
    assert(rows.size === 4 && rows.sum === 40L, rows)
    assert(batches === rows.grouped(2).map(_.sum).toSeq)
  }

  test("a second call reuses its staging and starts no job") {
    var builds = 0
    val key = s"spec#${java.util.UUID.randomUUID}"
    val waves = Seq[EventStreams.Wave] { out =>
      builds += 1
      spark.range(8).repartitionByRange(2, col("id")).write.parquet(out)
    }
    assert(EventStreams.replay(spark, key)(waves).isStreaming)
    val again = JobCount.startedBy(spark) {
      EventStreams.replay(spark, key)(waves)
    }
    assert(builds === 1)
    assert(again === 0)
    val rows = EventStreams.replays.get(key).rows
    assert(rows.size === 2 && rows.sum === 8L, rows)

    val dir = docsDir(40)
    EventStreams.st23StreamPack(spark, dir).collect()
    val before = EventStreams.replays.get(s"$dir#pack")
    val files = staged(s"$dir#pack").map(f => (f, f.lastModified))
    EventStreams.st23StreamPack(spark, dir).collect()
    assert(EventStreams.replays.get(s"$dir#pack") eq before)
    assert(staged(s"$dir#pack").map(f => (f, f.lastModified)) === files)

    EventStreams.eventsStreamChunkedFlushed(spark, sfDir)
    assert(JobCount.startedBy(spark) {
      EventStreams.eventsStreamChunked(spark, sfDir)
      EventStreams.eventsStreamChunkedFlushed(spark, sfDir)
    } === 0)
  }
}
