package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The table loaders' parquet schema cache: a repeated read starts no
  * Spark job, and a file rewritten at the same path is read again. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  /** Spark jobs started on this thread while `body` runs. A marker job
    * after `body` drains the listener bus: events reach a listener in
    * order, so once the marker's start arrives every earlier one has. */
  private def jobsStartedBy(body: => Any): Int = {
    val tag = "graft.test.phase"
    val started = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body") => started.incrementAndGet(): Unit
          case Some("marker") => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      body
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      started.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a second Tables(spark, dir).lineitem starts no Spark job") {
    Tables(spark, sfDir).lineitem
    assert(jobsStartedBy(Tables(spark, sfDir).lineitem) === 0)
  }

  test("a parquet file rewritten at the same path gets its new schema") {
    val dir = Scratch.dir("tables_")
    // one parquet file at <dir>/lineitem.parquet, the layout of the sf dirs
    def writeLineitem(df: DataFrame): Unit = {
      val tmp = new File(dir, "tmp").getPath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(dir, "lineitem.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING): Unit
    }
    writeLineitem(spark.range(3).toDF("a"))
    assert(jobsStartedBy(Tables(spark, dir).lineitem) >= 1,
      "the first read infers the schema with a Spark job")
    assert(jobsStartedBy(Tables(spark, dir).lineitem) === 0)
    writeLineitem(spark.range(3).selectExpr("id AS a", "id * 2 AS b"))
    val reread = Tables(spark, dir).lineitem
    assert(reread.columns.toSeq === Seq("a", "b"))
    assert(reread.selectExpr("sum(b)").head().getLong(0) === 6L)
  }
}
