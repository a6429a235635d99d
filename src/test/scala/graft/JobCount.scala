package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object JobCount {
  /** Spark jobs started on this thread while `body` runs. A marker job
    * after `body` drains the listener bus: events reach a listener in
    * order, so once the marker's start arrives every earlier one has. */
  def startedBy(spark: SparkSession)(body: => Any): Int = {
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
}
