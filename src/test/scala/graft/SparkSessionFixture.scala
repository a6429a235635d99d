package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite — JVM-wide singleton so
  * ScalaTest suites don't pay SparkContext startup per suite. Plan audits
  * see the geometry the mains run; 4 cores keep tests host-independent. */
object SparkSessionFixture {
  lazy val spark: SparkSession = Session(cores = 4, shufflePartitions = 4)
  val sfDir = "/root/testdata/sf0.001"
}
