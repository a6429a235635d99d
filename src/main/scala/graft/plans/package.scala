package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

package object plans {
  /** Adds `s` to the session's extra strategies unless it is there. */
  private[graft] def register(spark: SparkSession, s: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(s))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ s
}
