package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated test tables.
  *
  * Mirrors the reference's ingest surface (cherry `ingest.Query` field
  * selection, see /root/reference/src/cherry_pipelines/evm/erc20_transfers.py:86-116):
  * callers project the columns they need and Catalyst pushes the pruning +
  * predicates into the parquet scan. At cluster scale the same loaders work
  * unchanged against a directory of many files.
  */
object Tables {
  /** Older driver-generated events.parquet stored TIMESTAMP(NANOS), which
    * Spark's parquet reader rejects unless nanos are read as long (legacy
    * conf); newer generations store plain TIMESTAMP(MICROS), which Spark
    * reads as TIMESTAMP_NTZ. The ONE copy of the load-time contract every
    * events reader (batch loader, file stream, pipeline demos) shares:
    * whatever the file holds, `ts` comes out as a session-zone (UTC)
    * microsecond TimestampType — the type the DuckDB oracle compares at.
    */
  def enableNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set(NanosAsLong, "true")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => // TIMESTAMP_NTZ: session tz is pinned UTC, so the cast
                // preserves the wall-clock value the oracle sees
        df.withColumn("ts", expr("cast(ts as timestamp)"))
    }

  /** Parquet schemas keyed by (path, newest file mtime, total bytes,
    * nanosAsLong) — the setting decides how a TIMESTAMP(NANOS) column
    * reads, and a rewritten table changes mtime or length, so it is read
    * again. */
  private val schemaCache =
    new ConcurrentHashMap[(String, Long, Long, String), StructType]

  /** The schema of the parquet file or directory at `path`. Inferring it
    * starts a Spark job that reads a footer; a cached schema costs one
    * driver-side file listing. A missing path surfaces Spark's own
    * error. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return spark.read.parquet(path).schema
    var mtime = 0L
    var bytes = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      mtime = math.max(mtime, f.getModificationTime)
      bytes += f.getLen
    }
    val key = (path, mtime, bytes, spark.conf.get(NanosAsLong, "false"))
    schemaCache.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  /** Spread a NARROW scan before a per-row-expensive kernel (signature
    * hashing, per-shingle digests, distance kernels). Parquet scan
    * parallelism is bounded by row groups: a table written as one row
    * group yields ONE scan task no matter the split size, serializing
    * the whole kernel pass behind a single core — the guide's
    * "unsplittable input" skew case (§2.5: repartition immediately after
    * the read). Scale-adaptive by construction: it only fires when the
    * scan offers fewer partitions than the cluster has slots, so a
    * sharded 100 TB corpus (thousands of scan partitions) passes through
    * untouched and pays NO extra exchange — the shuffle only ever moves
    * an input small enough to have arrived under-partitioned. */
  def spreadNarrow(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    // static file-count probe — never executes the plan (df.rdd would
    // materialize AQE shuffle stages just to ask); one row-group gate
    // files ⇒ one file ⇒ one scan task, which is the case this fixes.
    // Fire only on SEVERE under-partitioning (< a quarter of the slots):
    // measured at sf1, a 10-file scan on 32 cores loses more to the
    // full-payload round-robin exchange than the extra 3× parallelism
    // returns (d02 2.46→3.21 s when spread), while the 1-file gate scans
    // win 2–4×. files*4 ≤ slots keeps both regimes on their better plan.
    val files = df.inputFiles.length
    if (files > 0 && files * 4 <= slots) df.repartition(slots) else df
  }
}

final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.schemaOf(spark, path)).parquet(path)
  }

  private def eventsRaw: DataFrame = {
    Tables.enableNanosAsLong(spark)
    Tables.normalizeEventTs(t("events"))
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def events: DataFrame     = eventsRaw
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}
