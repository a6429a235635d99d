package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink operators k01–k02 (SURVEY.md §2): the ClickHouse writer contract
  * re-expressed on Spark-native sinks.
  *
  * The reference's sink is a MergeTree table: `PARTITION BY` a low-card
  * expression, `ORDER BY` a sort key that gives minmax-index file skipping
  * (see /root/reference DDLs under src/cherry_pipelines, e.g.
  * evm/erc20_transfers.py:127-149 init_db). The parquet analog (k01) is
  * `partitionBy(partition cols)` + `sortWithinPartitions(sort key)`:
  * readers get directory-level partition pruning plus parquet row-group
  * minmax pruning on the sort key — the same two levels of skipping.
  */
object Writers {

  /** k01 — partitioned + sorted parquet (MergeTree PARTITION BY/ORDER BY
    * analog). One `repartition(partCols)` shuffle co-locates each output
    * partition so every (partition value) writes few large files instead of
    * numTasks small ones — at 100 TB that's the difference between a
    * readable table and a small-files incident. maxRecordsPerFile bounds
    * file size for downstream parallelism.
    */
  /** `bloomCols` reproduces the reference DDLs' `INDEX ... TYPE
    * bloom_filter` point-lookup skipping via parquet's native bloom
    * filters (readers prune row groups on equality predicates over
    * high-cardinality columns the minmax sort key can't help with). */
  def partitionedSortedParquet(df: DataFrame, path: String,
      partCols: Seq[String], sortCols: Seq[String],
      bloomCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val w = df.repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    bloomCols
      .foldLeft(w)((w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** k02 — JDBC batch sink (ClickHouse writer analog,
    * cc.ClickHouseWriterConfig in the reference pipelines). Batched
    * inserts, bounded write parallelism (ClickHouse prefers few large
    * inserts), no transaction isolation (MergeTree has none). The
    * round-trip query runs against embedded Derby (the JDBC database on
    * Spark's own classpath) — same writer path, same options, different
    * URL; against the reference's ClickHouse only the URL/driver change.
    */
  /** Derby tuning for the embedded scratch databases k02/st06 run
    * against: durability=test skips the per-commit log sync (5–10×
    * insert throughput). Must be set BEFORE the Derby engine boots.
    * JVM-global and unsafe for real data, so it is opt-in per sink
    * (scratchDurability) AND guarded to embedded-Derby URLs — a
    * ClickHouse/Postgres sink can never flip it, and a real embedded
    * Derby opened in the same JVM keeps its per-commit sync unless the
    * caller explicitly declared the database a throwaway. */
  private lazy val derbyScratchTuning: Unit =
    System.setProperty("derby.system.durability", "test"): Unit

  final case class JdbcSink(url: String, table: String,
      user: String = "default", password: String = "",
      batchSize: Int = 100000, numPartitions: Int = 8,
      scratchDurability: Boolean = false,
      // ClickHouse target spec: when set (and the URL is a ClickHouse
      // one), the writer creates the table itself with the reference's
      // MergeTree clauses (ClickHouseDdl.engineClause) and maps column
      // types through the registered ClickHouse JDBC dialect
      clickhouse: Option[ClickHouseDdl.ChTable] = None) {
    if (scratchDurability && url.startsWith("jdbc:derby:"))
      derbyScratchTuning
    if (url.startsWith("jdbc:clickhouse")) ClickHouseDdl.ensureDialect()
    def options: Map[String, String] = Map(
      "url" -> url, "dbtable" -> table,
      "user" -> user, "password" -> password,
      "batchsize" -> batchSize.toString,
      "numPartitions" -> numPartitions.toString,
      "isolationLevel" -> "NONE",
      "truncate" -> "true") ++
      clickhouse.map(t =>
        "createTableOptions" -> ClickHouseDdl.engineClause(t))

    def write(df: DataFrame): Unit =
      df.coalesce(numPartitions).write.format("jdbc")
        .options(options).mode("append").save()

    def read(spark: SparkSession): DataFrame =
      // same identity as the writer — the user names the schema in
      // DBs that scope tables per user (Derby does)
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("user", user).option("password", password).load()
  }

  /** Compact a parquet directory into ~targetBytes-sized files: one
    * file-listing metadata pass sizes the input, then a single coalesce
    * (no shuffle — compaction must not pay a network pass over data it
    * only re-groups) rewrites it. The small-file problem is a first-class
    * 100 TB concern: a streaming sink (st03/st06) or over-parallel
    * upstream leaves thousands of KB-files per partition, and every
    * downstream scan then pays per-file open/footer/scheduling overhead.
    * Returns the output file count. */
  def compactParquet(spark: SparkSession, in: String, out: String,
      targetBytes: Long = 128L << 20): Int = {
    val path = new org.apache.hadoop.fs.Path(in)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recursive: a Hive-partitioned layout keeps its files in subdirs —
    // a flat listStatus would size those inputs at 0 bytes and coalesce
    // the whole dataset into one giant single-task file
    val bytes = graft.sources.Tables.filesUnder(fs, path)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(in)
    // coalesce can only MERGE partitions (splitting would be repartition's
    // shuffle — not compaction's job), so the achievable and REPORTED
    // count is capped by the read's partition count
    val nOut = math.min(target, df.rdd.getNumPartitions).max(1)
    df.coalesce(nOut).write.mode("overwrite").parquet(out)
    nOut
  }

  /** k08 — small-file compaction as a round-trip query: events are first
    * written deliberately fragmented (64 splinter files — the shape a
    * micro-batching sink leaves behind), compacted with compactParquet,
    * and read back. The oracle is the identity projection (compaction
    * must move bytes, never change rows); SinksSpec pins the file-count
    * contract. */
  def k08Compaction(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("k08_")
    val src = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    src.repartition(64).write.parquet(s"$root/frag")
    compactParquet(spark, s"$root/frag", s"$root/compact")
    spark.read.parquet(s"$root/compact").orderBy(col("event_id"))
  }

  /** Keyed upsert-merge into a parquet table (the ReplacingMergeTree
    * analog): existing rows union the updates, a per-key window keeps the
    * highest-version row, and the result rewrites the table. Latest-wins
    * is deterministic as long as callers write at most one row per
    * (key, version) — the contract a version column exists to provide.
    * At 100 TB the rewrite narrows to the key-range-affected partitions
    * of a partitioned table (dynamic partition overwrite) — the merge
    * PLAN (union + one keyed window) is unchanged; here the table is
    * rewritten whole. Reference twin: ClickHouse dedups by sort key at
    * merge time; this is that contract made explicit at write time.
    */
  def mergeUpsert(spark: SparkSession, table: String, updates: DataFrame,
      keyCols: Seq[String], versionCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val existing = spark.read.parquet(table)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc)
    val merged = existing.unionByName(updates.select(existing.columns.toIndexedSeq.map(col): _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // write-then-swap: never rewrite in place over open input files.
    // The swap renames live→backup, staged→live, then drops the backup —
    // so the only non-atomic window leaves BOTH copies on disk, and a
    // false return (HDFS-style filesystems signal failure instead of
    // throwing) aborts with the data intact rather than silently leaving
    // the table deleted and the merge stranded in __staged.
    val tmp = new org.apache.hadoop.fs.Path(table + "__staged")
    val bak = new org.apache.hadoop.fs.Path(table + "__backup")
    val live = new org.apache.hadoop.fs.Path(table)
    merged.write.mode("overwrite").parquet(tmp.toString)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(bak, true)
    if (!fs.rename(live, bak))
      throw new java.io.IOException(
        s"mergeUpsert: rename $live -> $bak failed; table unchanged")
    if (!fs.rename(tmp, live)) {
      fs.rename(bak, live) // best-effort restore of the pre-merge table
      throw new java.io.IOException(
        s"mergeUpsert: rename $tmp -> $live failed; original restored")
    }
    fs.delete(bak, true): Unit
  }

  /** k09 — upsert-merge round trip: batch 1 seeds the table with every
    * event at version 1; batch 2 updates every third event (value+1000)
    * at version 2. After the merge the table holds exactly one row per
    * event_id with latest-wins values — the oracle recomputes that
    * end-state directly from the source. */
  def k09UpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.Scratch.dir("k09_") + "/table"
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    ev.withColumn("version", lit(1L)).write.parquet(table)
    val updates = ev.filter(pmod(col("event_id"), lit(3)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("version", lit(2L))
    mergeUpsert(spark, table, updates,
      keyCols = Seq("event_id"), versionCol = "version")
    spark.read.parquet(table)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("version"))
      .orderBy(col("event_id"))
  }

  /** k10 — malformed-input tolerance at the ingest boundary: a CSV with
    * planted bad rows (every 13th carries a non-numeric value field)
    * reads back under PERMISSIVE mode — parseable fields survive, the
    * malformed field nulls, and the whole raw record lands in the
    * corrupt-record column for quarantine. This is the allow_decode_fail
    * contract applied to the FILE boundary (external data is messy; a
    * 100 TB ingest cannot abort on row 3 of file 80000), and the oracle
    * pins the exact per-field salvage semantics.
    */
  def k10MalformedIngest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = graft.Scratch.dir("k10_")
    val lines = graft.sources.Tables(spark, dir).events
      .select(concat_ws(",", col("event_id"), col("user_id"),
        when(pmod(col("event_id"), lit(13)) === 0, lit("oops"))
          .otherwise(floor(col("value") * 100).cast("long").cast("string")))
        .as("value"))
    lines.write.text(s"$root/csv")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType),
      StructField("_corrupt", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(s"$root/csv")
      .orderBy(col("event_id"))
  }

  /** k11 — schema evolution at the sink: a table written over two
    * epochs, the second adding a column (the append-only widening every
    * long-lived pipeline performs when the upstream adds a field).
    * `mergeSchema` unifies the footers at read time — old files surface
    * the new column as null, no rewrite of historical data. The oracle
    * recomputes the widened end-state from the source.
    */
  def k11SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.Scratch.dir("k11_") + "/table"
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("value"))
    // epoch 1: original schema, first half of the keyspace
    ev.filter(pmod(col("event_id"), lit(2)) === 0).write.parquet(table)
    // epoch 2: upstream added a column; appended without touching epoch 1
    ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .withColumn("source_tag", concat(lit("ingest-"),
        pmod(col("event_id"), lit(3)).cast("string")))
      .write.mode("append").parquet(table)
    spark.read.option("mergeSchema", "true").parquet(table)
      .select(col("event_id"), col("user_id"), col("value"),
        col("source_tag"))
      .orderBy(col("event_id"))
  }

  /** Snapshot-publish support for k13: a table version is a data
    * directory + a manifest listing its exact files; CURRENT is a one-line
    * pointer file naming the live version, swapped by rename AFTER the
    * version is completely written. Readers resolve CURRENT → manifest →
    * explicit file list, so a torn or in-flight write (files on disk, no
    * manifest) is invisible — the Iceberg/Delta snapshot-isolation
    * contract in its minimal form, and the property object stores make
    * mandatory at 100 TB (directory listings see partial uploads;
    * manifests don't).
    */
  def publishVersion(spark: SparkSession, root: String, version: Int,
      df: DataFrame): Unit = {
    stageVersion(spark, root, version, df)
    publishPointer(spark, root, version)
  }

  /** Stage a version fully — data + manifest — WITHOUT moving CURRENT.
    * Staged versions are invisible to readers (the pointer is the
    * publish), which is what makes an audit step between stage and
    * publish (k20) safe. */
  /** The one small-file-write idiom the manifest store uses everywhere. */
  private def putFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  def stageVersion(spark: SparkSession, root: String, version: Int,
      df: DataFrame): Unit = {
    val dataDir = s"$root/data_v$version"
    df.write.mode("overwrite").parquet(dataDir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
    // manifest is unreferenced until CURRENT moves
    putFile(fs, new org.apache.hadoop.fs.Path(s"$root/manifest_v$version.txt"),
      files.mkString("\n"))
  }

  /** Move CURRENT to an already-staged version: write-to-temp + rename so
    * no reader ever sees a partial pointer file. */
  def publishPointer(spark: SparkSession, root: String, version: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/CURRENT.tmp")
    val cur = new org.apache.hadoop.fs.Path(s"$root/CURRENT")
    putFile(fs, tmp, version.toString)
    fs.delete(cur, false)
    if (!fs.rename(tmp, cur))
      throw new java.io.IOException(s"publish: CURRENT swap failed for v$version")
  }

  /** Resolve CURRENT and read exactly the manifested files. */
  def readCurrent(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      slurpFile(spark, s"$root/CURRENT").trim.toInt)

  /** Time travel: any still-manifested version stays readable — old
    * manifests are immutable, so a reader pinned to v1 is unaffected by
    * later publishes (the snapshot-isolation dividend). */
  def readVersion(spark: SparkSession, root: String, version: Int): DataFrame =
    spark.read.parquet(
      slurpFile(spark, s"$root/manifest_v$version.txt").split("\n").toSeq: _*)

  private def slurpFile(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Incremental publish: the new version's manifest = the PRIOR
    * version's files + the freshly-written files, so history is never
    * rewritten (Iceberg append semantics) and the file-set DIFFERENCE
    * between two manifests is exactly the rows added between them. */
  def publishAppend(spark: SparkSession, root: String, version: Int,
      df: DataFrame): Unit = {
    val dataDir = s"$root/data_v$version"
    df.write.mode("overwrite").parquet(dataDir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
    val prior = slurpFile(spark, s"$root/manifest_v${version - 1}.txt")
      .split("\n").toSeq.filter(_.nonEmpty)
    putFile(fs, new org.apache.hadoop.fs.Path(s"$root/manifest_v$version.txt"),
      (prior ++ fresh).mkString("\n"))
    publishPointer(spark, root, version)
  }

  /** CDC-style incremental read: the files manifested in `toV` but not in
    * `fromV` — an incremental consumer processes only what a snapshot
    * added, never re-reading history. At 100 TB this is the difference
    * between a downstream job reading a day's increment and re-scanning
    * the table. */
  def readChanges(spark: SparkSession, root: String, fromV: Int,
      toV: Int): DataFrame = {
    val before = slurpFile(spark, s"$root/manifest_v$fromV.txt")
      .split("\n").filter(_.nonEmpty).toSet
    val after = slurpFile(spark, s"$root/manifest_v$toV.txt")
      .split("\n").filter(_.nonEmpty).toSeq
    spark.read.parquet(after.filterNot(before): _*)
  }

  /** k14 — manifest-delta incremental consumption: v1 publishes the even
    * events, v2 APPENDS the odd ones (history untouched — v1's files are
    * byte-identical members of v2's manifest), and the query reads ONLY
    * the v1→v2 delta. The oracle is the odd-event set: it matches only if
    * the delta contains exactly the appended rows — no history re-read,
    * no missed rows. */
  def k14ManifestDelta(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("k14_")
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    publishVersion(spark, root, 1,
      ev.filter(pmod(col("event_id"), lit(2)) === 0))
    publishAppend(spark, root, 2,
      ev.filter(pmod(col("event_id"), lit(2)) === 1))
    readChanges(spark, root, 1, 2).orderBy(col("event_id"))
  }

  /** k13 — manifest-atomic snapshot publish as a round-trip query: v1
    * holds half the events, v2 supersedes it with the full set, and a
    * deliberately UNPUBLISHED v3 write (files on disk, no manifest entry)
    * must stay invisible. The oracle is the full-events identity — it can
    * only match if the reader saw exactly v2: globbing the root would
    * double-count v1+v3, and reading before the swap would miss half. */
  def k13ManifestPublish(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("k13_")
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    publishVersion(spark, root, 1,
      ev.filter(pmod(col("event_id"), lit(2)) === 0))
    publishVersion(spark, root, 2, ev)
    // torn write: present in the directory, absent from any manifest
    ev.limit(10).write.parquet(s"$root/data_v3")
    readCurrent(spark, root).orderBy(col("event_id"))
  }

  /** k31 — pinned time travel across a DELETE-rewrite: v1 publishes a
    * third of the events, v2 APPENDS another third (k14's append path),
    * then v3 SUPERSEDES the table with a full rewrite that drops every
    * 7th user's rows (the GDPR-erasure shape — a rewrite, not an
    * append, so v3 shares no manifest lineage with v2). The query reads
    * **v2 pinned** — AFTER CURRENT has moved to v3 — and its oracle is
    * the exact v1+v2 row set INCLUDING the users v3 erased: it matches
    * only if old manifests are immutable under later rewrites
    * (Iceberg/Delta `VERSION AS OF` semantics). k13 proves
    * CURRENT-resolution atomicity; this entry proves the other half of
    * the snapshot contract — a reader pinned to a version is unaffected
    * by anything published after it. At 100 TB pinned reads are what
    * make reproducible training runs possible: the corpus a job read is
    * the corpus its manifest names, whatever compaction/erasure ran
    * since (physical file REMOVAL is k17 vacuum's separately-gated
    * step, which refuses versions still inside the retention window).
    */
  def k31TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("k31_")
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    publishVersion(spark, root, 1,
      ev.filter(pmod(col("event_id"), lit(3)) === 0))
    publishAppend(spark, root, 2,
      ev.filter(pmod(col("event_id"), lit(3)) === 1))
    // the erasure rewrite: full table minus every 7th user, fresh files
    stageVersion(spark, root, 3,
      ev.filter(pmod(col("user_id"), lit(7)) =!= 0))
    publishPointer(spark, root, 3)
    readVersion(spark, root, 2).orderBy(col("event_id"))
  }

  /** k12 — dynamic partition overwrite: a correction batch rewrites ONLY
    * the partitions it carries rows for (here the 'click' slice of an
    * event_type-partitioned table), leaving every other partition's files
    * untouched. This is THE idempotent-reprocessing primitive at 100 TB —
    * re-running one day/one type replaces exactly that directory instead
    * of `overwrite` nuking the whole table or `append` duplicating rows —
    * and the ClickHouse analog is ALTER TABLE ... REPLACE PARTITION. The
    * mode is set per-write (option, not session conf) so callers can't
    * inherit whole-table-overwrite semantics by accident.
    */
  def k12PartitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.Scratch.dir("k12_") + "/table"
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"))
    ev.write.partitionBy("event_type").parquet(table)
    ev.filter(col("event_type") === "click")
      .withColumn("value", col("value") * 2.0)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(table)
    spark.read.parquet(table)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"))
      .orderBy(col("event_id"))
  }

  /** Morton z-value: bit-interleave two non-negative integer keys so
    * that points close in BOTH dimensions are close in the one-dimensional
    * sort order. Pure Column composition (shift/mask/or unrolled `bits`
    * times) — codegen-friendly, no UDF. Keys wider than `bits` bits keep
    * only their low bits interleaved (ordering degrades gracefully;
    * correctness never depends on z). */
  private[sinks] def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(
          shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(
          shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** k15 — z-order clustering rewrite (Delta OPTIMIZE ZORDER BY / the
    * multi-column generalization of MergeTree's ORDER BY): rewrite a
    * table range-partitioned and sorted by the Morton interleave of two
    * filter columns, so a 2-D box predicate touches FEW files instead of
    * all of them. A single sort key clusters one dimension and shreds
    * the other; z-order gives both dimensions ~sqrt locality, which is
    * what makes parquet footer minmax stats (and the k01 bloom filters)
    * actually skip IO for multi-column point/box lookups at 100 TB.
    * One range shuffle + local sort to write; the oracle proves the box
    * query over the rewritten table is lossless vs the source; SinksSpec
    * proves the clustering (box rows concentrate in 1-2 of 8 files while
    * a single-key layout spreads them over ~all).
    */
  def k15ZorderWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("k15_") + "/table"
    zorderedWrite(spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
      out, "l_partkey", "l_suppkey", files = 8)
    spark.read.parquet(out)
      .filter(col("l_partkey").between(100, 120) &&
        col("l_suppkey").between(10, 20))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
  }

  /** Both dims are first normalized to the SAME 16-bit range (from one
    * tiny min/max stats aggregate — the same pre-pass repartitionByRange's
    * sampler does): interleaving raw keys of unequal width degenerates to
    * a 1-D sort on the wider key's high bits. Any monotone per-dim map
    * preserves z-order semantics, so the truncating division is fine. */
  private[graft] def zorderedWrite(df: DataFrame, path: String,
      dimA: String, dimB: String, files: Int): Unit = {
    val s = df.agg(
      min(col(dimA)).cast("long"), max(col(dimA)).cast("long"),
      min(col(dimB)).cast("long"), max(col(dimB)).cast("long")).head()
    def norm(c: Column, lo: Long, hi: Long): Column =
      ((c.cast("long") - lit(lo)) * lit(65535L) /
        lit(math.max(1L, hi - lo))).cast("long")
    df.withColumn("__z", zValue(
        norm(col(dimA), s.getLong(0), s.getLong(1)),
        norm(col(dimB), s.getLong(2), s.getLong(3)), 16))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Metadata-only table statistics from parquet FOOTERS, computed
    * distributed: the file list parallelizes across executors and each
    * task reads only its files' footer bytes (KB per file), never data
    * pages. Returns one row per file (path, rows, key min/max). This is
    * the machinery behind 100 TB maintenance decisions — resume points,
    * compaction planning, partition pruning audits, OPTIMIZE candidate
    * selection (ClickHouse keeps the same numbers in system.parts) — at
    * the cost of a listing plus one footer round trip per file. */
  def footerStats(spark: SparkSession, table: String,
      keyCol: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted.toSeq
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.length, 32)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val blocks = r.getFooter.getBlocks.asScala
          var rows = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
          blocks.foreach { b =>
            rows += b.getRowCount
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == keyCol)
              .getOrElse(throw new IllegalArgumentException(
                s"column $keyCol not in $f"))
            val st = cc.getStatistics
            mn = math.min(mn, st.genericGetMin.asInstanceOf[java.lang.Long])
            mx = math.max(mx, st.genericGetMax.asInstanceOf[java.lang.Long])
          }
          (f, rows, mn, mx)
        } finally r.close()
      }
      .toDF("file", "n_rows", "key_min", "key_max")
  }

  /** Version retention for the manifest store (Iceberg expire_snapshots /
    * Delta VACUUM): drop every version older than the newest `keep`,
    * deleting its manifest and any data file NO retained manifest still
    * references — appended tables share files across versions (k14's
    * publishAppend), so reference-counting against the retained set is
    * what keeps history-sharing safe. Order matters for crash safety:
    * expired MANIFESTS delete first (a crash mid-vacuum then strands
    * unreferenced data files, which a re-run removes — never a manifest
    * pointing at deleted data). Returns the expired version numbers. */
  def vacuumVersions(spark: SparkSession, root: String,
      keep: Int): Seq[Int] = {
    require(keep >= 1, "must retain at least the current version")
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifestRe = "manifest_v(\\d+)\\.txt".r
    val versions = fs.listStatus(p).map(_.getPath.getName).collect {
      case manifestRe(v) => v.toInt
    }.sorted.toSeq
    val (expired, retained) = versions.splitAt(math.max(0, versions.size - keep))
    val keepFiles = retained.flatMap(v =>
      slurpFile(spark, s"$root/manifest_v$v.txt")
        .split("\n").filter(_.nonEmpty)).toSet
    expired.foreach { v =>
      val files = slurpFile(spark, s"$root/manifest_v$v.txt")
        .split("\n").filter(_.nonEmpty)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/manifest_v$v.txt"),
        false)
      files.filterNot(keepFiles).foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false))
    }
    expired
  }

  /** k17 — retention as a round-trip query: v1 publishes half the
    * events, v2 supersedes it with the full set, vacuum(keep=1) expires
    * v1 (manifest + its unshared data files actually deleted — asserted,
    * not assumed), and CURRENT must still read the complete v2 — the
    * oracle fails if vacuum touched a retained file. */
  def k17Vacuum(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("k17_")
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    publishVersion(spark, root, 1,
      ev.filter(pmod(col("event_id"), lit(2)) === 0))
    publishVersion(spark, root, 2, ev)
    val expired = vacuumVersions(spark, root, keep = 1)
    require(expired == Seq(1), s"expected v1 expired, got $expired")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/manifest_v1.txt")), "expired manifest must be gone")
    require(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName == "data_v1") ||
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data_v1"))
        .forall(s => !s.getPath.getName.endsWith(".parquet")),
      "expired unshared data files must be gone")
    readCurrent(spark, root).orderBy(col("event_id"))
  }

  /** k28 — mergeable-sketch rollup: the pre-aggregated-sketch table
    * pattern every 100 TB metrics pipeline runs on. Hourly HLL sketches
    * of the user set (DataSketches `hll_sketch_agg`, a BINARY column)
    * MATERIALIZE to a parquet pre-agg table; the daily rollup then
    * unions sketches (`hll_union_agg`) WITHOUT touching the fact table
    * again (hourly sketches -> daily rollup here; the grain pair is
    * arbitrary) — the whole point: the rollup pass reads KB of sketch bytes,
    * not the corpus, and the same persisted sketches answer weekly/
    * monthly/any-window questions later. Exact per-day distincts are
    * computed once here as the audit bound (at 100 TB you never would);
    * the gated contract is t05's tolerance banding: est within 5%,
    * pinned TRUE in both engines. */
  def k28SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("ts"), col("user_id"))
    val pre = graft.Scratch.dir("k28_") + "/hourly_sketches"
    ev.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .write.mode("overwrite").parquet(pre)
    val daily = spark.read.parquet(pre)
      .groupBy(date_trunc("day", col("hour")).as("day"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_hours"))
    val exact = ev
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    daily.join(exact, "day")
      .select(col("day"), col("n_hours"), col("exact_users"),
        (abs(col("est") - col("exact_users")).cast("double") <=
          col("exact_users").cast("double") * 0.05).as("est_ok"))
      .orderBy(col("day"))
  }

  /** The k29 histogram-sketch bin kernel, spelled once for binning,
    * the lower-bound decode, and the est_ok recheck (and mirrored
    * verbatim in the oracle SQL): HDR-histogram-style integer log bins —
    * exponent from the BINARY STRING length (both engines' bin() —
    * integer-exact, no float log2 at a boundary), 16 sub-bins per
    * octave (≤ 6.25% relative bin width), values ≤ 31 exact. All-integer
    * arithmetic, so the sketch is bit-identical across engines,
    * languages and merge orders. */
  private[graft] def binIdSql(v: String): String =
    s"""CASE WHEN length(bin($v)) - 1 <= 4 THEN $v
       |ELSE (length(bin($v)) - 5) * 16
       |     + shiftright($v, length(bin($v)) - 5) END""".stripMargin
  private[graft] def binLbSql(b: String): String =
    s"""CASE WHEN $b <= 31 THEN $b
       |ELSE shiftleft($b % 16 + 16, cast($b div 16 - 1 as int)) END"""
      .stripMargin

  /** k29 — mergeable QUANTILE-sketch rollup (k28's pattern for the other
    * metric every 100 TB pipeline needs): per-hour integer log-binned
    * histograms (bin_id, cnt — a few hundred rows per hour regardless of
    * event count) MATERIALIZE to a parquet pre-agg table; the daily
    * rollup then just SUMS bin counts — histogram merge is count
    * addition, associative and order-free — and reads KB of sketch rows,
    * never the fact table. p50/p95/p99 come from the merged cumulative
    * counts (estimate = the selected bin's lower bound, ≤ 6.25% low by
    * the 16-sub-bin geometry). Exact per-day rank quantiles are computed
    * once here as the audit bound (at 100 TB you never would); est_ok
    * pins that each exact quantile lands INSIDE the sketch's chosen bin —
    * an exact invariant of a correct merge, not a tolerance band. */
  private[graft] val k29Cents = "greatest(cast(floor(value * 100) as bigint), 1L)"

  /** The hourly histogram k29 persists: (hour, bin_id, cnt) — a few
    * hundred rows per hour regardless of the hour's event count. */
  private[graft] def k29HourlySketch(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.Tables(spark, dir).events
      .select(date_trunc("hour", col("ts")).as("hour"),
        expr(k29Cents).as("v1"))
      .select(col("hour"), expr(binIdSql("v1")).as("bin_id"))
      .groupBy(col("hour"), col("bin_id")).agg(count(lit(1)).as("cnt"))

  /** Quantile selection over a merged (day, bin_id, cnt) histogram —
    * the ONE derivation the batch rollup (k29) and the streaming twin
    * (st25) share, like the bin kernel itself: rank = ceil(q·n/100),
    * estimate = first bin whose cumulative count reaches it. */
  private[graft] def histQuantiles(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayW = Window.partitionBy(col("day"))
    val c = hist
      .withColumn("cum", sum(col("cnt")).over(dayW.orderBy(col("bin_id"))))
      .withColumn("n", sum(col("cnt")).over(dayW))
    def pick(q: Int): Column =
      min(when(col("cum") >= expr(s"(n * $q + 99) div 100"), col("bin_id")))
    c.groupBy(col("day")).agg(max(col("n")).as("n_events"),
      pick(50).as("b50"), pick(95).as("b95"), pick(99).as("b99"))
  }

  def k29QuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("ts"), col("value"))
    val pre = graft.Scratch.dir("k29_") + "/hourly_hist"
    k29HourlySketch(spark, dir).write.mode("overwrite").parquet(pre)
    val sk = spark.read.parquet(pre)
    val daily = sk
      .groupBy(date_trunc("day", col("hour")).as("day"), col("bin_id"))
      .agg(sum(col("cnt")).as("cnt")) // the merge: count addition
    val nHours = sk.groupBy(date_trunc("day", col("hour")).as("day"))
      .agg(countDistinct(col("hour")).as("n_hours"))
    val dayW = Window.partitionBy(col("day"))
    val est = histQuantiles(daily)
    // exact rank quantiles — the audit bound (k28 discipline: computed
    // at the gate SFs only to pin the sketch; per-day windows, bounded
    // by the day's events)
    val vals = ev.select(date_trunc("day", col("ts")).as("day"),
        expr(k29Cents).as("v1"))
      .withColumn("rn", row_number().over(dayW.orderBy(col("v1"))))
      .withColumn("n", count(lit(1)).over(dayW))
    def exact(q: Int): Column =
      max(when(col("rn") === expr(s"(n * $q + 99) div 100"), col("v1")))
    val ex = vals.groupBy(col("day")).agg(exact(50).as("x50_cents"),
      exact(95).as("x95_cents"), exact(99).as("x99_cents"))
    est.join(nHours, "day").join(ex, "day")
      .select(col("day"), col("n_hours"), col("n_events"),
        expr(binLbSql("b50")).as("p50_cents"),
        expr(binLbSql("b95")).as("p95_cents"),
        expr(binLbSql("b99")).as("p99_cents"),
        col("x50_cents"), col("x95_cents"), col("x99_cents"),
        (expr(binIdSql("x50_cents")) === col("b50") &&
          expr(binIdSql("x95_cents")) === col("b95") &&
          expr(binIdSql("x99_cents")) === col("b99")).as("est_ok"))
      .orderBy(col("day"))
  }

  /** The k30 Count-Min hash kernel, spelled once for the sketch build
    * and the candidate probe (and mirrored verbatim in the oracle):
    * row r's bucket for key u is md5Hash60("graft-cms:r:u") mod 512 —
    * t04's engine-portable 60-bit md5 prefix, so the whole sketch is
    * bit-identical across engines and merge orders. `concat` (not
    * concat_ws) so a NULL key null-propagates to a NULL bucket exactly
    * like the oracle's `||` chain — concat_ws would silently SKIP the
    * null and hash "graft-cms:r" into a real bucket, diverging on a
    * null-bearing corpus (events.user_id is declared nullable). */
  private def cmsBucket(r: Column, key: Column): Column =
    graft.operators.Shingles.md5Hash60(
      concat(lit("graft-cms:"), r.cast("string"), lit(":"),
        key.cast("string"))) % lit(512L)

  /** k30 — Count-Min heavy-hitter rollup (the third mergeable sketch
    * beside k28's HLL distincts and k29's quantile histogram — the
    * frequency question): per-hour CMS tables of user event counts
    * (4 rows × 512 buckets = ≤2048 (hour, r, bucket, cnt) rows per
    * hour REGARDLESS of the hour's event count) MATERIALIZE to a
    * parquet pre-agg; the daily rollup just SUMS bucket counts (CMS
    * merge is count addition, associative and order-free) and reads KB
    * of sketch rows, never the fact table. Any candidate's daily
    * frequency then estimates as min over the 4 rows of its bucket
    * count — here probed for the exact top-10 users per day, computed
    * once as the audit bound (k28/k29 discipline; the top-k window
    * prunes via WindowGroupLimit). Because the hashes are the
    * deterministic md5 kernel, the estimate is EXACTLY reproducible in
    * DuckDB — a full-value oracle, not a tolerance band — and the CMS
    * one-sided guarantee (est ≥ exact, never under) is pinned as a
    * boolean. */
  def k30CmsTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables(spark, dir).events
      .select(date_trunc("day", col("ts")).as("day"),
        date_trunc("hour", col("ts")).as("hour"), col("user_id"))
    val rows = explode(array((0 until 4).map(lit): _*)).as("r")
    val pre = graft.Scratch.dir("k30_") + "/hourly_cms"
    ev.select(col("hour"), col("user_id"), rows)
      .select(col("hour"), col("r"),
        cmsBucket(col("r"), col("user_id")).as("bucket"))
      .groupBy(col("hour"), col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(pre)
    val daily = spark.read.parquet(pre)
      .groupBy(date_trunc("day", col("hour")).as("day"),
        col("r"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt")) // the merge: count addition
    val w = Window.partitionBy(col("day"))
      .orderBy(col("exact_cnt").desc, col("user_id"))
    val top = ev.groupBy(col("day"), col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
    top.select(col("day"), col("user_id"), col("exact_cnt"), col("rnk"),
        rows)
      .withColumn("bucket", cmsBucket(col("r"), col("user_id")))
      .join(daily, Seq("day", "r", "bucket"))
      .groupBy(col("day"), col("user_id"), col("exact_cnt"), col("rnk"))
      .agg(min(col("cnt")).as("est_cnt"))
      .select(col("day"), col("user_id"), col("exact_cnt"),
        col("est_cnt"), col("rnk"),
        (col("est_cnt") >= col("exact_cnt")).as("est_ok"))
      .orderBy(col("day"), col("rnk"))
  }

  /** k16 — footer-stats profiling as a round-trip query: lineitem is
    * rewritten as an 8-file table, then counted and min/max-bounded from
    * footers ALONE; the oracle recomputes the same numbers by scanning
    * the data, so agreement proves the metadata pass is faithful. */
  def k16FooterStats(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.Scratch.dir("k16_") + "/table"
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
      .repartition(8).write.mode("overwrite").parquet(table)
    footerStats(spark, table, "l_orderkey")
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        min(col("key_min")).as("min_key"), max(col("key_max")).as("max_key"))
  }

  // ---- driver-verified query entries ----

  /** k01 as a round-trip query: write orders MergeTree-style (partition by
    * priority, order by date+key), read the layout back. The oracle checks
    * the round trip is lossless; SinksSpec checks the physical layout
    * (directories per partition value, sorted row groups).
    */
  def k01ParquetSink(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("k01_")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice",
        "o_orderdate")
    partitionedSortedParquet(orders, out,
      partCols = Seq("o_orderpriority"),
      sortCols = Seq("o_orderdate", "o_orderkey"),
      bloomCols = Seq("o_custkey")) // the `from`/`to` bloom-index analog
    spark.read.parquet(out)
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice",
        "o_orderdate")
      .orderBy(col("o_orderkey"))
  }

  /** k07 — multi-format source/sink round trip: events flow parquet →
    * CSV → JSON → ORC → back, and the result must equal the source
    * exactly (the oracle is the identity projection). This pins the
    * format-boundary contracts that silently corrupt data when wrong:
    * microsecond-precision timestamps through a text format (explicit
    * timestampFormat on write AND read — the default truncates), doubles
    * through text (Spark writes shortest-round-trip decimal reprs, so
    * parse-back is bit-identical), and the binary-columnar leg (ORC —
    * the other native columnar format Spark ships) preserving both
    * losslessly without options.
    */
  def k07FormatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val root = graft.Scratch.dir("k07_")
    val src = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    src.write.option("header", "true").option("timestampFormat", tsFmt)
      .csv(s"$root/csv")
    val fromCsv = spark.read.option("header", "true")
      .option("timestampFormat", tsFmt).schema(src.schema).csv(s"$root/csv")
    fromCsv.write.option("timestampFormat", tsFmt).json(s"$root/json")
    spark.read.option("timestampFormat", tsFmt).schema(src.schema)
      .json(s"$root/json")
      .write.orc(s"$root/orc")
    spark.read.schema(src.schema).orc(s"$root/orc")
      .orderBy(col("event_id"))
  }

  /** k02 as a LIVE round-trip query: nation⋈region flows through the
    * JDBC writer into an embedded Derby database and is read back over
    * JDBC. The oracle is the same join over the source parquet — equality
    * proves the write→read path is lossless (DDL inference, batched
    * insert, type mapping). The reference's working sink + DDL is
    * docker-compose ClickHouse (erc20_transfers.py:30-50 init_db); here
    * the DB engine is whatever JDBC URL you hand the same sink.
    */
  def k02JdbcSink(spark: SparkSession, dir: String): DataFrame = {
    val db = graft.Scratch.dir("k02_") + "/db"
    // uppercase: Derby folds unquoted lookups to upper case while the
    // writer creates the table with a quoted identifier
    val sink = JdbcSink(s"jdbc:derby:$db;create=true", "NATION_ENRICHED",
      numPartitions = 1, scratchDurability = true)
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val region = spark.read.parquet(s"$dir/region.parquet")
    sink.write(nation
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name")))
    sink.read(spark)
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))
  }

  /** k04 — bucketed write + co-located join. Both fact tables are written
    * `bucketBy(n, orderkey)` pre-sorted; joining them then needs NO
    * exchange and no sort — the bucket layout IS the shuffle, paid once at
    * write time and amortized over every subsequent join (SinksSpec
    * asserts the zero-Exchange plan). This is the parquet analog of two
    * MergeTree tables sharing an ORDER BY key, and at 100 TB it's the
    * difference between re-shuffling 100 TB per join and not. Bucket
    * count is sized to the session's shuffle parallelism, NOT a fixed
    * literal: a bucketed scan's task count IS the bucket count (bucket
    * files can't split), so 8 buckets on 60M rows serializes the join
    * onto 8 of 32 cores — and on a 1000-executor cluster onto 8 tasks.
    * Each side is repartitioned on the key first (repartition and
    * bucketBy share Murmur3 pmod hashing), so every task owns exactly
    * one bucket: one file per bucket, task-local sort, no per-task
    * bucket-file fanout.
    */
  // the bucketed write is a once-per-dataset cost amortized over every
  // later join; memoizing the LAST-written (session, dir) makes that
  // split measurable — bench rep 1 pays the write, later reps time the
  // zero-exchange join. Tracking only the latest key (not a grow-only
  // set) means alternating datasets in one session correctly rebuilds:
  // the two managed tables hold exactly one dataset's rows at a time.
  private val bucketedFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  def k04BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val key = s"${System.identityHashCode(spark)}|$dir"
    // the whole check-and-rebuild is one critical section: two concurrent
    // callers must not interleave dropManaged/saveAsTable against the same
    // table names (the check-then-act alone would let both pass the test)
    bucketedFor.synchronized {
      // memoize only AFTER both writes succeed: a failed/partial build must
      // be retried on the next call, not skipped (a getAndSet up front would
      // memoize the failure and silently join missing or mixed tables)
      if (bucketedFor.get() != key) {
        val buckets = math.max(8,
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select("l_orderkey", "l_quantity")
          .repartition(buckets, col("l_orderkey"))
        val ord = spark.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_orderpriority")
          .repartition(buckets, col("o_orderkey"))
        bucketedFor.set(null)
        Seq("graft_li_b", "graft_ord_b").foreach(t => dropManaged(spark, t))
        li.write.bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable("graft_li_b")
        ord.write.bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable("graft_ord_b")
        bucketedFor.set(key)
      }
    }
    bucketedJoinPlan(spark)
  }

  /** Stage a fact slice as a bucketed + per-bucket-sorted managed table
    * and return it — k04's write-once-shuffle idiom as a reusable
    * helper (pay ONE clustering at write time; every later join /
    * aggregate on the bucket key reads it back with zero exchange, and
    * the per-bucket sort feeds SMJ with zero sort). Each side is
    * repartitioned on the key first (repartition and bucketBy share
    * Murmur3 pmod hashing) so every task owns exactly one bucket — one
    * file per bucket, which is what lets the scan ADVERTISE the sort.
    * Memoized per (session, key) through the caller-owned `memo` (same
    * contract as k04's: set only after the write succeeds; the whole
    * check-and-rebuild is one critical section). */
  private[graft] def stageBucketed(spark: SparkSession, key: String,
      table: String,
      memo: java.util.concurrent.atomic.AtomicReference[String],
      bucketCol: String, sortCols: Seq[String])(
      build: => DataFrame): DataFrame = {
    memo.synchronized {
      if (memo.get() != key) {
        val buckets = math.max(8,
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
        memo.set(null)
        dropManaged(spark, table)
        build.repartition(buckets, col(bucketCol))
          .write.bucketBy(buckets, bucketCol)
          .sortBy(sortCols.head, sortCols.tail: _*)
          .mode("overwrite").saveAsTable(table)
        memo.set(key)
      }
    }
    spark.table(table)
  }

  /** Drop a managed table AND its warehouse location — a fresh session's
    * in-memory catalog doesn't know about directories a previous JVM left
    * behind, and saveAsTable refuses to reuse them. */
  private def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val base = if (wh.startsWith("file:")) new java.net.URI(wh).getPath else wh
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val loc = new java.io.File(base, table)
    if (loc.exists()) rm(loc)
  }

  /** The co-located join over the bucketed tables (separate so SinksSpec
    * can audit the plan of exactly what k04 returns). */
  def bucketedJoinPlan(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    spark.table("graft_li_b")
      .join(spark.table("graft_ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast(DecimalType(38, 4))).cast("double")
        .as("sum_qty"), count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** k05 — static in-code dictionary enrich: the reference registers a
    * code-defined mapping as a ClickHouse DICTIONARY (db.py create_dict +
    * evm/chain_id.py chain_id→chain_name) and tags rows via dictGet /
    * SET_CHAIN_ID. Spark-first: the literal mapping IS a broadcast dim —
    * same O(1) per-row lookup, no external object to manage, and the
    * optimizer sees through it.
    */
  def k05StaticDict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the full reference-scale dictionary (73 chains), not a toy subset:
    // events acquire a chain via a dense index and are enriched
    // (chain_id, chain_name) through one broadcast — the dictGet analog
    val dict = graft.sources.ChainDict.indexed
      .toDF("idx", "chain_id", "chain_name")
    val n = graft.sources.ChainDict.entries.size
    graft.sources.Tables(spark, dir).events
      .select(pmod(col("event_id"), lit(n)).cast("int").as("idx"))
      .groupBy(col("idx"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(dict), Seq("idx"), "left")
      .select(col("chain_id"), col("chain_name"), col("n"))
      .orderBy(col("chain_id"))
  }

  private def chainValuesSql: String =
    graft.sources.ChainDict.indexed
      .map { case (i, id, name) => s"($i, $id, '$name')" }
      .mkString(", ")

  /** Merge-on-read view: base + delta-log union, latest-wins per key,
    * tombstones dropped LAST (a tombstone must shadow every older
    * version of its key before being filtered). Writes stay O(changes);
    * the read pays one key shuffle — the Hudi-MOR/Iceberg-merge-on-read
    * contract, complementing k09's copy-on-write mergeUpsert. Periodic
    * folding of the delta log back into base is k08's compaction.
    *
    * Base and deltas come in as frames, read by the caller with the
    * schema it wrote them with (no schema-inference job); the deltas may
    * be one directory (k18) or a committed-batches reader (st17's
    * IdempotentSink). */
  def mergeOnReadView(base: DataFrame, deltaRows: DataFrame,
      keyCols: Seq[String], versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = base
      .withColumn(versionCol, lit(1L))
      .withColumn("__deleted", lit(false))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc)
    b.unionByName(deltaRows.select(b.columns.toIndexedSeq.map(col): _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("__deleted"))
      .drop("__rn", "__deleted")
  }

  /** k18 — merge-on-read round trip: base seeds every event; the delta
    * log appends an update file (every 3rd event, value+1000, v2) and a
    * tombstone file (every 5th event, v3) WITHOUT touching base. The
    * view must resolve update-then-delete to deleted (5∧3 multiples) and
    * update-only to the new value; the oracle recomputes the end state
    * from the source. */
  def k18MergeOnRead(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("k18_")
    val (base, deltas) = (s"$root/base", s"$root/deltas")
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    ev.write.parquet(base)
    val updates = ev.filter(pmod(col("event_id"), lit(3)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("version", lit(2L))
      .withColumn("__deleted", lit(false))
    updates.write.mode("append").parquet(deltas)
    ev.filter(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("version", lit(3L))
      .withColumn("__deleted", lit(true))
      .write.mode("append").parquet(deltas)
    mergeOnReadView(spark.read.schema(ev.schema).parquet(base),
      spark.read.schema(updates.schema).parquet(deltas),
      Seq("event_id"), "version")
      .orderBy(col("event_id"))
  }

  /** k19 — footer-stats FILE skipping: the k16 metadata pass drives the
    * read plan. lineitem is range-partitioned on the key into 8 files
    * with disjoint min/max ranges; a key-range query consults the footer
    * stats, reads ONLY the intersecting files (asserted: strictly fewer
    * than the table's), and still matches the full-scan oracle. This is
    * MergeTree parts pruning / Iceberg min-max manifest skipping — at
    * 100 TB the scan cost is decided by this metadata step, not by the
    * row-group pruning inside tasks. */
  def k19StatsSkipping(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.Scratch.dir("k19_") + "/table"
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(table)
    val (lo, hi) = (1000L, 5000L)
    val stats = footerStats(spark, table, "l_orderkey").collect()
    val hit = stats
      .filter(r => r.getLong(2) <= hi && r.getLong(3) >= lo)
      .map(_.getString(0))
    require(hit.nonEmpty && hit.length < stats.length,
      s"file skipping must prune: read ${hit.length} of ${stats.length}")
    spark.read.parquet(hit.toIndexedSeq: _*)
      .filter(col("l_orderkey").between(lo, hi))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types
          .DecimalType(38, 4))).cast("double").as("sum_qty"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
  }

  /** k20 — WRITE-AUDIT-PUBLISH on the manifest store: a candidate
    * version stages fully (data + manifest) WITHOUT moving CURRENT, an
    * audit runs against the staged files, and only a passing audit
    * publishes the pointer. The failing path is exercised for real: a
    * corrupted batch (nulled event_type rows) stages, fails its audit,
    * CURRENT stays on the good version — asserted — and the bad staged
    * version remains for debugging (k17's vacuum is its GC). Readers
    * can never observe audit-failing data because the pointer move IS
    * the publish (k13's atomicity). Oracle = the good version.
    */
  def k20Wap(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("k20_")
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    def audit(df: DataFrame): Boolean =
      df.filter(col("event_type").isNull || col("value").isNull).isEmpty
    def stageAudit(v: Int, df: DataFrame): Boolean = {
      stageVersion(spark, root, v, df)
      val ok = audit(spark.read.parquet(s"$root/data_v$v"))
      if (ok) publishPointer(spark, root, v)
      ok
    }
    require(stageAudit(1, ev), "clean batch must pass its audit")
    val corrupted = ev.withColumn("event_type",
      when(pmod(col("event_id"), lit(100)) === 0, lit(null: String))
        .otherwise(col("event_type")))
    require(!stageAudit(2, corrupted), "corrupted batch must fail audit")
    val cur = readCurrent(spark, root)
    require(cur.filter(col("event_type").isNull).isEmpty,
      "CURRENT must still serve the audited version")
    cur.orderBy(col("event_id"))
  }

  /** k21 — the CACHING surface (the reference's repeated-read staging
    * tables, in-memory): a filtered projection is cached once
    * (MEMORY_AND_DISK — spills instead of evicting under pressure) and
    * two different aggregations consume it; the second is asserted
    * in-query to read InMemoryTableScan, not parquet. The result
    * localCheckpoints before unpersist so the handed-back frame doesn't
    * silently fall back to a re-scan. At cluster scale this is
    * per-executor block storage — the explicit form of what the k04
    * bucketed tables do on disk.
    */
  def k21CachedTable(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") >= 10.0)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      base.count() // materialize the cache
      val byFlag = base.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types
            .DecimalType(38, 4))).cast("double").as("sum_qty"))
      require(byFlag.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"),
        "second consumer must read the cache, not parquet")
      byFlag.orderBy(col("l_returnflag")).localCheckpoint(true)
    } finally base.unpersist()
  }

  /** k22 — MULTI-TABLE atomic publish: one version covers BOTH tables
    * (facts + the dictionary they join), and the single CURRENT pointer
    * move makes the pair visible together — a reader can never join v2
    * facts against a v1 dictionary, the torn cross-table state no
    * single-table snapshot protocol rules out (Iceberg/Delta are
    * per-table; this is the manifest-of-manifests pattern above them).
    * Exercised for real: v1 publishes half the facts with a stale dict,
    * v2 supersedes both, an ABANDONED v3 stages facts-only and CURRENT
    * provably still serves the complete v2 pair; the oracle recomputes
    * the v2 join, and in-query asserts pin pointer integrity.
    */
  def k22MultitablePublish(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("k22_")
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    def dict(tag: String) =
      spark.range(5).select(col("id").as("type_idx"),
        concat(lit(tag), lit("_"), col("id")).as("type_name"))
    def stagePair(v: Int, facts: DataFrame, d: DataFrame): Unit = {
      stageVersion(spark, s"$root/facts", v, facts)
      stageVersion(spark, s"$root/dict", v, d)
    }
    // ONE pointer for the pair: both tables' versions move together —
    // the swap discipline is publishPointer's, at the pair root. The
    // publish FIRST verifies every member has a staged manifest for v:
    // a mistaken publish of a half-staged version (the abandoned
    // facts-only v3 below) must fail AT PUBLISH TIME, not later at some
    // reader's readVersion.
    def publishPair(v: Int): Unit = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val missing = Seq("facts", "dict").filterNot(m => fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/$m/manifest_v$v.txt")))
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"publishPair($v): member(s) ${missing.mkString(", ")} have no " +
            s"staged manifest_v$v — refusing to publish a torn pair")
      publishPointer(spark, root, v)
    }
    def currentPair(): (DataFrame, DataFrame) = {
      val v = slurpFile(spark, s"$root/CURRENT").trim.toInt
      (readVersion(spark, s"$root/facts", v),
        readVersion(spark, s"$root/dict", v))
    }
    stagePair(1, ev.filter(pmod(col("event_id"), lit(2)) === 0), dict("old"))
    publishPair(1)
    stagePair(2, ev, dict("cur"))
    publishPair(2)
    stageVersion(spark, s"$root/facts", 3,
      ev.filter(col("event_id") < 100)) // abandoned: dict v3 never staged
    // the guard under test: publishing the torn v3 must fail loudly and
    // leave CURRENT untouched
    val torn = try { publishPair(3); false }
    catch { case e: IllegalStateException => e.getMessage.contains("dict") }
    require(torn, "publishPair(3) must refuse the half-staged pair")
    val (facts, d) = currentPair()
    require(slurpFile(spark, s"$root/CURRENT").trim == "2",
      "CURRENT must still be the complete v2 pair")
    facts
      .join(broadcast(d),
        pmod(col("event_id"), lit(5)) === col("type_idx"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("type_name"))
      .orderBy(col("event_id"))
  }

  /** [[binIdSql]]/[[binLbSql]] in DuckDB dialect (`>>`/`<<`/`//` for
    * shiftright/shiftleft/div) — the same integer arithmetic. */
  private[graft] def duckBinIdSql(v: String): String =
    s"""CASE WHEN length(bin($v)) - 1 <= 4 THEN $v
       |ELSE (length(bin($v)) - 5) * 16 + ($v >> (length(bin($v)) - 5))
       |END""".stripMargin
  private[graft] def duckBinLbSql(b: String): String =
    s"CASE WHEN $b <= 31 THEN $b ELSE ($b % 16 + 16) << ($b // 16 - 1) END"

  val oracle: Map[String, String] = Map(
    // k30: the whole CMS replayed — hourly→daily merge is count
    // addition, so direct daily bucketing is identical by
    // associativity; the md5 bucket kernel is spelled verbatim
    "k30_cms_topk" ->
      """WITH ev AS (
        |  SELECT date_trunc('day', ts) AS day, user_id FROM events),
        |h AS (
        |  SELECT day, r,
        |    CAST(('0x' || substr(md5('graft-cms:' || CAST(r AS VARCHAR)
        |      || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 512 AS bucket,
        |    COUNT(*) AS cnt
        |  FROM ev, (SELECT unnest([0, 1, 2, 3]) AS r) rr
        |  GROUP BY 1, 2, 3),
        |exact AS (
        |  SELECT day, user_id, COUNT(*) AS exact_cnt FROM ev GROUP BY 1, 2),
        |top AS (
        |  SELECT day, user_id, exact_cnt,
        |    ROW_NUMBER() OVER (PARTITION BY day
        |      ORDER BY exact_cnt DESC, user_id) AS rnk
        |  FROM exact QUALIFY rnk <= 10),
        |cand AS (
        |  SELECT day, user_id, exact_cnt, rnk, r,
        |    CAST(('0x' || substr(md5('graft-cms:' || CAST(r AS VARCHAR)
        |      || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 512 AS bucket
        |  FROM top, (SELECT unnest([0, 1, 2, 3]) AS r) rr),
        |est AS (
        |  SELECT c.day, c.user_id, c.exact_cnt, c.rnk,
        |    MIN(h.cnt) AS est_cnt
        |  FROM cand c JOIN h ON h.day = c.day AND h.r = c.r
        |    AND h.bucket = c.bucket
        |  GROUP BY 1, 2, 3, 4)
        |SELECT day, user_id, exact_cnt, est_cnt, rnk,
        |  est_cnt >= exact_cnt AS est_ok
        |FROM est ORDER BY day, rnk""".stripMargin,
    // k29: the full sketch replayed from the fact table — hourly→daily
    // merge is count addition, so direct daily binning is IDENTICAL by
    // associativity; quantile selection and the exact-rank audit repeat
    // the engine's integer arithmetic verbatim
    "k29_quantile_rollup" ->
      s"""WITH v AS (
         |  SELECT date_trunc('day', ts) AS day,
         |    date_trunc('hour', ts) AS hour,
         |    greatest(CAST(floor(value * 100) AS BIGINT), 1) AS v1
         |  FROM events),
         |b AS (SELECT day, hour, v1, ${duckBinIdSql("v1")} AS bin_id
         |      FROM v),
         |d AS (SELECT day, bin_id, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
         |nh AS (SELECT day, COUNT(DISTINCT hour) AS n_hours
         |       FROM b GROUP BY 1),
         |c AS (
         |  SELECT day, bin_id, cnt,
         |    CAST(SUM(cnt) OVER (PARTITION BY day ORDER BY bin_id)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY day) AS BIGINT) AS n
         |  FROM d),
         |est AS (
         |  SELECT day, MAX(n) AS n_events,
         |    MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin_id END)
         |      AS b50,
         |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin_id END)
         |      AS b95,
         |    MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin_id END)
         |      AS b99
         |  FROM c GROUP BY day),
         |r AS (
         |  SELECT day, v1,
         |    ROW_NUMBER() OVER (PARTITION BY day ORDER BY v1) AS rn,
         |    COUNT(*) OVER (PARTITION BY day) AS n
         |  FROM b),
         |ex AS (
         |  SELECT day,
         |    MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN v1 END)
         |      AS x50_cents,
         |    MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN v1 END)
         |      AS x95_cents,
         |    MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN v1 END)
         |      AS x99_cents
         |  FROM r GROUP BY day)
         |SELECT est.day, nh.n_hours, est.n_events,
         |  ${duckBinLbSql("b50")} AS p50_cents,
         |  ${duckBinLbSql("b95")} AS p95_cents,
         |  ${duckBinLbSql("b99")} AS p99_cents,
         |  x50_cents, x95_cents, x99_cents,
         |  (${duckBinIdSql("x50_cents")} = b50
         |   AND ${duckBinIdSql("x95_cents")} = b95
         |   AND ${duckBinIdSql("x99_cents")} = b99) AS est_ok
         |FROM est JOIN nh USING (day) JOIN ex USING (day)
         |ORDER BY day""".stripMargin,
    // k28: months and exact distincts recomputed from the fact table;
    // the 5%-band boolean is the tolerance contract (t05 pattern)
    "k28_sketch_rollup" ->
      """SELECT date_trunc('day', ts) AS day,
        |  COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS est_ok
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "k22_multitable_publish" ->
      """SELECT event_id, user_id, value,
        |  'cur_' || CAST(event_id % 5 AS VARCHAR) AS type_name
        |FROM events ORDER BY event_id""".stripMargin,
    "k21_cached_table" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem WHERE l_quantity >= 10.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "k20_wap" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "k18_merge_on_read" ->
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN event_id % 3 = 0 THEN value + 1000.0 ELSE value END
        |    AS value,
        |  CASE WHEN event_id % 3 = 0 THEN 2 ELSE 1 END AS version
        |FROM events WHERE event_id % 5 <> 0
        |ORDER BY event_id""".stripMargin,
    "k19_stats_skipping" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
        |    AS sum_qty,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 5000""".stripMargin,
    // k17: CURRENT must survive retention intact
    "k17_vacuum" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // k16: the oracle recomputes the footer numbers by scanning the data;
    // n_files is pinned by the query's own repartition(8)
    "k16_footer_stats" ->
      """SELECT 8 AS n_files, COUNT(*) AS n_rows,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
        |FROM lineitem""".stripMargin,
    // k15: the rewrite must be lossless for the box the layout optimizes
    "k15_zorder_write" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 120 AND l_suppkey BETWEEN 10 AND 20
        |ORDER BY l_orderkey, l_partkey, l_suppkey""".stripMargin,
    "k07_format_roundtrip" ->
      """SELECT event_id, user_id, event_type, value, ts
        |FROM events ORDER BY event_id""".stripMargin,
    "k08_compaction" ->
      """SELECT event_id, user_id, event_type, value, ts
        |FROM events ORDER BY event_id""".stripMargin,
    "k11_schema_evolution" ->
      """SELECT event_id, user_id, value,
        |  CASE WHEN event_id % 2 = 1
        |    THEN 'ingest-' || CAST(event_id % 3 AS VARCHAR) END
        |    AS source_tag
        |FROM events ORDER BY event_id""".stripMargin,
    "k10_malformed_ingest" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 13 <> 0
        |    THEN CAST(CAST(FLOOR(value * 100) AS BIGINT) AS DOUBLE) END
        |    AS value,
        |  CASE WHEN event_id % 13 = 0
        |    THEN CAST(event_id AS VARCHAR) || ',' || CAST(user_id AS VARCHAR)
        |      || ',oops' END AS _corrupt
        |FROM events ORDER BY event_id""".stripMargin,
    "k09_upsert_merge" ->
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN event_id % 3 = 0 THEN value + 1000.0 ELSE value END
        |    AS value,
        |  CASE WHEN event_id % 3 = 0 THEN 2 ELSE 1 END AS version
        |FROM events ORDER BY event_id""".stripMargin,
    "k02_jdbc_sink" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "k05_static_dict" ->
      s"""SELECT t.chain_id, t.chain_name, COUNT(*) AS n
         |FROM events e
         |LEFT JOIN (VALUES $chainValuesSql)
         |  AS t(idx, chain_id, chain_name)
         |  ON e.event_id % ${graft.sources.ChainDict.entries.size} = t.idx
         |GROUP BY t.chain_id, t.chain_name
         |ORDER BY t.chain_id""".stripMargin,
    "k04_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "k01_parquet_sink" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
        |  o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "k12_partition_overwrite" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_type = 'click' THEN value * 2.0 ELSE value END
        |    AS value,
        |  event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "k13_manifest_publish" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "k14_manifest_delta" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 2 = 1 ORDER BY event_id""".stripMargin,
    // k31's oracle is v2's exact content — notably INCLUDING the
    // user_id % 7 = 0 rows the v3 rewrite erased after v2 was pinned
    "k31_time_travel" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 3 IN (0, 1)
        |ORDER BY event_id""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k28_sketch_rollup" -> (k28SketchRollup _),
    "k29_quantile_rollup" -> (k29QuantileRollup _),
    "k30_cms_topk" -> (k30CmsTopk _),
    "k15_zorder_write" -> (k15ZorderWrite _),
    "k16_footer_stats" -> (k16FooterStats _),
    "k17_vacuum" -> (k17Vacuum _),
    "k01_parquet_sink" -> (k01ParquetSink _),
    "k02_jdbc_sink" -> (k02JdbcSink _),
    "k04_bucketed_join" -> (k04BucketedJoin _),
    "k05_static_dict" -> (k05StaticDict _),
    "k07_format_roundtrip" -> (k07FormatRoundtrip _),
    "k08_compaction" -> (k08Compaction _),
    "k09_upsert_merge" -> (k09UpsertMerge _),
    "k10_malformed_ingest" -> (k10MalformedIngest _),
    "k11_schema_evolution" -> (k11SchemaEvolution _),
    "k12_partition_overwrite" -> (k12PartitionOverwrite _),
    "k13_manifest_publish" -> (k13ManifestPublish _),
    "k14_manifest_delta" -> (k14ManifestDelta _),
    "k31_time_travel" -> (k31TimeTravel _),
    "k18_merge_on_read" -> (k18MergeOnRead _),
    "k19_stats_skipping" -> (k19StatsSkipping _),
    "k20_wap" -> (k20Wap _),
    "k21_cached_table" -> (k21CachedTable _),
    "k22_multitable_publish" -> (k22MultitablePublish _)
  )
}
