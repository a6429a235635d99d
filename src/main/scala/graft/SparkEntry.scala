package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Session.enforce(spark)
    operators.Relational.q01AggFilter(spark, "/root/testdata/sf0.001")
  }
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (k, f) =>
      k -> { (s: SparkSession, d: String) => Session.enforce(s); f(s, d) }
    }
  /** The entries named in `names` (every entry when empty), sorted by
    * name. An unknown name fails: a typo would otherwise select nothing
    * and report a vacuous result. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    all.toSeq.sortBy(_._1).filter { case (n, _) => names.isEmpty || names.contains(n) }
  }
  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
      operators.Skew.queries ++
      operators.DomainFunctions.queries ++
      operators.TextAnalysis.queries ++
      operators.Corpus.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries ++
      operators.Pipelines.queries ++
      operators.SvmInstr.queries ++
      streaming.EventStreams.queries ++
      sinks.Writers.queries ++
      sinks.ClickHouseDdl.queries ++
      sinks.ClickHouseHttpQuery.queries ++
      pipeline.Incremental.queries ++
      pipeline.Orchestrator.queries ++
      pipeline.Providers.queries ++
      sources.ArrowHttp.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracle ++
      operators.Skew.oracle ++
      operators.DomainFunctions.oracle ++
      operators.TextAnalysis.oracle ++
      operators.Corpus.oracle ++
      operators.Dedup.oracle ++
      operators.Similarity.oracle ++
      operators.Multimodal.oracle ++
      operators.Pipelines.oracle ++
      operators.SvmInstr.oracle ++
      streaming.EventStreams.oracle ++
      sinks.Writers.oracle ++
      sinks.ClickHouseDdl.oracle ++
      sinks.ClickHouseHttpQuery.oracle ++
      pipeline.Incremental.oracle ++
      pipeline.Orchestrator.oracle ++
      pipeline.Providers.oracle ++
      sources.ArrowHttp.oracle
}
