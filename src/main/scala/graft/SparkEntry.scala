package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Hybrid RRF search — the structural spine of the reference (SURVEY §7.2). */
  def entry(spark: SparkSession): DataFrame =
    search.SearchEngine.hybrid(
      spark, "/root/testdata/sf0.001", Queries.QueryVecId, Queries.QueryTerms, 10)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queryFns

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles

  /** Local cores for every main: `SPARK_GRAFT_CPUS`, else all processors. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The one session every main runs on: local[cpus] with shuffle
    * partitions = cpus, UTC session time, TIMESTAMP(NANOS) read as long
    * (see Tables.events), UI off, ERROR logging. */
  def localSession(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
