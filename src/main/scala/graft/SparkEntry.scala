package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] demonstrates one operator from SURVEY.md §2
  * (or an extension op) over the driver testdata; [[oracleSql]] carries the
  * DuckDB-equivalent SQL for the hash-compare correctness gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1-style pricing summary — exercises scan, filter pushdown,
    * hash aggregation and sort in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1_agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.registry

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles

  /** The local session every main runs on: `local[$SPARK_GRAFT_CPUS]`
    * (`defaultCpus` when unset) with as many shuffle partitions as cpus,
    * UTC session time, the UI off and log level WARN. `conf` pairs are
    * set after these, so a main can add its own (SkewProbe's AQE skew
    * thresholds, the fallback probe's `spark.sql.codegen.fallback`).
    */
  def localSession(defaultCpus: String, conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped, so a tab or quote in a query name or
    * its SQL cannot break a consumer's JSON parse.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
