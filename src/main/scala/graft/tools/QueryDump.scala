package graft.tools

import org.apache.spark.sql.SparkSession

/** Subset Verify for fast oracle iteration: dump only the NAMED registry
  * queries (plus their oracle SQL) into an output dir that
  * `tools/check.py` accepts — the full `graft.Verify` replays all ~90
  * queries, which is minutes of wait to validate one new oracle.
  *
  * Usage: runMain graft.tools.QueryDump <sfDir> <outDir> <q1> [q2 ...]
  */
object QueryDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: QueryDump <sfDir> <outDir> <queryName> [more...]")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown registry query: $name"))
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    val json = graft.SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => graft.SparkEntry.jsonString(k) + ": " + graft.SparkEntry.jsonString(v) }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
