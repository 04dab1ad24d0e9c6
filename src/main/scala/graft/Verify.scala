package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). Optional third arg (builder-side
    // iteration only): a regex — only matching query names run.
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter: String => Boolean =
      if (args.length > 2) args(2).r.pattern.asPredicate.test(_)
      else _ => true
    val spark = SparkEntry.localSession("4")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach {
      case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => SparkEntry.jsonString(k) + ": " + SparkEntry.jsonString(v) }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
