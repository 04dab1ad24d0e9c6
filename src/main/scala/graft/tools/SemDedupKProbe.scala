package graft.tools

import org.apache.spark.sql.functions._

/** SemDedup cluster-count scaling probe (round-13, SCALING.md second
  * decade): q_semdedup_fixed pins nCentroids = 8 for oracle
  * replayability, which makes within-cluster candidate work grow
  * ∝ n²/k — visible as the 8× wall jump on the ×10 synthetic decade.
  * The OPERATOR's scale contract is k ∝ n (bounded cluster size); this
  * probe measures semDedupFixed on one corpus at several k so the
  * contract is a number, not a claim. Usage:
  *   SemDedupKProbe <dir> [k1,k2,…] [reps]
  */
object SemDedupKProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val ks = (if (args.length > 1) args(1) else "8,80").split(",").map(_.toInt)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.SparkEntry.localSession("32")
    import graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val n = emb.count()
    ks.foreach { k =>
      val qcents = Similarity.quantizeCodebooks(Array(
        Similarity.trainCoarseCentroids(emb, "vec_id", "embedding", k)))(0)
      def run(): Unit = Similarity.semDedupFixed(emb, "vec_id", "embedding",
        qcents).write.format("noop").mode("overwrite").save()
      run() // cold, discarded
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"""{"probe":"semdedup_k","dir":"$dir","n":$n,"k":$k,"sec":${secs(secs.size / 2)}%.3f}""")
    }
    spark.stop()
  }
}
