package graft.tools

import org.apache.spark.sql.functions._

/** Embedding cluster-MASS skew probe (round-14 verdict "next round
  * #6"): the Zipf key decade measured hot KEYS; the semdedup/IVF
  * analogue is a hot CLUSTER — if the coarse quantizer cannot split a
  * region holding 40% of all vectors, semdedup's pair stage blows up as
  * Σ|cluster|² even at k ∝ n, and every IVF probe whose query lands in
  * the hot cell scans a fat list. This probe measures, per corpus:
  *
  *  - the REAL list-size distribution a `buildIvfIndex` at k ∝ n
  *    produces (read back from the `__list=` partition counts), at
  *    refineIters 0 (sample-seeded only) and 2 (Lloyd-refined),
  *    reported as `imb` = Σc²·k/n² — the pair-work amplification over
  *    perfectly balanced clusters (1.0 = balanced) — and `maxShare` =
  *    max list mass fraction;
  *  - the semdedup wall at that k (the Σc² consumer);
  *  - the IVF probe wall over corpus-head queries at nProbe = 1 (the
  *    fat-list consumer).
  *
  * Run it on a `SynthDocs ... zipfvec` corpus next to its uniform
  * sibling (same n, same geometry, only mass moves): SCALING.md holds
  * the committed table and the deployment rule. Usage:
  *   EmbedSkewProbe <dir1,dir2,…> [rowsPerCluster] [reps]
  */
object EmbedSkewProbe {
  def main(args: Array[String]): Unit = {
    val dirs = args(0).split(",")
    val rowsPerCluster = if (args.length > 1) args(1).toLong else 250L
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.SparkEntry.localSession("32")
    import graft.operators.Similarity

    def medianOf(run: () => Unit): Double = {
      run() // cold, discarded
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }.sorted.apply(reps / 2)
    }

    dirs.foreach { dir =>
      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val n = emb.count()
      val k = math.max(8L, (n + rowsPerCluster - 1) / rowsPerCluster).toInt
      Seq(0, 2).foreach { iters =>
        val idx = java.nio.file.Files
          .createTempDirectory(s"graft-embskew-$iters").toString + "/idx"
        Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx,
          nCentroids = k, refineIters = iters)
        val sizes = spark.read.parquet(idx)
          .groupBy("__list").count()
          .collect().map(_.getLong(1))
        val sumSq = sizes.map(c => c.toDouble * c).sum
        val imb = sumSq * k / (n.toDouble * n)
        val maxShare = sizes.max.toDouble / n
        // fat-list consumer: 100 corpus-head queries, one list each
        val queries = emb.filter(col("vec_id") < 100)
        val probeSec = medianOf(() =>
          Similarity.probeIvfIndex(spark, idx, queries, "vec_id",
              "embedding", k = 5, nProbe = 1)
            .write.format("noop").mode("overwrite").save())
        println(f"""{"probe":"embed_skew","dir":"$dir","n":$n,"k":$k,""" +
          f""""refine":$iters,"lists":${sizes.length},"imb":$imb%.2f,""" +
          f""""maxShare":$maxShare%.3f,"probeSec":$probeSec%.3f}""")
      }
      // Σc² consumer: the operator's own k ∝ n training path (refine 2)
      val sdSec = medianOf(() =>
        Similarity.semDedup(emb, "vec_id", "embedding", nClusters = k)
          .write.format("noop").mode("overwrite").save())
      println(f"""{"probe":"embed_skew_semdedup","dir":"$dir","n":$n,""" +
        f""""k":$k,"sec":$sdSec%.3f}""")
    }
    spark.stop()
  }
}
