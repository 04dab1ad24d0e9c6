package graft.tools

import org.apache.spark.sql.{functions => F}

import graft.operators.{Similarity, StoreLayout}

/** Read-amplification probe for the persisted ANN indexes — the
  * partitioned-layout twin of [[StoreAmpProbe]]: appends `n` disjoint
  * embedding batches to an IVF index twice — once raw (every append
  * leaves one file per populated list: probes pay one parquet
  * open+footer per batch × probed list) and once with
  * `autoCompactParts` ([[Similarity.compactIvfIndex]] folds to one
  * file per list) — timing an exhaustive probe at checkpoints.
  * Correctness is asserted throughout (served row count == rows
  * appended so far; final exhaustive probe == brute force), so the
  * curve measures exactly the file-count tax. SCALING.md holds the
  * committed table.
  *
  * Usage: IndexAmpProbe [sfDir] [nAppends] [autoCompactParts]
  */
object IndexAmpProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val n = if (args.length > 1) args(1).toInt else 50
    val acp = if (args.length > 2) args(2).toInt else 16
    val spark = graft.SparkEntry.localSession("32")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(F.col("vec_id") < 5)
    def slice(i: Int) = emb.filter(F.pmod(F.col("vec_id"), F.lit(n + 1)) === i)

    def runMode(mode: String, autoParts: Int): Unit = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-idxamp-$mode").toString + "/index"
      Similarity.buildIvfIndex(slice(0), "vec_id", "embedding", dir,
        nCentroids = 8)
      val (fs, p) = StoreLayout.fsFor(spark, dir)
      def probeTimed(): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = Similarity.probeIvfIndex(spark, dir, queries,
          "vec_id", "embedding", k = 10, nProbe = 8).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      probeTimed() // warm the path
      var appended = slice(0).count()
      (1 to n).foreach { i =>
        Similarity.appendToIvfIndex(slice(i), "vec_id", "embedding", dir,
          batchId = Some(s"amp-$i"), autoCompactParts = autoParts)
        appended += slice(i).count()
        if (i % 10 == 0 || i == 1) {
          val served = spark.read.option("basePath", dir).parquet(
            StoreLayout.servingFiles(fs, p)
              .map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
            .count()
          require(served == appended,
            s"served $served != appended $appended under $mode at $i")
          // median of 3 probes (sub-second; single samples too noisy)
          val reps = (1 to 3).map(_ => probeTimed()._1).sorted
          val parts = StoreLayout.servingFiles(fs, p).size
          println(f"""{"probe":"indexamp","mode":"$mode","appends":$i,"servedParts":$parts,"probeSec":${reps(1)}%.3f}""")
        }
      }
      // final exactness: exhaustive probe == brute force over the union
      val all = (0 to n).map(slice).reduce(_ unionAll _)
      val got = Similarity.probeIvfIndex(spark, dir, queries, "vec_id",
          "embedding", k = 10, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Similarity.bruteForceTopK(queries, all, "vec_id",
          "embedding", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      require(got == want, s"final probe != brute force under $mode")
    }

    // valve mode FIRST: the second mode inherits the warmer JVM, so any
    // JIT/era drift biases AGAINST the raw-mode slope being measured
    runMode(s"auto$acp", acp)
    runMode("raw", 0)
    spark.stop()
  }
}
