package graft.tools

import org.apache.spark.sql.{functions => F}

import graft.operators.Sketches

/** Read-amplification probe for the persisted sketch stores (round-13
  * verdict "next round #4"): appends `n` batches to a KMV store twice —
  * once raw (no compaction: serving folds one part set per append) and
  * once with `autoCompactParts` — timing the serving face at
  * checkpoints. The raw curve shows serve cost growing with the part
  * count (per-file open + footer read dominates the tiny sketch rows);
  * the auto-compacted curve is the flat line the valve exists for.
  * K-min re-appends are idempotent, so the served ANSWER is constant
  * throughout — asserted each checkpoint. SCALING.md holds the
  * committed table.
  *
  * Usage: StoreAmpProbe [sfDir] [nAppends] [autoCompactParts]
  */
object StoreAmpProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val n = if (args.length > 1) args(1).toInt else 100
    val acp = if (args.length > 2) args(2).toInt else 8
    val spark = graft.SparkEntry.localSession("32")

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val batch = orders.filter(F.col("o_orderkey") % 10 === 1)

    def runMode(mode: String, autoParts: Int): Unit = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-amp-$mode").toString + "/store"
      Sketches.buildKmvStore(batch, Seq("o_orderstatus"), "o_custkey", 64,
        dir)
      def serveTimed(): (Double, Map[String, Double]) = {
        val t0 = System.nanoTime()
        val m = Sketches.kmvDistinctFromStore(spark, dir)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        ((System.nanoTime() - t0) / 1e9, m)
      }
      val (_, want) = serveTimed() // warm the path; pin the answer
      (1 to n).foreach { i =>
        Sketches.appendToKmvStore(batch, dir, autoCompactParts = autoParts)
        if (i % 10 == 0 || i == 1) {
          // median of 3 serves (sub-second; single samples too noisy)
          val reps = (1 to 3).map { _ =>
            val (sec, got) = serveTimed()
            require(got == want, s"serve changed under $mode at append $i")
            sec
          }.sorted
          val parts = Sketches.servedFiles(spark, dir).size
          println(f"""{"probe":"storeamp","mode":"$mode","appends":$i,"servedParts":$parts,"serveSec":${reps(1)}%.3f}""")
        }
      }
    }

    runMode("raw", 0)
    runMode(s"auto$acp", acp)
    spark.stop()
  }
}
