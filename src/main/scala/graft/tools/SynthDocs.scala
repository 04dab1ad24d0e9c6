package graft.tools

import org.apache.spark.sql.SparkSession

/** Seeded synthetic document/embedding corpus in the driver-testdata
  * schema (round-12 verdict "next round #4"): the driver floors
  * `documents`/`embeddings` at 500 rows below sf0.1, so its dirs give
  * the document family only ONE real ×10 decade (sf0.01 → sf0.1). This
  * tool generates statistically-matched corpora at ANY size so
  * `Probe time` can measure a second real decade (5k → 50k docs) —
  * SCALING.md holds the committed table.
  *
  * Matched to the driver corpus at sf0.1 (measured): the same 31-word
  * vocabulary, 10–100 words/doc uniform, lang mix en 41% / others
  * ~15%, 20 sources, ~0.1% exact-duplicate and ~4.4% near-duplicate
  * docs (the rates that drive q_dedup_near candidate counts), and
  * unit-norm 64-dim embeddings in 10 centroid clusters (what semdedup
  * and the ANN recall pins consume).
  *
  * Every row is a PURE function of (seed, id): roles come from id
  * arithmetic (ids with id mod 1000 ≥ 955 duplicate an earlier
  * unique-role id), texts from a per-id rng, so generation is
  * embarrassingly parallel — no shuffle, no cross-row state, identical
  * output at any partitioning or cluster size. Usage:
  *   SynthDocs <outDir> <nDocs> <nVecs> [seed] [uniform|zipf]
  *             [uniformvec|zipfvec]
  *
  * `zipf` mode (round-13 verdict "next round #6") replaces the benign
  * uniform 20-source mix with a Zipf(s = 1.2) draw over 1000 sources —
  * the hot-domain / hot-user key distribution real crawls have (the
  * head source carries ~23% of all docs, the top 10 ~55% — the measured
  * mass of Zipf(1.2) truncated at 1000 sources, see SCALING.md) — so the
  * skew decade in SCALING.md can measure the per-domain operators
  * (domain caps, dup profiles, heavy hitters, salted joins) under the
  * 100 TB failure mode the uniform corpora cannot produce. Everything
  * else (vocabulary, dup rates, langs, embeddings) is unchanged, so a
  * zipf corpus differs from its uniform sibling ONLY in key heat.
  */
object SynthDocs {

  /** The driver corpus's exact vocabulary (sf0.1, 31 distinct tokens). */
  private val Vocab = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  private val Langs = Array("en", "zh", "fr", "es", "de")
  private val LangCum = Array(0.41, 0.56, 0.71, 0.86, 1.0)

  /** Zipf(s) cumulative distribution over `n` ranked items — a pure
    * function of (n, s), computed once per executor and closed over by
    * the row generator, so rows stay pure in (seed, id).
    */
  private def zipfCumulative(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    val cum = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / tot; cum(i) = acc; i += 1 }
    cum(n - 1) = 1.0
    cum
  }

  private lazy val ZipfCum: Array[Double] = zipfCumulative(1000, 1.2)

  /** Zipf(1.2) over the 10 TRUE embedding clusters (round-14 verdict
    * #6): cluster-MASS skew, the semdedup/IVF analogue of hot keys —
    * the head cluster carries ~40% of all vectors, the top 3 ~72%.
    */
  private lazy val ZipfVecCum: Array[Double] = zipfCumulative(10, 1.2)

  private def zipfIndex(cum: Array[Double], u: Double): Int = {
    val idx = java.util.Arrays.binarySearch(cum, u) match {
      case found if found >= 0 => found
      case ins => -(ins + 1)
    }
    math.min(idx, cum.length - 1)
  }

  private def zipfSource(u: Double): String = s"src${zipfIndex(ZipfCum, u)}"

  private def rngFor(seed: Long, id: Long): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L + id * 0xC2B2AE3D27D4EB4FL)

  // ids with (id mod 1000) < UniquePerK generate fresh text; the rest
  // copy an earlier unique-role id (exact for the last slot, mutated
  // otherwise) — 44/1000 near dups, 1/1000 exact dups
  private val UniquePerK = 955

  /** The k-th unique-role id (k ≥ 0). */
  private def uniqueId(k: Long): Long =
    (k / UniquePerK) * 1000L + (k % UniquePerK)

  private def uniqueWords(seed: Long, id: Long): Array[String] = {
    val rng = rngFor(seed, id)
    Array.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length)))
  }

  /** (text, lang, source) for doc `id` — pure in (seed, id, zipf). */
  def doc(seed: Long, id: Long, zipf: Boolean = false): (String, String, String) = {
    val rng = rngFor(seed, ~id) // distinct stream from uniqueWords(id)
    val slot = id % 1000L
    val words =
      if (slot < UniquePerK || id < 1000L) uniqueWords(seed, id)
      else {
        // duplicate an earlier unique-role doc: uniform over the ~95.5%
        // unique ids below this one
        val nUnique = (id / 1000L) * UniquePerK
        // floorMod: abs(Long.MinValue) is still negative, which would
        // make this id negative — not a copy of ANY earlier doc
        val base = uniqueWords(seed,
          uniqueId(java.lang.Math.floorMod(rng.nextLong(), nUnique)))
        if (slot == 999L) base // exact duplicate
        // near duplicate: ~3% word substitutions — at ~55 words that is
        // 1-2 changed words, i.e. shingle-Jaccard straddling the 0.8
        // near-dup threshold the way the driver corpus's prefix-sharing
        // near-dups do (10% mutation put every pair far below it)
        else base.map(w =>
          if (rng.nextDouble() < 0.03) Vocab(rng.nextInt(Vocab.length)) else w)
      }
    val lr = rng.nextDouble()
    val lang = Langs(LangCum.indexWhere(lr <= _))
    val source =
      if (zipf) zipfSource(rng.nextDouble()) else s"src${rng.nextInt(20)}"
    (words.mkString(" "), lang, source)
  }

  /** Unit-norm 64-dim embedding for vec `id` in one of 10 clusters —
    * centroid (a pure function of seed and label) + gaussian noise,
    * L2-normalized, like the driver's. `zipfMass` draws the cluster
    * LABEL from Zipf(1.2) instead of uniformly (`id mod 10`) — cluster-
    * mass skew with identical geometry, so any semdedup/IVF delta vs
    * the uniform sibling is mass concentration alone. Uniform mode's
    * output is bit-identical to pre-round-15 corpora (the extra label
    * draw is only consumed in zipfMass mode).
    */
  def vec(seed: Long, id: Long,
      zipfMass: Boolean = false): (Int, Array[Float]) = {
    val rng = rngFor(seed, id + (1L << 40))
    val label =
      if (zipfMass) zipfIndex(ZipfVecCum, rng.nextDouble())
      else (id % 10L).toInt
    val cRng = rngFor(seed * 31L + 7L, label.toLong)
    val raw = Array.fill(64)(cRng.nextGaussian() + 0.45 * rng.nextGaussian())
    val norm = math.sqrt(raw.map(x => x * x).sum)
    (label, raw.map(x => (x / norm).toFloat))
  }

  def generate(spark: SparkSession, outDir: String, nDocs: Long,
      nVecs: Long, seed: Long = 42L, zipf: Boolean = false,
      zipfVecMass: Boolean = false): Unit = {
    import spark.implicits._
    spark.range(nDocs)
      .map { id =>
        val (text, lang, source) = doc(seed, id, zipf)
        (id, text, lang, source, text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.range(nVecs)
      .map { id =>
        val (label, embedding) = vec(seed, id, zipfVecMass)
        (id, embedding, label)
      }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nDocs = args(1).toLong
    val nVecs = args(2).toLong
    val seed = if (args.length > 3) args(3).toLong else 42L
    val zipf = args.length > 4 && args(4) == "zipf"
    val zipfVecMass = args.length > 5 && args(5) == "zipfvec"
    val spark = graft.SparkEntry.localSession("32")
    generate(spark, outDir, nDocs, nVecs, seed, zipf, zipfVecMass)
    println(s"[synthdocs] wrote $nDocs docs + $nVecs vecs to $outDir " +
      s"(seed $seed, sources ${if (zipf) "zipf" else "uniform"}, " +
      s"cluster mass ${if (zipfVecMass) "zipfvec" else "uniform"})")
    spark.stop()
  }
}
