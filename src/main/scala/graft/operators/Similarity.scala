package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`) — extension
  * scope (SURVEY.md §7.2 M8). Two paths:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k with the QUERY side broadcast —
  *    the correct baseline when the query set is small (the 100 TB candidate
  *    side streams through in one pass, never shuffled, never collected);
  *  - [[lshTopK]]: sign-random-projection (hyperplane) LSH — candidates
  *    come from equi-joins on bucket keys, so the candidate side is touched
  *    once and only same-bucket pairs are scored. Approximate by
  *    construction (documented recall/bucket-width tradeoff); multi-table
  *    probing raises recall.
  *
  * All scoring runs through the native codegen'd `cosine_sim` /
  * `dot_product` expressions ([[graft.functions.VectorKernel]] — one fused
  * allocation-free pass per pair); vectors are cast to double before
  * arithmetic so scores are reproducible bit-for-bit.
  */
object Similarity {

  /** Per-query top-k of a (query_id, cand_id, sim) frame; ties break on
    * candidate id. Shared by the exact and approximate paths so rank
    * semantics cannot drift. Null/NaN scores (zero vectors — see
    * [[cosine]]) are dropped first: NaN sorts ABOVE every real double, so
    * a single all-zero embedding would otherwise occupy rank 1 of every
    * query's results.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("sim").desc, F.col("cand_id").asc)
    scored.filter(F.col("sim").isNotNull && !F.isnan(F.col("sim")))
      .withColumn("__rank", F.row_number().over(w))
      .filter(F.col("__rank") <= k)
      .drop("__rank")
  }

  /** Dot product of two vector columns (cast to double first) — the
    * native codegen'd [[graft.functions.DotProduct]] expression (one
    * allocation-free pass; the composed `aggregate(zip_with(...))` form
    * allocates the zipped array per evaluation). NULL on length mismatch /
    * null element, as the composed form's null-padding produced.
    */
  def dot(a: Column, b: Column): Column =
    graft.plans.GraftExtensions.callNative("dot_product",
      a.cast("array<double>"), b.cast("array<double>"))

  /** Composed `functions._` formulation, kept as the equivalence baseline
    * for the native kernel (PipelineSpec pins them row-for-row equal).
    */
  private[graft] def dotComposed(a: Column, b: Column): Column =
    F.aggregate(F.zip_with(a, b, (x, y) => x * y), F.lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = F.sqrt(dot(a, a))

  /** Cosine similarity of two vector columns (cast to double first) — the
    * native codegen'd [[graft.functions.CosineSim]] expression: dot, ‖a‖
    * and ‖b‖ in ONE fused pass instead of three reductions over three
    * zipped temporaries.
    *
    * NULL when either vector has zero norm: a bare division would THROW
    * DIVIDE_BY_ZERO under Spark 4's default ANSI mode — one all-zero
    * embedding (padding row, failed encoder) would kill the whole job —
    * and with ANSI off it would yield NaN, which sorts ABOVE every real
    * score. NaN elements also fold into NULL (see
    * [[graft.functions.VectorBinaryExpression]] for the sentinel
    * contract).
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.GraftExtensions.callNative("cosine_sim",
      a.cast("array<double>"), b.cast("array<double>"))

  /** Audit face for the kernel's malformed-vector contract: the rows of
    * `df` whose `vecCol` the quantizer kernel would refuse (null vector,
    * length ≠ `dim`, null element, non-finite element), tagged with a
    * `reason` column. The assignment paths ([[semDedup]]'s `__cid`,
    * [[ivfTopK]]'s probe) map such rows to a NULL assignment, which a
    * later equi-join/explode then silently drops from pair generation —
    * the row survives dedup unexamined. That is the documented contract
    * (garbage vectors must not crash a 100 TB job), but silent is not
    * observable: pipelines that want a bound on it run this projection
    * first (one scan, no shuffle; count or quarantine the result).
    */
  def malformedVectors(df: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val v = F.col(vecCol).cast("array<double>")
    val hasNullElem = F.exists(v, x => x.isNull)
    // NaN != NaN and ±Inf both fail the finite window check below
    val hasNonFinite = F.exists(v,
      x => x.isNaN || x > Double.MaxValue || x < Double.MinValue)
    val reason = F.when(v.isNull, "null_vector")
      .when(F.size(v) =!= dim, "wrong_length")
      .when(hasNullElem, "null_element")
      .when(hasNonFinite, "non_finite_element")
    df.withColumn("reason", reason).filter(F.col("reason").isNotNull)
      .select(F.col(idCol), F.col("reason"))
  }

  /** Composed formulation of [[cosine]] (equivalence baseline — see
    * [[dotComposed]]).
    */
  private[graft] def cosineComposed(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val dc = dotComposed(ad, bd)
    val denom = F.sqrt(dotComposed(ad, ad)) * F.sqrt(dotComposed(bd, bd))
    F.when(denom === 0.0, F.lit(null).cast("double"))
      .otherwise(dc / denom)
  }

  /** Exact cosine top-k: for every query vector, the k nearest candidates.
    *
    * Plan: broadcast-nested-loop join of the (small, broadcast) query side
    * against the candidate scan, score in the same projection, then a
    * window top-k partitioned by query id. The candidate table is read
    * exactly once; the only shuffle is the per-query top-k (bounded by
    * k·|queries| rows after the rank filter under AQE).
    *
    * Returns (query_id, cand_id, sim) with ties broken by candidate id.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // register into the session that OWNS this frame (the Column-builder
    // fallback uses SparkSession.active, wrong in multi-session apps)
    graft.plans.GraftExtensions.register(candidates.sparkSession)
    val q = queries.select(F.col(idCol).as("query_id"), F.col(vecCol).as("__qv"))
    val c = candidates.select(F.col(idCol).as("cand_id"), F.col(vecCol).as("__cv"))
    val joined = c.crossJoin(F.broadcast(q))
    val filtered =
      if (excludeSelf) joined.filter(F.col("query_id") =!= F.col("cand_id"))
      else joined
    val scored = filtered
      .withColumn("sim", cosine(F.col("__qv"), F.col("__cv")))
      .select("query_id", "cand_id", "sim")
    topK(scored, k)
  }

  /** Deterministic random hyperplanes: `nPlanes` × `dim` doubles from a
    * fixed seed (driver-side tiny; shipped to executors as literals).
    */
  private def planes(dim: Int, nPlanes: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** First md5 nibble of `key` mapped to the Achlioptas s = 4 sparse ±1
    * entry ('0'/'2' → +1, '1'/'3' → −1, else 0) — the ONE driver-side
    * derivation behind both md5 matrices ([[randomProject]]'s JL
    * transform and [[planesMd5]]'s SRP planes), so the two flavors and
    * their oracles share a single definition.
    */
  private def md5SignEntry(md: java.security.MessageDigest,
      key: String): Double = {
    val nib = (md.digest(key.getBytes("UTF-8"))(0) >> 4) & 0xf
    nib match {
      case 0 | 2 => 1.0
      case 1 | 3 => -1.0
      case _ => 0.0
    }
  }

  /** md5-derived SPARSE ±1 hyperplanes (Achlioptas s = 4 entries — the
    * exact [[randomProject]] matrix derivation, salt `"srp_<seed>"`):
    * sign-of-sparse-projection is a valid SRP family, and any engine with
    * md5 rebuilds the identical planes — the flavor that gives the
    * registry's q_knn_lsh a full DuckDB oracle. Scale is irrelevant to
    * the SIGN, so entries stay bare ±1/0.
    */
  private def planesMd5(dim: Int, nPlanes: Int, seed: Long): Seq[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(nPlanes)(p =>
      Array.tabulate(dim)(i => md5SignEntry(md, s"srp_${seed}_${p}_${i}")))
  }

  /** Sign-random-projection bucket key: bit i = sign of dot(vec, plane_i).
    * Vectors in the same bucket agree on all `nPlanes` signs — cosine-close
    * vectors collide with probability (1 - θ/π)^nPlanes.
    *
    * `planesFn = "gaussian"` (default) draws dense Gaussian planes from a
    * seeded JVM RNG — the classic family, engine-private; `"md5"` draws
    * the [[planesMd5]] sparse ±1 planes — same collision story, but
    * engine-REPLAYABLE (the oracle convention every md5 flavor here
    * follows).
    */
  def srpBucket(vec: Column, dim: Int, nPlanes: Int, seed: Long,
      planesFn: String = "gaussian"): Column = {
    require(planesFn == "gaussian" || planesFn == "md5",
      s"planesFn must be gaussian or md5, got $planesFn")
    // 1L << i wraps at 64 (and flips sign at 63): beyond 63 planes the
    // key stops uniquely encoding the sign pattern, silently degrading
    // recall — fail loudly like packChunks' pack-id range guard
    require(nPlanes >= 1 && nPlanes <= 63,
      s"nPlanes must be in [1, 63], got $nPlanes")
    val vd = vec.cast("array<double>")
    val ps = if (planesFn == "md5") planesMd5(dim, nPlanes, seed)
      else planes(dim, nPlanes, seed)
    val bits = ps.map { p =>
      // ONE ArrayType literal, not CreateArray of dim element literals:
      // the per-element form adds nTables·nPlanes·dim expression nodes to
      // the tree (3072 for the q_knn_lsh defaults) that analysis and
      // ConstantFolding re-walk on every build — measured ~0.3 s of
      // driver-side DataFrame construction per lshTopK call
      val planeCol = F.typedLit(p.toSeq)
      F.when(dot(vd, planeCol) >= 0, F.lit(1L)).otherwise(F.lit(0L))
    }
    val key = bits.zipWithIndex.map { case (b, i) => b * (1L << i) }
      .reduce(_ + _)
    // null/ragged vectors get a NULL key (dot is null for every plane),
    // not bucket 0: a batch of garbage rows all colliding in bucket 0 of
    // every table would generate |garbage|^2 candidate pairs per table
    // before the null-sim filter dropped them; null keys never match the
    // bucket equi-join, so such rows are simply never candidates (the
    // same unexamined-survivor contract as the centroid assigners)
    F.when(dot(vd, F.typedLit(ps.head.toSeq)).isNotNull, key)
  }

  /** One row per (id, table, bucket): every table's SRP bucket key computed
    * in a single projection then exploded — ONE pass over the vectors for
    * all `nTables` tables. The N-branch formulation (one join per table,
    * union the results) re-scans and re-projects the vector table once per
    * branch per side; this shape replaces 2·nTables scans with 2.
    */
  private def tableBuckets(df: DataFrame, id: String, vec: String, dim: Int,
      nPlanes: Int, nTables: Int, seed: Long,
      planesFn: String = "gaussian"): DataFrame =
    // the bucket array MATERIALIZES AS AN ATTRIBUTE before the explode
    // (and the float→double cast happens once, not once per plane dot):
    // Generate evaluates its child generator INTERPRETED, so an inline
    // array of nTables·nPlanes kernel dots ran ~56 interpreted
    // expression-tree walks (each re-casting the vector) per row — the
    // ShingleHash/Hygiene pattern, measured 1.05 s → 50 ms on the
    // q_knn_lsh candidate-bucketing stage at sf0.1.
    //
    // explode_OUTER, deliberately: the array is a constant-size-`nTables`
    // array of non-null structs (a malformed vector yields null `b`
    // FIELDS, never a null/empty array), so outer vs inner explode is
    // row-for-row identical — but inner explode makes
    // InferFiltersFromGenerate add `size(__tbs) > 0` and predicate
    // pushdown then re-evaluates the ENTIRE bucket-array expression as a
    // scan-level filter (974 ms on the sf0.1 candidate side — the whole
    // kernel twice per row) and, because only one of the two scans of
    // each vector table carries that filter, breaks the repartition
    // exchange reuse the scan discipline here is built on (4 scans + 4
    // exchanges instead of 2 + 2, plan-pinned in PipelineSpec).
    df.select(F.col(id), F.col(vec).cast("array<double>").as("__vd"))
      .select(F.col(id), F.array((0 until nTables).map { t =>
        F.struct(F.lit(t).as("t"),
          srpBucket(F.col("__vd"), dim, nPlanes, seed + t, planesFn).as("b"))
      }: _*).as("__tbs"))
      .select(F.col(id), F.explode_outer(F.col("__tbs")).as("__tb"))
      .select(F.col(id), F.col("__tb.t").as("__t"), F.col("__tb.b").as("__b"))

  /** Approximate cosine top-k via `nTables` independent SRP hash tables:
    * queries and candidates meet in ONE equi-join on the composite
    * (table, bucket) key; dedup the candidate pairs, score, window top-k.
    * No cartesian stage anywhere.
    *
    * Scan discipline: each side is projected and bucketed once
    * ([[tableBuckets]]), and the explicit repartition(id) materialization
    * points mean the scoring joins reuse the SAME exchanges (partitioning
    * tracks through the id aliases) instead of re-scanning the vector
    * tables — 2 scans total regardless of `nTables` (plan-pinned in
    * PipelineSpec).
    *
    * Recall rises with `nTables` and falls with `nPlanes` (narrower
    * buckets); callers trade those against candidate volume. A query whose
    * buckets are empty yields fewer than k (or zero) results — the standard
    * ANN contract.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      nPlanes: Int = 6, nTables: Int = 8, seed: Long = 42L,
      excludeSelf: Boolean = true,
      planesFn: String = "gaussian"): DataFrame = {
    // register into the session that OWNS this frame (the Column-builder
    // fallback uses SparkSession.active, wrong in multi-session apps)
    graft.plans.GraftExtensions.register(candidates.sparkSession)
    val q = queries.select(F.col(idCol).as("query_id"), F.col(vecCol).as("__qv"))
      .repartition(F.col("query_id"))
    val c = candidates.select(F.col(idCol).as("cand_id"), F.col(vecCol).as("__cv"))
      .repartition(F.col("cand_id"))
    val qb = tableBuckets(q, "query_id", "__qv", dim, nPlanes, nTables, seed,
      planesFn)
    val cb = tableBuckets(c, "cand_id", "__cv", dim, nPlanes, nTables, seed,
      planesFn)
    val cands = qb.join(cb, Seq("__t", "__b")).select("query_id", "cand_id")
      .distinct()
    val scored = cands
      .join(q, "query_id").join(c, "cand_id")
      .filter(if (excludeSelf) F.col("query_id") =!= F.col("cand_id") else F.lit(true))
      .withColumn("sim", cosine(F.col("__qv"), F.col("__cv")))
      .select("query_id", "cand_id", "sim")
    topK(scored, k)
  }

  /** Bounded deterministic training sample: the `cap` rows with the
    * smallest `xxhash64(id, seed)` — a distributed top-k by hash
    * (TakeOrderedAndProject: cap rows per partition merged on the driver),
    * so the sample is deterministic, spread uniformly across the corpus
    * regardless of physical row order (a bare `limit`, or `sample().limit`,
    * takes the first surviving partitions only — one corner of a
    * sorted/sharded corpus), and constant-cost at any corpus size. Shared
    * by every trainer ([[trainCentroids]], [[kmeansRefine]],
    * [[trainPqCodebooks]]) so the sampling policy cannot drift per path.
    * Returns a single `__v: array<double>` column.
    */
  /** Well-formedness screen shared by every TRAINING sample: null
    * vectors, null elements and non-finite elements are excluded before
    * the cap, so one garbage row can neither crash the driver-side Lloyd
    * (`getSeq(0).toArray` NPE) nor become a centroid. The same rows'
    * ASSIGNMENT-time fate (null kernel output, silently unexamined) is
    * what [[malformedVectors]] makes observable; `dim > 0` additionally
    * screens wrong-length vectors where the caller knows the
    * dimensionality (PQ training slices fixed-width subspaces).
    */
  private def hashSample(df: DataFrame, idCol: String, vecCol: String,
      cap: Int, seed: Long, dim: Int = -1): DataFrame = {
    val v = F.col(vecCol).cast("array<double>")
    val wellFormed = v.isNotNull && !F.exists(v, x => x.isNull) &&
      !F.exists(v, x => x.isNaN || x > Double.MaxValue || x < Double.MinValue) &&
      (if (dim > 0) F.size(v) === dim else F.lit(true))
    df.filter(wellFormed)
      .select(v.as("__v"), F.xxhash64(F.col(idCol), F.lit(seed)).as("__h"))
      .orderBy("__h").limit(cap).drop("__h")
  }

  /** The ONE nearest-centroid scoring definition: the `min(m, k)` nearest
    * centroids of `vec` as `(d, cid, csim)` structs sorted ascending by
    * `(d, cid)`, where `d` is the L2 surrogate `-2·dot + |c|²` (the
    * |point|² term is constant per row, so it cannot change the argmin)
    * and `csim` the cosine to that centroid (null on zero norm, like
    * [[cosine]]). Every assignment site — Lloyd refinement, IVF list
    * assignment, IVF probe bucketing, SemDeDup clustering — derives from
    * this helper, so build and probe can never tessellate the space
    * differently. (Max-inner-product assignment is NOT Lloyd's for
    * unnormalized vectors: large-norm centroids swallow disproportionate
    * lists — skewed partitions at scale — and probe recall decays faster
    * with nProbe.)
    *
    * Backed by the native [[graft.functions.NearestCentroids]] kernel:
    * the centroid set is ONE `typedLit` literal flattened once on the
    * driver and shipped as a codegen reference, so generated code is
    * constant-size in k — the composed per-centroid-literal form
    * ([[l2ScoredComposed]]) hits janino's 64 KB method limit (interpreted
    * fallback) in the low hundreds of centroids and stops planning long
    * before SemDeDup's paper-scale ~50k clusters. Executor-local argmin
    * either way: no shuffle, no join; the payload rides the
    * stage-broadcast task binary.
    */
  private def nearestScored(cents: Array[(Int, Array[Double])],
      vec: Column, m: Int): Column = {
    require(cents.nonEmpty, "nearestScored: empty centroid set")
    graft.plans.GraftExtensions.callNative("nearest_centroids",
      vec.cast("array<double>"),
      F.typedLit(cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }),
      F.lit(m))
  }

  /** Composed per-centroid-literal formulation of the same (d, cid)
    * scoring, kept as the equivalence baseline for the native kernel
    * (PipelineSpec pins argmin/top-m/csim row-for-row equal at small k —
    * see [[dotComposed]] for the convention). Code size grows with k·dim:
    * NOT scale-safe, never called from an operator path.
    */
  private[graft] def l2ScoredComposed(cents: Array[(Int, Array[Double])],
      vec: Column): Column =
    F.array(cents.toSeq.map { case (cid, cv) =>
      F.struct(
        (F.lit(cv.map(x => x * x).sum) -
          F.lit(2.0) * dot(vec.cast("array<double>"), F.array(cv.map(F.lit): _*)))
          .as("d"),
        F.lit(cid).as("cid"))
    }: _*)

  /** Lloyd-refine a centroid set against a bounded sample of the
    * candidate vectors — DRIVER-side, like [[trainPqCodebooks]]'
    * [[lloydL2]] and deliberately so: the [[hashSample]] is collected
    * ONCE (≤ sampleCap·dim doubles — the same bounded-artifact contract
    * the PQ trainer already carries) and the iterations are pure Scala.
    * The previous formulation ran one distributed job per iteration over
    * a localCheckpoint'ed sample (assignment kernel + posexplode +
    * per-(cluster, dim) avg + collect): 2 + iters Spark jobs whose
    * per-job scheduling floor, not arithmetic, dominated training wall —
    * guide §1.2 step 1 (the iteration arithmetic is
    * sampleCap·k·dim ≈ 5M flops/iter here, microseconds of CPU).
    *
    * Assignment replicates [[graft.functions.QuantizerKernel.topM]]'s
    * arithmetic exactly — d = ‖c‖² − 2·v·c with both reductions
    * accumulated in ascending-dimension order, ties → lowest cid — so
    * the driver refinement tessellates the space identically to the
    * kernel the refined centroids are later used with. Per-cluster means
    * divide per-dimension sums accumulated in hash-sample order (the
    * collect order of the hash-ordered sample, deterministic across
    * invocations and partitionings); empty clusters keep their previous
    * centroid, as before.
    */
  def kmeansRefine(candidates: DataFrame, idCol: String, vecCol: String,
      init: Array[(Int, Array[Double])], iters: Int,
      sampleCap: Int = 10000, seed: Long = 42L): Array[(Int, Array[Double])] = {
    if (iters <= 0) return init
    val dim = init.head._2.length
    // dim screen at the init centroids' width: a wrong-length survivor of
    // the generic screen would otherwise join training at a ragged width
    val sample: Array[Array[Double]] =
      hashSample(candidates, idCol, vecCol, sampleCap, seed, dim)
        .collect().map(_.getSeq[Double](0).toArray)
    lloydDriver(sample, init, iters)
  }

  /** The driver-side Lloyd loop shared by [[kmeansRefine]] and
    * [[trainCentroids]]' fused single-sample path (see kmeansRefine's
    * scaladoc for the assignment-arithmetic contract).
    */
  private def lloydDriver(sample: Array[Array[Double]],
      init: Array[(Int, Array[Double])],
      iters: Int): Array[(Int, Array[Double])] = {
    if (sample.isEmpty || iters <= 0) return init
    val dim = init.head._2.length
    val k = init.length
    var cents = init
    for (_ <- 1 to iters) {
      val norms2 = new Array[Double](k)
      var i = 0
      while (i < k) {
        val c = cents(i)._2
        var n2 = 0.0
        var j = 0
        while (j < dim) { val x = c(j); n2 += x * x; j += 1 }
        norms2(i) = n2
        i += 1
      }
      // assignment fans out over a FIXED chunk grid (64 slices in sample
      // order, partials merged in slice order), so the O(rows·k·dim)
      // assignment — the term that grows quadratic-ish under
      // semDedupAuto's k ∝ n rule — uses every driver core while the
      // result stays bit-deterministic on any machine/core count (r18
      // review finding: the first driver-side formulation was serial)
      val curr = cents
      val nChunks = math.min(64, sample.length)
      val partials = java.util.stream.IntStream.range(0, nChunks).parallel()
        .mapToObj[(Array[Array[Double]], Array[Long])] { chunk =>
          val lo = (chunk.toLong * sample.length / nChunks).toInt
          val hi = ((chunk + 1).toLong * sample.length / nChunks).toInt
          val pSums = Array.fill(k)(new Array[Double](dim))
          val pCounts = new Array[Long](k)
          var r = lo
          while (r < hi) {
            val p = sample(r)
            var best = -1
            var bestD = 0.0
            var ci = 0
            while (ci < k) {
              val c = curr(ci)._2
              var dp = 0.0
              var j = 0
              while (j < dim) { dp += p(j) * c(j); j += 1 }
              val d = norms2(ci) - 2.0 * dp
              if (best < 0 || d < bestD ||
                  (d == bestD && curr(ci)._1 < curr(best)._1)) {
                best = ci; bestD = d
              }
              ci += 1
            }
            pCounts(best) += 1
            val s = pSums(best)
            var j = 0
            while (j < dim) { s(j) += p(j); j += 1 }
            r += 1
          }
          (pSums, pCounts)
        }
        .toArray // encounter order == chunk order: deterministic merge
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      partials.foreach { case (pSums: Array[Array[Double]], pCounts: Array[Long]) =>
        var ci = 0
        while (ci < k) {
          counts(ci) += pCounts(ci)
          val s = sums(ci)
          val ps = pSums(ci)
          var j = 0
          while (j < dim) { s(j) += ps(j); j += 1 }
          ci += 1
        }
      }
      cents = cents.zipWithIndex.map { case ((cid, old), ci) =>
        if (counts(ci) == 0) (cid, old) // empty cluster keeps its centroid
        else (cid, sums(ci).map(_ / counts(ci)))
      }
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k — the classic coarse-quantizer
    * ANN layout: candidates are assigned to their nearest centroid's
    * partition list once; each query probes only its `nProbe` nearest
    * centroids' lists. Candidate volume drops by ~nProbe/nCentroids vs a
    * full scan, and the probe is an equi-join on the centroid id — no
    * cartesian.
    *
    * Centroids start as a deterministic sample of the candidate set
    * (`sampleSeed`) and are optionally Lloyd-refined ([[kmeansRefine]],
    * `refineIters` > 0) on a bounded sample. The plan shape
    * (assign → equi-join on list id → score → window top-k) is identical
    * either way; only the kernel's centroid table changes.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      sampleSeed: Long = 42L, refineIters: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    // register into the session that OWNS this frame (the Column-builder
    // fallback uses SparkSession.active, wrong in multi-session apps)
    graft.plans.GraftExtensions.register(candidates.sparkSession)
    val cents = trainCentroids(candidates, idCol, vecCol, nCentroids,
      sampleSeed, refineIters)
    val c = candidates.select(F.col(idCol).as("cand_id"), F.col(vecCol).as("__cv"))
      .withColumn("__list", nearestCentroids(cents, F.col("__cv"), 1).getItem(0))
    val q = queries.select(F.col(idCol).as("query_id"), F.col(vecCol).as("__qv"))
      .withColumn("__list",
        F.explode(nearestCentroids(cents, F.col("__qv"),
          math.min(nProbe, cents.length))))
    probeJoin(q, c, k, excludeSelf)
  }

  /** Deterministic sampled (+ optionally Lloyd-refined) centroid set — the
    * coarse quantizer shared by [[ivfTopK]] and [[buildIvfIndex]]. Seeds
    * come from [[hashSample]] (hash-ordered top-k), so even with the
    * default `refineIters = 0` the initial centroids are spread uniformly
    * across the corpus — a first-partition draw on data sorted/sharded by
    * semantic cluster would seed every centroid from one corner, skewing
    * lists and decaying probe recall.
    */
  private def trainCentroids(candidates: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, sampleSeed: Long,
      refineIters: Int): Array[(Int, Array[Double])] = {
    // ONE bounded sample job feeds both seeding and refinement (r18):
    // the nCentroids seed rows are by construction the head of the same
    // hash-ordered sample the Lloyd pass consumes (same seed, same
    // screen), so a second top-k job bought nothing. When refining, the
    // Lloyd subset additionally drops rows of non-modal length — the same
    // dim screen kmeansRefine applies.
    val capAll = math.max(if (refineIters > 0) 10000 else 0, nCentroids)
    val rawAll = hashSample(candidates, idCol, vecCol, capAll, sampleSeed)
      .collect().map(_.getSeq[Double](0).toArray)
    val raw = rawAll.take(nCentroids)
    require(raw.nonEmpty, "candidate set too small for IVF")
    // dim consistency: the screen can't know dim up front, so pin it to
    // the MODAL length across the sample and drop disagreeing lengths
    // (mixed-dim rows are caller garbage the malformedVectors audit
    // reports; one must not crash training or seed a ragged centroid).
    // The majority vote — not the first row — decides: a single
    // wrong-length garbage vector landing first in hash order would
    // otherwise discard every correct vector, train centroids at the
    // garbage dim, null-assign the whole corpus and silently dedup
    // nothing
    val d0 = raw.groupBy(_.length)
      .maxBy { case (len, vs) => (vs.length, -len) }._1 // ties: smaller dim
    val sampled: Array[(Int, Array[Double])] = raw.filter(_.length == d0)
      .zipWithIndex.map { case (v, i) => (i, v) }
    if (refineIters <= 0) sampled
    else {
      val lloydSample = rawAll.filter(_.length == d0)
      // if wrong-length garbage crowded a SATURATED generic sample, the
      // d0-filtered subset under-fills vs the old dim-screened top-k —
      // only then pay the second, dim-screened sample job the fused path
      // exists to avoid (r18 review finding; the clean-corpus fast path
      // is one job)
      val full =
        if (rawAll.length == capAll && lloydSample.length < rawAll.length)
          hashSample(candidates, idCol, vecCol, capAll, sampleSeed, d0)
            .collect().map(_.getSeq[Double](0).toArray)
        else lloydSample
      lloydDriver(full, sampled, refineIters)
    }
  }

  /** ids of the `m` LOWEST-L2-distance centroids as an array column —
    * [[nearestScored]] projected to cids, so list assignment uses the
    * SAME metric the quantizer trains under
    * ([[kmeansRefine]]/[[lloydL2]]): the lists a probe walks are exactly
    * the Voronoi cells the L2-trained centroids tessellate.
    */
  private def nearestCentroids(cents: Array[(Int, Array[Double])],
      vec: Column, m: Int): Column =
    F.transform(nearestScored(cents, vec, m), s => s.getField("cid"))

  /** Shared probe tail: equi-join bucketed queries with listed candidates,
    * score, per-query top-k.
    */
  private def probeJoin(q: DataFrame, c: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val scored = q.join(c, "__list")
      .filter(if (excludeSelf) F.col("query_id") =!= F.col("cand_id")
        else F.lit(true))
      .withColumn("sim", cosine(F.col("__qv"), F.col("__cv")))
      .select("query_id", "cand_id", "sim")
    topK(scored, k)
  }

  /** Build and PERSIST an IVF index: train the coarse quantizer, assign
    * every candidate to its nearest centroid, and write the corpus
    * parquet-partitioned by list id (`__list=<cid>/` directories), with
    * the centroid table in a `_centroids` side directory (the underscore
    * prefix hides it from partition discovery, so the same root path reads
    * back as just the index).
    *
    * This is the build-once / probe-many shape that makes IVF pay at
    * 100 TB: [[ivfTopK]] re-trains and re-assigns on every call — fine for
    * one-shot analytics, wrong for a serving corpus probed thousands of
    * times. Here assignment cost is paid once at write time, and every
    * probe reads ONLY the probed lists' directories (static partition
    * pruning — `PartitionFilters` in the scan, no I/O for the other
    * `nCentroids − nProbe` fractions of the corpus; plan-pinned in
    * PipelineSpec).
    */
  def buildIvfIndex(candidates: DataFrame, idCol: String, vecCol: String,
      path: String, nCentroids: Int = 16, sampleSeed: Long = 42L,
      refineIters: Int = 0): Unit = {
    // register into the session that OWNS this frame (the Column-builder
    // fallback uses SparkSession.active, wrong in multi-session apps)
    graft.plans.GraftExtensions.register(candidates.sparkSession)
    StoreLayout.requireCommitSound(candidates.sparkSession, path)
    val cents = trainCentroids(candidates, idCol, vecCol, nCentroids,
      sampleSeed, refineIters)
    val assigned = candidates
      .select(F.col(idCol).as("cand_id"), F.col(vecCol).as("__cv"))
      .withColumn("__list", nearestCentroids(cents, F.col("__cv"), 1).getItem(0))
    graft.sources.Layout.writePartitioned(assigned, path, Seq("__list"))
    initIndexManifest(candidates.sparkSession, path)
    writeCentroids(candidates.sparkSession, path, cents)
    listSkewHealthCheck(candidates.sparkSession, path)
  }

  /** The documented cluster-mass rebuild threshold (SCALING.md): a built
    * index whose largest `__list` exceeds this multiple of the mean has
    * a hot cell the quantizer failed to divide (k below the dense-region
    * count, or distribution drift) — probe walls and SemDeDup's Σc²
    * amplification both track the max list, so rebuild with larger k.
    */
  private[graft] val SkewRebuildRatio = 4.0

  /** Per-`__list` size skew of a persisted index: (maxRows, meanRows,
    * ratio). One aggregate over the partition column only — a
    * metadata-cheap scan (no vector bytes are read).
    */
  def indexListSkew(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Double, Double) = {
    val sizes = readIndex(spark, path).groupBy("__list").count()
      .agg(F.max("count").as("mx"), F.avg("count").as("mean")).head()
    val (mx, mean) = (sizes.getLong(0), sizes.getDouble(1))
    (mx, mean, if (mean > 0) mx / mean else 0.0)
  }

  /** Observable seam for the build-path health check (tests pin that a
    * skewed build actually warns): (path, ratio) of the last check that
    * crossed [[SkewRebuildRatio]].
    */
  @volatile private[graft] var lastSkewWarning: Option[(String, Double)] = None

  /** The SCALING.md cluster-mass health check, wired into both index
    * builds: warn (and record on [[lastSkewWarning]]) when the built
    * layout's max list exceeds [[SkewRebuildRatio]]× the mean. Advisory
    * by design — the index still serves; the warning is the rebuild
    * signal the deployment rule keys on.
    */
  private[graft] def listSkewHealthCheck(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val (mx, mean, ratio) = indexListSkew(spark, path)
    if (ratio > SkewRebuildRatio) {
      lastSkewWarning = Some((path, ratio))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"$path: max __list holds $mx rows = $ratio%.1fx the mean " +
          f"($mean%.0f) — past the ${SkewRebuildRatio}x cluster-mass " +
          "rebuild threshold (SCALING.md): rebuild with larger " +
          "nCentroids (k must exceed the data's dense-region count) " +
          "or expect hot-list probe walls")
    }
  }

  /** Append a new batch to a persisted IVF index ([[buildIvfIndex]])
    * WITHOUT retraining or rewriting: the stored coarse quantizer assigns
    * the new rows, which land as additional files inside their lists'
    * partition directories (append-mode partitioned write — existing data
    * is never touched, probes see the union immediately). The quantizer
    * is intentionally frozen: centroids define the partition layout, so
    * refreshing them means a rebuild. If the corpus drifts far from the
    * training distribution, lists skew and probe recall decays — rebuild
    * on drift, append between rebuilds (the standard serving cadence).
    *
    * Crash story (r14 verdict #4): the write lands in a PRIVATE
    * underscore-hidden scratch directory inside the index (partitioned by
    * `__list` there too), then each partition's parts are renamed into
    * their live `__list=` directories under batch-unique names — never
    * through a shared Hadoop committer staging, so concurrent appends of
    * DISTINCT batches no longer clobber each other (the r14 single-
    * appender contract is retired) — and ONE manifest extension naming
    * the batch's relative paths makes it visible: probes are
    * manifest-pinned (explicit file list + `basePath`, so `__list=`
    * partition pruning survives — see [[readIndex]]), which means a
    * crash anywhere before the manifest commit leaves the parts
    * UNREFERENCED and invisible — all-or-nothing, same as the flat
    * stores. Pass a stable `batchId` for an exactly-once retry contract:
    * part names become deterministic in the id, a committed batch is
    * recorded in `_appends/<id>`, and a re-append of the same id is a
    * no-op (marker first, manifest names second); a retry after a crash
    * mid-rename sweeps the unreferenced leftovers and lands the batch
    * once. Markers older than [[Sketches.SuspectGraceMs]] are pruned on
    * later appends, so retries must come within the window. Concurrent
    * appends of the SAME batchId are a caller error. Indexes built by
    * pre-manifest versions are bootstrapped onto a manifest at their
    * first append; until then they serve from partition discovery
    * unchanged.
    *
    * `autoCompactParts` (0 = off) counts EXCESS serving files over the
    * one-file-per-list floor — the hive layout's analogue of the flat
    * stores' raw-part threshold (a compacted index always serves >= one
    * file per populated list, so a raw-count threshold below nLists
    * would rewrite the whole index on every append).
    */
  def appendToIvfIndex(newDocs: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: Option[String] = None,
      autoCompactParts: Int = 0): Unit = {
    val spark = newDocs.sparkSession
    graft.plans.GraftExtensions.register(spark)
    requireIndexKind(spark, path, wantCodes = false)
    val cents = readCentroids(spark, path)
    appendPartitionedIdempotent(spark, path, batchId,
      newDocs
        .select(F.col(idCol).as("cand_id"), F.col(vecCol).as("__cv"))
        .withColumn("__list",
          nearestCentroids(cents, F.col("__cv"), 1).getItem(0)),
      autoCompactParts)
  }

  /** Relative data-file paths (`__list=N/<file>`) a partitioned index
    * directory holds right now — the manifest bootstrap/init listing.
    */
  private def listIndexFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__list="))
      .flatMap { d =>
        fs.listStatus(d.getPath).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(s => d.getPath.getName + "/" + s.getPath.getName)
      }

  /** Manifest-pinned read of a partitioned ANN index: resolve the
    * newest `_manifest-*` version (or, with `version` set, exactly that
    * version — time travel within the retention window, see
    * [[indexVersions]]) and read exactly its files through `basePath`,
    * so the `__list` partition column (and its pruning) survives the
    * explicit listing while uncommitted append parts stay invisible —
    * the same snapshot isolation the flat stores get from
    * [[StoreLayout.readStore]], adapted to the hive layout. A legacy
    * (manifest-less) index serves from partition discovery as before
    * (and has no versions to pin).
    */
  private[graft] def readIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[Long] = None): DataFrame = {
    val (fs, p) = StoreLayout.fsFor(spark, path)
    val pinned = version match {
      case Some(v) => Some(StoreLayout.readManifestChecked(fs, p, v))
      case None => StoreLayout.currentManifest(fs, p).map(_._2)
    }
    pinned match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        StoreLayout.readFiles(spark, fs, p, files, basePath = Some(path))
    }
  }

  /** The manifest versions a persisted ANN index can serve right now,
    * oldest first — pass one to a probe's `version` to pin it.
    * Retention: a superseded version's data files are swept one grace
    * window ([[Sketches.SuspectGraceMs]]) after a compaction replaces
    * them, and the manifest FILES age out on their own clock,
    * [[StoreLayout.ManifestGraceMs]] (keep-8 pruning skips versions
    * younger than that grace; hard cap 64) — a separate knob that
    * DEFAULTS to the data grace so the advertised versions and the
    * readable data agree; tune them apart and versions can be listed
    * here whose pinned reads fail (manifest clock longer) or pruned
    * while their data survives (shorter). Pin within the window or
    * re-resolve (the lakehouse time-travel-vs-VACUUM trade). Empty for
    * a legacy pre-manifest index.
    */
  def indexVersions(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    StoreLayout.storeVersions(spark, path)

  /** Stamp a freshly built index with manifest v1 naming exactly the
    * files the build wrote — from here on probes are manifest-pinned
    * and appends commit behind manifest extensions.
    */
  private def initIndexManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (fs, p) = StoreLayout.fsFor(spark, path)
    StoreLayout.initManifestNaming(fs, p, listIndexFiles(fs, p))
  }

  // @volatile: written by a test thread, read by streaming micro-batch
  // threads — without it the JMM does not guarantee the injected fault is
  // visible cross-thread (StreamingRecoverySpec would be theoretically flaky)
  @volatile private[graft] var ivfAppendFault: () => Unit = () => ()

  /** Test seam: fires with the pass number right after each of
    * [[deleteFromIvfIndex]]'s commits, BEFORE its completeness re-scan —
    * where a racing append would land.
    */
  @volatile private[graft] var ivfDeletePostCommitHook: Int => Unit = _ => ()

  /** Rename a partitioned scratch write's parts into the live `__list=`
    * dirs under deterministic names — the move shared by the append and
    * compaction protocols (per-list listing, name-sorted parts, boolean-
    * checked renames, relative-path accumulation). `nameFor(i)` stamps
    * the protocol's own prefix; a failed rename throws with `hint`
    * appended (nothing is destroyed: the parts are unreferenced until
    * their manifest commit, and the scratch/tmp stays intact).
    */
  private def renameListPartsIn(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, srcRoot: org.apache.hadoop.fs.Path,
      nameFor: Int => String, what: String, hint: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val relNames = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(srcRoot).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__list="))
      .foreach { srcDir =>
        val dstDir = new Path(p, srcDir.getPath.getName)
        fs.mkdirs(dstDir)
        val parts = fs.listStatus(srcDir.getPath).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName.toString)
        parts.zipWithIndex.foreach { case (src, i) =>
          val name = nameFor(i)
          val dst = new Path(dstDir, name)
          if (!fs.rename(src, dst))
            throw new java.io.IOException(
              s"$what: rename $src -> $dst failed (returned false); $hint")
          relNames += srcDir.getPath.getName + "/" + name
        }
      }
    relNames.toSeq
  }

  /** The scratch-rename-manifest-marker protocol behind both index
    * appends: write partitioned into `_append_tmp-<nonce>`, rename every
    * partition's parts into the live `__list=` dirs as
    * `append-<nonce>-p%05d.parquet`, extend the manifest with exactly
    * those relative names (the visibility point — a crash anywhere
    * before it leaves the parts UNREFERENCED and invisible to
    * manifest-pinned probes), then (with a batchId) commit the
    * `_appends/<id>` marker.
    */
  private def appendPartitionedIdempotent(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batchId: Option[String], assigned: DataFrame,
      autoCompactParts: Int = 0): Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, p) = StoreLayout.fsFor(spark, path)
    StoreLayout.acquireWriterLease(fs, p)
    batchId.foreach(id =>
      require(id.nonEmpty && id.forall(c => c.isLetterOrDigit ||
        c == '-' || c == '_' || c == '.'),
        s"batchId must be filename-safe ([A-Za-z0-9._-]+): '$id'"))
    if (batchId.exists(StoreLayout.hasBatchMarker(fs, p, _)))
      return // batch already committed
    // bootstrap a legacy (pre-manifest) index BEFORE any rename, so this
    // batch's visibility point is its manifest commit, not disk arrival.
    // Bare create-if-absent, NOT initIndexManifest: that helper deletes
    // existing manifests first (overwrite-build semantics), which under
    // two concurrent first appends would erase the other appender's
    // committed versions — the loser of a racing bootstrap must just
    // read the winner's v1, same as the flat stores
    if (StoreLayout.currentManifest(fs, p).isEmpty)
      StoreLayout.tryCommitManifest(fs, p, 1L, listIndexFiles(fs, p))
    // second idempotence trail: the current manifest already names this
    // batch (crash landed between its commit and its marker); exact-id
    // file matching — a dash-containing sibling id must never alias
    if (batchId.exists(id => StoreLayout.currentManifest(fs, p).exists(
        _._2.exists(n => StoreLayout.isBatchFile(n.split('/').last, id))))) {
      StoreLayout.writeBatchMarker(fs, p, batchId.get)
      return
    }
    // third idempotence trail: loud refusal for a retry that outlived
    // BOTH the marker and the manifest evidence (post-fold, post-prune)
    batchId.foreach(StoreLayout.requireBatchNotPruned(fs, p, _))
    // a crashed prior attempt's renamed-but-uncommitted leftovers would
    // collide with this attempt's deterministic names: sweep them
    // (unreferenced by the checks above — never served)
    batchId.foreach { id =>
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__list="))
        .foreach { d =>
          fs.listStatus(d.getPath).toSeq.map(_.getPath)
            .filter(f => StoreLayout.isBatchFile(f.getName, id))
            .foreach(fs.delete(_, false))
        }
    }
    val nonce = batchId.getOrElse(
      java.util.UUID.randomUUID().toString.take(8))
    val scratch = new Path(p, s"_append_tmp-$nonce")
    if (fs.exists(scratch)) fs.delete(scratch, true)
    assigned.write.partitionBy("__list").parquet(scratch.toString)
    val relNames = renameListPartsIn(fs, p, scratch,
      i => f"append-$nonce-p$i%05d.parquet", "appendToIvf*Index",
      "nothing is served (the parts are unreferenced) — re-append the " +
        "same batchId to converge on exactly one copy")
    fs.delete(scratch, true)
    ivfAppendFault() // test seam: "crash" after renames, before the commit
    // visibility point: one manifest extension publishes the whole
    // batch. Re-acquire first: the partitioned write can outlast the
    // lease window (see the acquireWriterLease scaladoc)
    StoreLayout.acquireWriterLease(fs, p)
    if (relNames.nonEmpty) StoreLayout.extendManifest(fs, p, relNames)
    batchId.foreach(StoreLayout.writeBatchMarker(fs, p, _))
    StoreLayout.pruneCrowdedManifests(fs, p)
    // bound the marker ledger at append-rate x grace window even when
    // the valve is off (compaction's gcSweep also prunes, but an
    // append-only cadence must not accumulate markers unboundedly)
    StoreLayout.pruneBatchMarkers(fs, p, Sketches.SuspectGraceMs)
    // read-amplification valve: for the hive layout the threshold
    // counts EXCESS files over the one-file-per-list floor — a compacted
    // index always serves >= one file per populated list, so comparing the
    // RAW count against the threshold (the flat stores' rule) would
    // degenerate into a full-index rewrite on every append whenever
    // autoCompactParts <= nLists. Skipped if another thread in this JVM
    // is already compacting; a failure is swallowed (the append above
    // is durably committed; the condition re-fires on a later append)
    Sketches.autoCompactIf(path, autoCompactParts > 0 && {
      val served = StoreLayout.servingFiles(fs, p)
      val lists = served.map(_.split('/').head).distinct.size
      served.size > lists + autoCompactParts
    })(compactIvfIndex(spark, path))
  }

  /** Fold a persisted ANN index's accumulated append files into one
    * part per `__list` partition (or more, via `maxRecordsPerFile`) —
    * the read-amplification valve the flat stores got in r14, for the
    * hive layout: an append-forever index pays one parquet footer +
    * file open per (batch × probed list) at every probe, and folding is
    * a pure read-path optimization (row set unchanged — no merge
    * identity is even needed). Works on BOTH index flavors
    * ([[buildIvfIndex]] and [[buildIvfPqIndex]]): compaction is
    * layout-level, and the `codes` column rides the fold untouched.
    *
    * Same crash/concurrency story as [[Sketches.compactReplace]],
    * built on the same [[StoreLayout]] primitives — single concurrent
    * COMPACTOR assumed, concurrent appends fully safe:
    *  1. GC via [[StoreLayout.gcSweep]] (superseded parts swept only
    *     once superseded longer than the grace window; this attempt's
    *     own debris when `_compact_tmp` marks a crashed try;
    *     unreferenced files once recorded AND mtime-old past grace);
    *  2. fold exactly the current manifest's files —
    *     `repartition($"__list")` then a partitioned write into
    *     `_compact_tmp/data`, so each list lands contiguous (one file
    *     per list; `maxRecordsPerFile` caps file size for fat lists —
    *     a hot list splits into more files, never more tasks than its
    *     one shuffle partition, which the trainer's measured list
    *     balance keeps bounded — see SCALING.md's cluster-mass decade);
    *  3. rename each list's folded parts into its live `__list=` dir
    *     under version-stamped names (a failed rename THROWS with tmp
    *     intact — nothing destroyed, the old manifest still serves);
    *  4. mark every folded append batch's idempotence marker, then ONE
    *     carry-forward manifest commit flips probes over (batches
    *     appended mid-fold ride along untouched).
    * Probes are manifest-pinned ([[readIndex]]), so a reader resolved
    * before the commit keeps scanning the old parts — which survive at
    * least [[Sketches.SuspectGraceMs]] — and one resolved after reads
    * the folded layout. `_centroids`/`_codebooks` sidecars are never
    * touched.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxRecordsPerFile: Long = 0L): Unit =
    rewriteIndexScope(spark, path, "compactIvfIndex", maxRecordsPerFile) {
      (before, read) => (before, () => read(before))
    }

  /** Sweep-only maintenance for a persisted ANN index — the lakehouse
    * VACUUM verb ([[Sketches.vacuumStore]]'s hive-layout sibling):
    * complete physical erasure after [[deleteFromIvfIndex]] without
    * paying a full compaction fold. An empty rewrite scope runs exactly
    * the GC sweep (superseded-past-grace list files, crashed-attempt
    * debris, ledger upkeep) and the manifest pruning, then stops — zero
    * Spark jobs, serving manifest untouched. Same trade as any VACUUM:
    * versions superseded longer than the grace stop being readable.
    */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    // checkScheme = false: a vacuum commits no manifest — erasure is
    // deletes, not renames, so even an unsafe-opt-in object store must
    // stay vacuumable from a JVM without the flag
    rewriteIndexScope(spark, path, "vacuumIvfIndex", 0L,
      checkScheme = false) {
      (_, _) => (Seq.empty, () => sys.error("vacuum never folds"))
    }
    // the empty-scope early return skips the fold path's trailing
    // prune — run it here so a delete-then-vacuum-only cadence still
    // bounds manifest-file growth (the flat vacuumStore prunes too)
    val (fs, p) = StoreLayout.fsFor(spark, path)
    StoreLayout.pruneManifests(fs, p, keep = 8)
  }

  /** Delete rows by id from a persisted ANN index — the
    * right-to-be-forgotten maintenance op a training-data corpus needs
    * (both layouts; the `codes` column rides the rewrite untouched).
    * Scope-limited: ONLY the `__list=` partitions that actually contain
    * a target id are rewritten (one cheap id-column scan finds them —
    * bounded by nCentroids candidates), every other file rides the
    * carry-forward commit untouched, so the cost is the affected
    * lists' rows, not the index. The swap is the compaction protocol
    * verbatim (same version-stamped names, same GC grace for the
    * replaced files, same crash/retry story), probes stay
    * manifest-pinned throughout, and a re-run with the same ids is a
    * no-op (no list contains them anymore). Racing appends are carried
    * forward untouched — an append that re-introduces a target id
    * DURING the delete would keep its rows, so after the commit this
    * face RE-SCANS the committed manifest for the pinned id set and
    * loops the rewrite until none remain (bounded; a sustained stream
    * of re-introducing appends fails LOUDLY after 5 passes with a
    * quiesce instruction). The guarantee boundary is the final
    * re-scan's resolution: an append committing a target id AFTER that
    * scan is indistinguishable from a post-delete append and survives
    * — quiesce appends of the ids being erased for a strict guarantee.
    * Pinned HISTORICAL
    * versions still serve the deleted rows until their files age out of
    * the GC grace — complete erasure = delete + [[vacuumIvfIndex]] after
    * the grace window (the lakehouse delete-vs-time-travel trade, same
    * as VACUUM after a Delta DELETE).
    *
    * The sketch stores deliberately have NO delete face: k-min /
    * CMS / HLL / histogram states are irreversible aggregates (no
    * subtraction identity) — rebuild them from the filtered corpus.
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String,
      maxRecordsPerFile: Long = 0L): Unit = {
    // no cast: the join must run at the INDEX's own id type — casting
    // to long would make a string-id index's anti-join silently match
    // nothing (a no-op "delete" with no error). localCheckpoint: the id
    // set feeds TWO jobs (the affected-list scan, then the rewrite's
    // anti-join) — a non-deterministic ids frame evaluated twice could
    // scope lists from set A and delete set B, leaving supposedly
    // forgotten rows served with no error (the probeIvfIndex
    // double-consumer precedent). No broadcast hint: a GDPR purge can
    // carry millions of ids — let AQE pick the join strategy.
    val del = ids.select(F.col(idCol).as("cand_id")).distinct()
      .localCheckpoint()
    var pass = 0
    var clean = false
    while (!clean) {
      pass += 1
      if (pass > 5)
        throw new IllegalStateException(
          s"deleteFromIvfIndex: target ids still present in $path after " +
            "5 rewrite passes — concurrent appends keep re-introducing " +
            "rows for ids being erased. Quiesce appends of those ids and " +
            "re-run (the delete is idempotent); a silent partial erase " +
            "is never returned.")
      rewriteIndexScope(spark, path, "deleteFromIvfIndex",
        maxRecordsPerFile) { (before, read) =>
        // one id-column scan finds the affected lists (bounded by
        // nCentroids rows after the distinct)
        // cast("int"): partition-column type inference can be disabled
        // cluster-side (__list then infers as string) — the cast keeps
        // this read inference-independent
        val affectedLists = read(before).join(del, "cand_id")
          .select(F.col("__list").cast("int")).distinct()
          .collect().map(_.getInt(0)).toSet
        val scope = before.filter(n =>
          n.split('/').head.stripPrefix("__list=").toIntOption
            .exists(affectedLists))
        // thunked: an idempotent re-run yields an EMPTY scope, and a
        // zero-path read would throw before the core's no-op guard runs
        (scope, () => read(scope).join(del, Seq("cand_id"), "left_anti"))
      }
      ivfDeletePostCommitHook(pass) // test seam: racing-append injection
      // RTBF completeness check against the COMMITTED manifest: a batch
      // appended mid-rewrite rode the carry-forward untouched and may
      // re-introduce target ids — loop the (scope-limited, idempotent)
      // rewrite over them; one id-column scan, same cost class as the
      // scoping scan above. An empty serving set is trivially clean
      // (a zero-path read would throw instead of answering).
      val (cfs, cp) = StoreLayout.fsFor(spark, path)
      clean = StoreLayout.servingFiles(cfs, cp).isEmpty ||
        readIndex(spark, path).select("cand_id")
          .join(del, "cand_id").isEmpty
    }
  }

  /** The maintenance-rewrite core shared by [[compactIvfIndex]] and
    * [[deleteFromIvfIndex]]: kind guard, writer lease, legacy manifest
    * bootstrap, [[StoreLayout.gcSweep]], then `scope(before, read)`
    * picks the manifest files to REWRITE and the frame that replaces
    * them — folded one shuffle partition per list, renamed in under
    * version-stamped names, committed with ONE carry-forward manifest
    * swap (untouched files and mid-rewrite appends ride along). An
    * empty scope is a no-op after the GC sweep.
    */
  private def rewriteIndexScope(spark: org.apache.spark.sql.SparkSession,
      path: String, what: String, maxRecordsPerFile: Long,
      checkScheme: Boolean = true)(
      scope: (Seq[String], Seq[String] => DataFrame) => (Seq[String], () => DataFrame))
      : Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, p) = StoreLayout.fsFor(spark, path)
    // fail fast BEFORE any GC/ledger mutation when pointed at something
    // that is not a persisted ANN index (both builders write the
    // _centroids sidecar): pointed at a FLAT sketch store, the sweep
    // below would rewrite its _gc_suspects ledger with an empty raw
    // listing — resetting every recorded suspect's age clock — and only
    // then die on the missing __list column
    require(fs.exists(new Path(p, "_centroids")),
      s"$path is not a persisted ANN index (no _centroids sidecar); " +
        s"$what serves buildIvfIndex/buildIvfPqIndex layouts — " +
        "flat sketch stores have their own compactXxxStore faces")
    // before the fold write; skipped for the vacuum face, which commits
    // no manifest (an unsafe-opt-in store must still be vacuumable from
    // a JVM without the flag — erasure is deletes, not commits)
    if (checkScheme) StoreLayout.requireCommitSound(spark, path)
    val tmp = new Path(p, "_compact_tmp")
    StoreLayout.acquireWriterLease(fs, p)
    // legacy index: pin the partition-discovery listing as manifest v1.
    // NOT on the vacuum path (checkScheme = false): the bootstrap is a
    // manifest COMMIT, whose scheme tripwire would refuse exactly the
    // unsafe-opt-in stores vacuum is documented to stay usable on (r16
    // ADVICE) — and a pre-manifest index has nothing for vacuum to do
    // anyway (no superseded versions, and no crashed-attempt debris:
    // every rewrite bootstraps the manifest BEFORE its first write), so
    // skipping the empty sweep loses nothing.
    if (StoreLayout.currentManifest(fs, p).isEmpty) {
      if (!checkScheme) return
      StoreLayout.tryCommitManifest(fs, p, 1L, listIndexFiles(fs, p))
    }
    val (curVer, before) = StoreLayout.currentManifest(fs, p).get
    val nextPrefix = f"compact-v${curVer + 1}%08d-"
    val attemptInFlight = fs.exists(tmp)
    StoreLayout.gcSweep(fs, p, curVer, before.toSet,
      listIndexFiles(fs, p), attemptInFlight, nextPrefix,
      Sketches.SuspectGraceMs)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (before.isEmpty) return
    def read(files: Seq[String]): DataFrame =
      StoreLayout.readFiles(spark, fs, p, files, basePath = Some(path))
    val (scopeFiles, foldedThunk) = scope(before, read)
    if (scopeFiles.isEmpty) return // nothing to rewrite
    // fold: one shuffle partition per list (hash collisions co-locating
    // two lists in one task still yield one FILE per list — the
    // partitioned write splits them)
    val writer = foldedThunk()
      .repartition(F.col("__list"))
      .write.partitionBy("__list")
    (if (maxRecordsPerFile > 0)
      writer.option("maxRecordsPerFile", maxRecordsPerFile)
    else writer).parquet(new Path(tmp, "data").toString)
    val relNames = renameListPartsIn(fs, p, new Path(tmp, "data"),
      i => f"${nextPrefix}p$i%05d.parquet", what,
      "nothing was destroyed — the index still serves the current " +
        "manifest, and the next maintenance call sweeps this attempt's " +
        "debris and retries the swap")
    // rewritten append batches keep their idempotence markers (the
    // commit below erases their names from the manifest — the marker is
    // the evidence trail that survives)
    StoreLayout.markBatchesIn(fs, p, scopeFiles.map(_.split('/').last))
    StoreLayout.acquireWriterLease(fs, p)
    StoreLayout.commitCarryForward(fs, p, relNames, scopeFiles.toSet, what)
    // stamp the replaced files' supersession time NOW — the grace clock
    // runs from this commit, so ONE post-grace vacuum erases them (see
    // StoreLayout.recordSuperseded)
    StoreLayout.recordSuperseded(fs, p, scopeFiles)
    fs.delete(tmp, true)
    StoreLayout.pruneManifests(fs, p, keep = 8)
  }

  /** Fail fast when an append targets the wrong index flavor: appending
    * codes-less rows into an IVF-PQ index would make them invisible to
    * ADC probes (null sim filtered out) — silent recall loss, no error.
    */
  private def requireIndexKind(spark: org.apache.spark.sql.SparkSession,
      path: String, wantCodes: Boolean): Unit = {
    val schema = readIndex(spark, path).schema
    val hasCodes = schema.fieldNames.contains("codes")
    require(hasCodes == wantCodes,
      if (wantCodes) s"$path is a plain IVF index (no codes column); use appendToIvfIndex"
      else s"$path is an IVF-PQ index (codes column present); use appendToIvfPqIndex")
    // appends must also match the stored code ELEMENT type: mixing byte-
    // coded part-files into an older int-coded index would make the
    // parquet reader fail nondeterministically depending on which footer
    // wins schema inference
    if (wantCodes) {
      val elem = schema("codes").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      require(elem == org.apache.spark.sql.types.ByteType,
        s"$path stores codes as array<${elem.simpleString}>, not " +
          "array<tinyint> — rebuild the index with this version before appending")
    }
  }

  /** [[appendToIvfIndex]] for an IVF-PQ index ([[buildIvfPqIndex]]): the
    * stored codebooks encode the new rows (ONE projection: id, vector,
    * codes, list), so appended rows are immediately ADC-scorable. Same
    * frozen-quantizer contract and the same scratch-rename-marker crash
    * story / batchId retry contract as the IVF append.
    */
  def appendToIvfPqIndex(newDocs: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: Option[String] = None,
      autoCompactParts: Int = 0): Unit = {
    val spark = newDocs.sparkSession
    graft.plans.GraftExtensions.register(spark)
    requireIndexKind(spark, path, wantCodes = true)
    val cents = readCentroids(spark, path)
    val cbs = readCodebooks(spark, path)
    appendPartitionedIdempotent(spark, path, batchId,
      newDocs
        .select(F.col(idCol).as("cand_id"), F.col(vecCol).as("__cv"),
          graft.plans.GraftExtensions.callNative("pq_codes",
            F.col(vecCol).cast("array<double>"),
            F.typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq)).as("codes"))
        .withColumn("__list",
          nearestCentroids(cents, F.col("__cv"), 1).getItem(0)),
      autoCompactParts)
  }

  /** The assignment metric this version writes and reads. Persisted
    * centroid artifacts carry it in a `_meta` sidecar: centroid-relative
    * layouts (IVF list membership, SemDeDup cluster confinement) are only
    * valid under the metric that produced them, so a probe/append against
    * an artifact built under a DIFFERENT metric must fail fast — silently
    * walking max-IP lists with L2 probes loses recall with no error.
    */
  private val AssignMetric = "l2"

  /** Shared `_centroids` side-table write: nCentroids rows, one tiny file,
    * one read at probe time. Also stamps the `_meta` assignment-metric
    * sidecar ([[AssignMetric]]).
    */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, cents: Array[(Int, Array[Double])]): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
    Seq(AssignMetric).toDF("assign")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** Shared `_centroids` load: bounded driver-side collect, cid-ascending
    * (assignment correctness depends on the stable order). Fails fast when
    * the artifact's `_meta` is missing (built by a pre-metric-stamp
    * version, which assigned by max inner product) or names a different
    * assignment metric — the stored layout would not be the tessellation
    * this version probes. Cached per path behind a file-listing
    * fingerprint ([[StoreLayout.cachedSide]]) — `_meta` rides the
    * fingerprint so a metric mismatch still fails fast after any rewrite.
    */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Array[Double])] =
    StoreLayout.cachedSide(spark, path, "centroids",
        Seq("_meta", "_centroids")) {
      val assign =
        try spark.read.parquet(s"$path/_meta").head().getString(0)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("PATH_NOT_FOUND") ||
                e.getMessage.contains("Path does not exist") =>
            "missing"
        }
      require(assign == AssignMetric,
        s"$path was built under assignment metric '$assign', this version " +
          s"probes '$AssignMetric' — rebuild the index/centroids before use")
      spark.read.parquet(s"$path/_centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    }

  /** Shared `_codebooks` load: m·ksub rows reshaped to cb(j)(c) — bounded
    * driver-side collect. Cached like [[readCentroids]].
    */
  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Double]]] =
    StoreLayout.cachedSide(spark, path, "codebooks", Seq("_codebooks")) {
      val rows = spark.read.parquet(s"$path/_codebooks").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
        .toMap
      val m = rows.keys.map(_._1).max + 1
      val ksub = rows.keys.map(_._2).max + 1
      Array.tabulate(m, ksub)((j, c) => rows((j, c)))
    }

  /** Probe a persisted IVF index ([[buildIvfIndex]]): load the centroid
    * table (nCentroids rows — bounded, documented driver-side collect,
    * same class as [[ivfTopK]]'s centroid literals), bucket the queries,
    * and scan ONLY the probed lists via an `isin` partition filter — the
    * union of probe lists is at most nCentroids values, so the filter is
    * always tiny even when the query frame is not.
    */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, excludeSelf: Boolean = true,
      version: Option[Long] = None): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val cents = readCentroids(spark, path)
    // localCheckpoint: the bucketed query frame feeds BOTH the probed-list
    // collect and the scoring join — without it the second consumer would
    // re-scan and re-score the query side, and a non-deterministic
    // `queries` frame could land on lists absent from the filter (rows
    // silently lost). Eager, small by the probe contract (|queries|·nProbe
    // rows), precedented by Dedup.nearDupClusters.
    val q = queries.select(F.col(idCol).as("query_id"), F.col(vecCol).as("__qv"))
      .withColumn("__list",
        F.explode(nearestCentroids(cents, F.col("__qv"),
          math.min(nProbe, cents.length))))
      .localCheckpoint()
    // distinct probed lists: bounded by nCentroids, never by |queries|
    val probed = q.select("__list").distinct().collect().map(_.getInt(0))
    val c = readIndex(spark, path, version)
      .filter(F.col("__list").isin(probed.map(Integer.valueOf): _*))
    probeJoin(q, c, k, excludeSelf)
  }

  /** Build and PERSIST an IVF-PQ index — the full production ANN layout
    * ([[buildIvfIndex]] + [[pqEncode]] composed): every candidate row
    * stores its id, full vector AND m-int PQ codes, parquet-partitioned
    * by nearest-centroid list, with `_centroids` and `_codebooks` side
    * tables. Probes then stack three prunings: partition pruning (only
    * probed lists' directories are touched), COLUMN pruning (the ADC
    * shortlist pass reads only the codes column — the full vectors' bytes
    * stay on disk), and the exact re-rank reads vectors for shortlist
    * rows only.
    */
  def buildIvfPqIndex(candidates: DataFrame, idCol: String, vecCol: String,
      path: String, dim: Int, nCentroids: Int = 16, m: Int = 8,
      ksub: Int = 16, sampleSeed: Long = 42L, refineIters: Int = 0,
      pqIters: Int = 10, sampleCap: Int = 10000): Unit = {
    graft.plans.GraftExtensions.register(candidates.sparkSession)
    StoreLayout.requireCommitSound(candidates.sparkSession, path)
    val cents = trainCentroids(candidates, idCol, vecCol, nCentroids,
      sampleSeed, refineIters)
    val cbs = trainPqCodebooks(candidates, idCol, vecCol, dim, m, ksub,
      pqIters, sampleCap, sampleSeed)
    // ONE projection computes id, vector, codes and list — no re-join, no
    // second corpus scan, no shuffle of the fat vector column at build
    val assigned = candidates
      .select(F.col(idCol).as("cand_id"), F.col(vecCol).as("__cv"),
        graft.plans.GraftExtensions.callNative("pq_codes",
          F.col(vecCol).cast("array<double>"),
          F.typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq)).as("codes"))
      .withColumn("__list", nearestCentroids(cents, F.col("__cv"), 1).getItem(0))
    graft.sources.Layout.writePartitioned(assigned, path, Seq("__list"))
    val spark = candidates.sparkSession
    initIndexManifest(spark, path)
    writeCentroids(spark, path, cents)
    listSkewHealthCheck(spark, path)
    import spark.implicits._
    // m·ksub rows — bounded side table, one read at probe time
    (for (j <- cbs.indices; c <- cbs(j).indices)
      yield (j, c, cbs(j)(c).toSeq))
      .toDF("j", "c", "vec")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/_codebooks")
  }

  /** Probe a persisted IVF-PQ index ([[buildIvfPqIndex]]): bucket the
    * queries against the stored centroids, ADC-score ONLY the probed
    * lists' codes (partition + column pruning — the shortlist pass never
    * reads vector bytes), then exact-rerank the per-query `shortlist`
    * against full vectors fetched by candidate-id join. Centroid and
    * codebook loads are bounded driver-side collects (nCentroids and
    * m·ksub rows), same class as [[probeIvfIndex]].
    */
  def probeIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, shortlist: Int = 100,
      excludeSelf: Boolean = true, version: Option[Long] = None): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    graft.plans.GraftExtensions.register(spark)
    val cents = readCentroids(spark, path)
    val cbs = readCodebooks(spark, path)
    // localCheckpoint for the same reason as probeIvfIndex: the bucketed
    // query frame feeds the probed-list collect AND the scoring join.
    // withVec: __qv rides the SAME projection as the LUT — the query
    // frame is evaluated once, with no self-join.
    val q = pqQuerySide(queries, idCol, vecCol, cbs, withVec = true)
      .withColumn("__list",
        F.explode(nearestCentroids(cents, F.col("__qv"),
          math.min(nProbe, cents.length))))
      .localCheckpoint()
    val probed = q.select("__list").distinct().collect().map(_.getInt(0))
    val idx = readIndex(spark, path, version)
      .filter(F.col("__list").isin(probed.map(Integer.valueOf): _*))
    // ADC shortlist: codes-only scan (no __cv in this subtree's schema);
    // the candidate reconstruction norm rides the per-candidate side
    val pairs = q.select("query_id", "__lut", "__qn", "__list")
      .join(idx.select("cand_id", "codes", "__list")
        .withColumn("__cn", adcCandNorm(cbs)), "__list")
      .filter(if (excludeSelf) F.col("query_id") =!= F.col("cand_id")
        else F.lit(true))
    val short = topK(adcScored(pairs, cbs), shortlist)
      .select("query_id", "cand_id")
    // exact rerank: vectors fetched for shortlist rows only; query
    // vectors come from the checkpointed frame (distinct undoes the
    // per-list explode), not a third evaluation of `queries`
    val scored = short
      .join(idx.select(F.col("cand_id"), F.col("__cv")), "cand_id")
      .join(F.broadcast(q.select("query_id", "__qv").distinct()), "query_id")
      .withColumn("sim", cosine(F.col("__qv"), F.col("__cv")))
      .select("query_id", "cand_id", "sim")
    topK(scored, k)
  }

  /** Per-key mean vector (class centroids) in LONG form: one row per
    * (key, pos) with the mean of that dimension — posexplode then a
    * partial+final hash aggregate keyed on (key, pos). The shuffle
    * carries |keys|·dim aggregate rows after map-side combine, never
    * vectors; works for any dim without parameters. The wide
    * (key, centroid array) form is [[keyCentroids]].
    */
  def meanVectorByKey(df: DataFrame, keyCol: String,
      vecCol: String): DataFrame =
    df.select(F.col(keyCol), F.posexplode(F.col(vecCol).cast("array<double>")))
      .groupBy(F.col(keyCol), F.col("pos"))
      .agg(F.avg("col").as("mean"))

  /** Per-key centroid vectors (key, centroid: array<double>) — the class/
    * cluster prototype builder (label centroids for classification probes,
    * cluster summaries, IVF warm starts). Assembled from
    * [[meanVectorByKey]]; the collect_list is bounded by dim per key.
    */
  def keyCentroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    meanVectorByKey(df, keyCol, vecCol)
      .groupBy(F.col(keyCol))
      .agg(F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("mean")))).as("__ps"))
      .select(F.col(keyCol),
        F.transform(F.col("__ps"), x => x.getField("mean")).as("centroid"))

  /** Semantic (embedding-space) cluster dedup: keep one document per
    * connected component of the cosine near-dup graph — the embedding
    * sibling of [[Dedup.minhashDedupClusters]], sharing its min-label
    * propagation ([[Dedup.nearDupClusters]]). The LSH knobs pass straight
    * through to [[cosineNearDupPairs]].
    */
  def cosineDedupClusters(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, nPlanes: Int = 10,
      nTables: Int = 6, seed: Long = 42L): DataFrame = {
    val clusters = Dedup.nearDupClusters(
      cosineNearDupPairs(df, idCol, vecCol, dim, threshold, nPlanes,
        nTables, seed))
    val losers = clusters.filter(F.col("id") =!= F.col("cluster"))
      .select(F.col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means the embedding
    * space, find cosine-duplicate pairs WITHIN each cluster only, and for
    * every duplicate group keep the single member with the LOWEST cosine
    * similarity to its cluster centroid (the paper's keep policy — the
    * most atypical example carries the most marginal information), dropping
    * the rest.
    *
    * SCALE: the quadratic pair stage is confined to one cluster at a time —
    * `nClusters` is the knob that bounds per-cluster candidate counts and
    * must GROW with the corpus (the paper uses ~50k clusters at web scale;
    * cost is Σ|cluster|², minimized by balanced clusters). It is therefore
    * REQUIRED — a fixed default silently turns into a corpus²/nClusters
    * funnel when the corpus grows; use [[semDedupAuto]] to derive it from
    * a count. Centroids are
    * trained on a bounded hash-uniform sample ([[kmeansRefine]], L2
    * assignment) and ride into the executors inside the stage-broadcast
    * task binary as one kernel reference ([[nearestScored]] — codegen
    * size constant in nClusters, so paper-scale counts plan and compile);
    * no extra shuffle for assignment; the cluster-keyed
    * repartition is the one materialization point, reused by both
    * self-join sides (AQE stage reuse). Duplicate groups collapse through
    * [[Dedup.nearDupClusters]] (pointer-jumped min-label propagation) and
    * the keep rule is a rank-1 filter (WindowGroupLimit — map-side prune)
    * over the PAIR-GRAPH members only, never the corpus. This face
    * retrains centroids per call; the build-once/score-many serving shape
    * is [[saveSemDedupCentroids]] + [[semDedupWithCentroids]].
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double = 0.95,
      refineIters: Int = 2, sampleSeed: Long = 42L): DataFrame = {
    require(nClusters >= 1, s"nClusters must be >= 1, got $nClusters")
    graft.plans.GraftExtensions.register(df.sparkSession)
    semDedupCore(df, idCol, vecCol,
      trainCentroids(df, idCol, vecCol, nClusters, sampleSeed, refineIters),
      threshold)
  }

  /** [[semDedup]] with a scale-safe cluster count derived from the input:
    * nClusters = max(defaultParallelism, ceil(n / maxRowsPerCluster)), so
    * the per-cluster quadratic pair stage never covers more than
    * `maxRowsPerCluster` rows in expectation (cost Σ|cluster|² — ~16M
    * pair evaluations per cluster at the default) and small inputs still
    * use every core. Costs one extra count() job — callers that already
    * know the corpus size should size `nClusters` themselves (the paper
    * uses ~50k clusters at web scale). Same derivation contract as
    * [[Packing.packChunksAuto]].
    */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, maxRowsPerCluster: Long = 4096,
      refineIters: Int = 2, sampleSeed: Long = 42L): DataFrame = {
    require(maxRowsPerCluster > 0, "maxRowsPerCluster must be positive")
    val n = df.count()
    val parallelism = df.sparkSession.sparkContext.defaultParallelism.toLong
    val nClusters = math.max(parallelism,
      (n + maxRowsPerCluster - 1) / maxRowsPerCluster)
    semDedup(df, idCol, vecCol,
      math.min(nClusters, Int.MaxValue.toLong).toInt, threshold,
      refineIters, sampleSeed)
  }

  /** Train and PERSIST SemDeDup centroids — the build-once face that makes
    * incremental corpus hygiene affordable: [[semDedup]] retrains k-means
    * on every call (fine for one-shot runs, wrong for a recurring
    * curation cadence), while this pays training once and
    * [[semDedupWithCentroids]] scores any number of batches against the
    * frozen clustering. Same `_centroids` + `_meta` sidecar layout as
    * [[buildIvfIndex]], so the artifact is also a valid IVF warm start.
    * Same frozen-quantizer contract as [[appendToIvfIndex]]: rebuild on
    * distribution drift, reuse between rebuilds.
    */
  def saveSemDedupCentroids(df: DataFrame, idCol: String, vecCol: String,
      path: String, nClusters: Int, refineIters: Int = 2,
      sampleSeed: Long = 42L): Unit = {
    require(nClusters >= 1, s"nClusters must be >= 1, got $nClusters")
    graft.plans.GraftExtensions.register(df.sparkSession)
    writeCentroids(df.sparkSession, path,
      trainCentroids(df, idCol, vecCol, nClusters, sampleSeed, refineIters))
  }

  /** [[semDedup]] against centroids persisted by [[saveSemDedupCentroids]]
    * (or an IVF index root — same sidecar layout): no per-call training,
    * the only extra cost over the dedup itself is the bounded nClusters-row
    * centroid load. Fails fast on a metric-mismatched artifact
    * ([[readCentroids]]).
    */
  def semDedupWithCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    semDedupCore(df, idCol, vecCol, readCentroids(spark, path), threshold)
  }

  /** [[semDedup]] with the malformed-vector audit attached: returns
    * `(deduped, malformed)` where `malformed` is
    * [[malformedVectors]] at the trained centroids' dimensionality —
    * exactly the rows whose NULL kernel assignment the pair stage then
    * silently skips (they survive dedup UNEXAMINED, the documented
    * don't-crash contract). The pair makes that observable: production
    * runs count or quarantine the second frame instead of trusting
    * silence. One centroid training shared by both frames; the audit
    * itself is one extra scan-side projection, no shuffle.
    */
  def semDedupAudited(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double = 0.95, refineIters: Int = 2,
      sampleSeed: Long = 42L): (DataFrame, DataFrame) = {
    require(nClusters >= 1, s"nClusters must be >= 1, got $nClusters")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val cents = trainCentroids(df, idCol, vecCol, nClusters, sampleSeed,
      refineIters)
    (semDedupCore(df, idCol, vecCol, cents, threshold),
      malformedVectors(df, idCol, vecCol, cents.head._2.length))
  }

  /** [[semDedupWithCentroids]] with the malformed-vector audit attached —
    * same `(deduped, malformed)` contract as [[semDedupAudited]], at the
    * persisted centroids' dimensionality.
    */
  def semDedupWithCentroidsAudited(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95): (DataFrame, DataFrame) = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    val cents = readCentroids(spark, path)
    (semDedupCore(df, idCol, vecCol, cents, threshold),
      malformedVectors(df, idCol, vecCol, cents.head._2.length))
  }

  /** [[probeIvfPqIndex]] with the malformed-QUERY audit attached:
    * `(results, malformed)`, where `malformed` rows are the queries the
    * probe would bucket to NULL and drop from the result without a trace
    * (a caller joining results back to its query set would otherwise
    * read "no neighbors found" where the truth is "garbage vector").
    * Dimensionality comes from the index's own centroid artifact.
    */
  def probeIvfPqIndexAudited(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4, shortlist: Int = 100,
      excludeSelf: Boolean = true): (DataFrame, DataFrame) = {
    val dim = readCentroids(spark, path).head._2.length
    (probeIvfPqIndex(spark, path, queries, idCol, vecCol, k, nProbe,
        shortlist, excludeSelf),
      malformedVectors(queries, idCol, vecCol, dim))
  }

  /** Shared SemDeDup body: cluster-confined pair stage + component
    * collapse + keep-most-atypical rank-1 filter, against a FIXED centroid
    * set (trained per call by [[semDedup]], loaded from an artifact by
    * [[semDedupWithCentroids]] — one definition, so the two faces cannot
    * drift).
    */
  private def semDedupCore(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])], threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // per-row: argmin-L2 cluster id + cosine to that centroid, in ONE
    // native kernel call ([[nearestScored]] m=1 — constant codegen size
    // whatever nClusters is, which is what lets semDedupAuto's derived
    // counts actually execute at corpus scale; ties break on cid
    // deterministically)
    val assigned = df
      .select(F.col(idCol).as("id"), F.col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__best",
        F.element_at(nearestScored(cents, F.col("__v"), 1), 1))
      .select(F.col("id"), F.col("__v"),
        F.col("__best.cid").as("__cid"), F.col("__best.csim").as("__csim"))
      .repartition(F.col("__cid")) // materialization point: both join sides
    val pairs = assigned.as("x").join(assigned.as("y"),
        F.col("x.__cid") === F.col("y.__cid") && F.col("x.id") < F.col("y.id"))
      .withColumn("sim", cosine(F.col("x.__v"), F.col("y.__v")))
      .filter(F.col("sim").isNotNull && F.col("sim") >= threshold)
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"))
    val groups = Dedup.nearDupClusters(pairs) // (id, cluster)
    val members = groups
      .join(assigned.select(F.col("id"), F.col("__csim")), "id")
    val keepRank = F.row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("cluster").orderBy(F.col("__csim").asc, F.col("id").asc))
    val losers = members.withColumn("__r", keepRank)
      .filter(F.col("__r") > 1)
      .select(F.col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---- random projection (JL) ------------------------------------------

  /** Sparse random projection (Achlioptas 2003's database-friendly
    * Johnson-Lindenstrauss transform, s = 4): project `inDim`-dim vectors
    * to `outDim` dims through a deterministic sparse ±1 matrix derived
    * from md5 — entry w(i,j) comes from the first hex char of
    * `md5("<salt>_<i>_<j>")`: '0'/'2' → +1, '1'/'3' → −1, anything else
    * 0 (P(±1) = 1/(2s) = 1/8 each), scaled by sqrt(s/outDim) so squared
    * norms are preserved in expectation (E[‖Px‖²] = ‖x‖², since
    * E[w²] = 2/(2s) = 1/s; unbiasedness is test-pinned on the corpus).
    * Deriving entries from md5 keys makes the matrix ENGINE-REPLAYABLE —
    * any SQL engine reproduces it character-for-character (the
    * q_random_project oracle does) — unlike PRNG-seeded matrices.
    *
    * SCALE: the matrix is driver-generated literals (outDim·inDim
    * entries — bounded by construction, independent of data); the
    * projection itself is outDim codegen'd native dot kernels per row —
    * one scan, no shuffle, no UDF, no driver data collect. This is the
    * standard compression stage in front of LSH/IVF bucketing when raw
    * embedding dims are wide. Returns (idCol, proj: array<double>).
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int, salt: String = "graft"): DataFrame = {
    require(inDim > 0, s"inDim must be positive, got $inDim")
    require(outDim > 0, s"outDim must be positive, got $outDim")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val md = java.security.MessageDigest.getInstance("MD5")
    // first lowercase-hex char of the digest = high nibble of byte 0
    def entry(i: Int, j: Int): Double = md5SignEntry(md, s"${salt}_${i}_${j}")
    val scale = math.sqrt(4.0 / outDim)
    val dots = (0 until outDim).map { j =>
      val w = Array.tabulate(inDim)(i => entry(i, j) * scale)
      dot(F.col(vecCol), F.typedLit(w.toSeq)) // one literal node per column
    }
    df.select(F.col(idCol), F.array(dots: _*).as("proj"))
  }

  // ---- product quantization (PQ) ---------------------------------------

  /** Train PQ codebooks: split the `dim`-dimensional space into `m`
    * subspaces of dim/m, and Lloyd-cluster each subspace into `ksub`
    * centroids over a bounded deterministic sample. Returns
    * cb(j)(c) = centroid c of subspace j.
    *
    * Training is DRIVER-side on a hash-ordered `sampleCap` sample —
    * deliberately: codebook quality needs a representative sample, not
    * the corpus (FAISS trains on samples too), the sample is uniform
    * across partitions regardless of physical row order, and the whole
    * training is one bounded collect + pure Scala, not m·iters Spark
    * jobs. Everything downstream ([[pqEncode]], [[pqTopK]]) is fully
    * distributed.
    */
  def trainPqCodebooks(candidates: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, ksub: Int = 16, iters: Int = 10,
      sampleCap: Int = 10000, seed: Long = 42L): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val sample: Array[Array[Double]] =
      hashSample(candidates, idCol, vecCol, sampleCap, seed, dim)
        .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= ksub,
      s"need >= $ksub sample vectors to train, got ${sample.length}")
    Array.tabulate(m) { j =>
      lloydL2(sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub,
        (j + 1) * dsub)), ksub, iters)
    }
  }

  /** Plain driver-side Lloyd's with L2 assignment; init = first k sample
    * points (the sample is already hash-shuffled, so this is a uniform
    * draw). Empty clusters keep their previous centroid.
    */
  private def lloydL2(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val d = points(0).length
    var cents = points.take(k).map(_.clone)
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0; var i = 0
          while (i < d) { val t = p(i) - cents(c)(i); s += t * t; i += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  /** PQ-encode every vector to `m` small codes (argmin-L2 centroid per
    * subspace): 100 TB of float32 embeddings become m bytes/vector —
    * 16-32× less memory/IO for the scoring scan. One pure projection over
    * the scan through the native codegen'd [[graft.functions.PqCodes]]
    * kernel (the codebook flattens once on the driver and ships as a
    * codegen reference; the composed struct/array_min formulation below
    * allocates m·ksub boxed structs per row — measured 2.2× slower
    * end-to-end on q_knn_pq). Returns (idCol, codes array<tinyint>) —
    * m BYTES per vector, the PQ compression contract.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    // ragged vectors encode to NULL (the kernel's data-condition
    // contract) and are dropped here, mirroring pqEncodeFixed — they are
    // outside the ANN universe and the malformedVectors audit reports
    // them. The kernel is materialized behind an attribute barrier so the
    // null filter references the ATTRIBUTE: a plain Project + Filter lets
    // predicate pushdown substitute the alias and the executed plan runs
    // the m·ksub·dsub argmin kernel THREE times per row — once in the
    // projection, once in the duplicated Filter, once as a pushed scan
    // DataFilter (r19 plan finding; same class as guide §4.4).
    df.select(F.col(idCol),
      graft.plans.Hygiene.attributeBarrier(
        graft.plans.GraftExtensions.callNative("pq_codes",
          F.col(vecCol).cast("array<double>"),
          F.typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq))).as("codes"))
      .filter(F.col("codes").isNotNull)
  }

  /** Composed `functions._` formulation of [[pqEncode]], kept as the
    * equivalence baseline for the native kernel (PipelineSpec pins them
    * row-for-row equal). Argmin via `-2·dot + |c|²` (the |subvec|² term
    * is constant per subspace, so it cannot change the argmin); array_min
    * on (d, cid) structs = lowest distance, ties -> lowest code id.
    */
  private[graft] def pqEncodeComposed(df: DataFrame, idCol: String,
      vecCol: String, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    // same unsigned-byte ceiling as the native kernel (c.toByte wraps
    // identically to the kernel's (c & 0xFF).toByte for c < 256)
    require(codebooks(0).length <= 256,
      s"pq encode: ksub=${codebooks(0).length} exceeds the byte-code limit of 256")
    val v = F.col(vecCol).cast("array<double>")
    val codes = F.array((0 until m).map { j =>
      val sub = F.slice(v, j * dsub + 1, dsub)
      val scored = F.array(codebooks(j).zipWithIndex.map { case (cv, c) =>
        F.struct(
          (F.lit(cv.map(x => x * x).sum) -
            F.lit(2.0) * dot(sub, F.array(cv.map(F.lit): _*))).as("d"),
          F.lit(c.toByte).as("cid"))
      }: _*)
      F.array_min(scored).getField("cid")
    }: _*)
    df.select(F.col(idCol), codes.as("codes"))
  }

  /** PQ approximate top-k by asymmetric distance computation (ADC): each
    * query precomputes ONE m×ksub lookup table of subspace inner products
    * (a per-query-row projection — m·ksub·dsub work ONCE per query), then
    * every (query, candidate) pair scores in O(m) array lookups instead
    * of O(dim) float ops, against m-byte codes instead of dim floats.
    * Cosine is approximated with the candidate's reconstruction norm,
    * itself an O(m) lookup in a global literal table.
    *
    * Same broadcast-queries/stream-candidates shape as
    * [[bruteForceTopK]] — at full scale, compose with IVF partition
    * pruning ([[buildIvfIndex]]) so PQ scores only the probed lists.
    * Approximation contract: recall is bounded by codebook quality
    * (recall-tested against the exact path; [[bruteForceTopK]] remains
    * the ground truth).
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, codebooks: Array[Array[Array[Double]]],
      excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(candidates.sparkSession)
    val enc = pqEncode(candidates, idCol, vecCol, codebooks)
      .select(F.col(idCol).as("cand_id"), F.col("codes"))
      .withColumn("__cn", adcCandNorm(codebooks))
    val q = pqQuerySide(queries, idCol, vecCol, codebooks)
    val pairs = enc.crossJoin(F.broadcast(q))
    val filtered =
      if (excludeSelf) pairs.filter(F.col("query_id") =!= F.col("cand_id"))
      else pairs
    topK(adcScored(filtered, codebooks), k)
  }

  /** Query-side ADC preparation: (query_id, __lut, __qn[, __qv]) where
    * __lut is the m×ksub table of subspace inner products — computed ONCE
    * per query row — and __qn the query norm. `withVec` carries the raw
    * vector along in the SAME projection (for callers that re-rank or
    * bucket), so the query frame is never evaluated twice.
    */
  private def pqQuerySide(queries: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      withVec: Boolean = false): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val qv = F.col(vecCol).cast("array<double>")
    val lut = F.array((0 until m).map { j =>
      val sub = F.slice(qv, j * dsub + 1, dsub)
      F.array(codebooks(j).map(cv => dot(sub, F.typedLit(cv.toSeq))): _*)
    }: _*)
    val base = Seq(F.col(idCol).as("query_id"), lut.as("__lut"),
      norm(qv).as("__qn"))
    queries.select(
      (if (withVec) base :+ F.col(vecCol).as("__qv") else base): _*)
  }

  /** Candidate-side reconstruction norm `sqrt(Σ_j ‖c_j(code_j)‖²)` as a
    * column over `codes` — an O(m) lookup in per-subspace literal tables.
    * Computed ONCE PER CANDIDATE before the pair join (it depends only on
    * the codes), not once per (query, candidate) pair: hoisting it out of
    * the pair-side `sim` expression removes m literal-array lookups plus
    * a sqrt from every pair — and from every pair-side re-evaluation the
    * rank filter's pushdown makes (r19; guide §2.3 "decide with small
    * rows" applied to an expression).
    */
  private def adcCandNorm(codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    def code(j: Int) = F.pmod(F.get(F.col("codes"), F.lit(j)).cast("int"), F.lit(256))
    F.sqrt((0 until m).map { j =>
      F.get(F.array(codebooks(j).map(cv => F.lit(cv.map(x => x * x).sum)): _*),
        code(j))
    }.reduce(_ + _))
  }

  /** ADC scoring over (__lut, __qn, __cn, codes) pair rows — the
    * candidate norm `__cn` ([[adcCandNorm]]) must already ride the
    * candidate side. Approximate cosine in O(m) statically-unrolled array
    * lookups (no HOF, stays in codegen). Returns (query_id, cand_id, sim)
    * with NO null filter of its own: every caller feeds [[topK]], whose
    * `isNotNull && !isnan` guard subsumes it — the former internal
    * `filter(sim.isNotNull)` stacked a SECOND pushdown copy of the whole
    * ADC expression per pair on top of topK's (r19 plan finding).
    */
  private def adcScored(pairs: DataFrame,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    // codes are UNSIGNED bytes (ksub up to 256); undo the signed wrap
    def code(j: Int) = F.pmod(F.get(F.col("codes"), F.lit(j)).cast("int"), F.lit(256))
    val ip = (0 until m).map { j =>
      F.get(F.get(F.col("__lut"), F.lit(j)), code(j))
    }.reduce(_ + _)
    // Zero-norm guard, SAME null contract as cosine_sim/cosineComposed: a
    // bare division would THROW DIVIDE_BY_ZERO under Spark 4's default ANSI
    // mode when a query embedding is all zeros (__qn = 0.0) — topK's
    // isNotNull filter runs AFTER the division, so it cannot save the job.
    val denom = F.col("__qn") * F.col("__cn")
    pairs
      .withColumn("sim",
        F.when(denom === 0.0, F.lit(null).cast("double")).otherwise(ip / denom))
      .select("query_id", "cand_id", "sim")
  }

  /** PQ shortlist + exact re-rank — the production ANN shape: ADC
    * ([[pqTopK]]) scores the WHOLE corpus cheaply (O(m) per pair over
    * m-byte codes) to a per-query shortlist of `shortlist` ids, then only
    * shortlist·|queries| full vectors are fetched (equi-join on candidate
    * id, no second corpus-wide scoring pass) and re-ranked with exact
    * cosine. Final quality = P(true top-k ⊆ shortlist), which grows with
    * `shortlist` at O(m) cost — recall-tested against the exact path.
    */
  def pqTopKRerank(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, codebooks: Array[Array[Array[Double]]],
      shortlist: Int = 100, excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val short = pqTopK(queries, candidates, idCol, vecCol, shortlist,
      codebooks, excludeSelf).select("query_id", "cand_id")
    val cv = candidates.select(F.col(idCol).as("cand_id"),
      F.col(vecCol).as("__cv"))
    val qv = queries.select(F.col(idCol).as("query_id"),
      F.col(vecCol).as("__qv"))
    val scored = short.join(cv, "cand_id").join(F.broadcast(qv), "query_id")
      .withColumn("sim", cosine(F.col("__qv"), F.col("__cv")))
      .select("query_id", "cand_id", "sim")
    topK(scored, k)
  }

  // ---- fixed-point product quantization (the oracle-able flavor) -------

  /** Quantize trained float codebooks to scaled int64: floor(x · 2^shift).
    * Scaling by a power of two is EXACT in IEEE doubles (only the
    * exponent changes — no mantissa rounding), and floor is unambiguous,
    * so the quantized codebook and everything downstream of it — subspace
    * L2 argmin encode, ADC lookup sums, the top-k cut — is integer
    * arithmetic any engine replays bit-identically. This is the
    * md5-convention completion for PQ (SURVEY §7.5's float-boundary
    * rationale stops applying once distances are integers): the trained
    * codebook is a bounded driver artifact embedded as literals in both
    * the plan and the oracle SQL, the BPE-merge-table precedent.
    *
    * shift = 20 keeps every intermediate far inside int64 for unit-scale
    * embeddings: |q| ≤ ~2²¹, squared diff ≤ 2⁴⁴, × dsub × m ≤ 2⁵².
    */
  def quantizeCodebooks(cb: Array[Array[Array[Double]]],
      shift: Int = 20): Array[Array[Array[Long]]] = {
    val scale = (1L << shift).toDouble
    cb.map(_.map(_.map(x => math.floor(x * scale).toLong)))
  }

  /** The quantized-vector projection shared by the fixed encode and the
    * fixed query LUT: floor(vᵢ · 2^shift) as bigint, elementwise.
    */
  private def quantizeVec(vec: Column, shift: Int): Column =
    F.transform(vec.cast("array<double>"),
      x => F.floor(x * F.lit((1L << shift).toDouble)))

  /** The codebook literal shared by the fixed kernel calls. */
  private def qcbLit(qcb: Array[Array[Array[Long]]]): Column =
    F.typedLit(qcb.map(_.map(_.toSeq).toSeq).toSeq)

  /** Fixed-point PQ encode: integer subspace-L2 argmin against a
    * [[quantizeCodebooks]] table (ties → lowest code id). Rows whose
    * vector is not exactly `m·dsub` long are DROPPED — malformed vectors
    * are outside the fixed ANN universe (the [[malformedVectors]] audit
    * reports them), which keeps every downstream expression null-free
    * and therefore engine-replayable without null-ordering fine print.
    * One fused native kernel call per row
    * ([[graft.functions.PqCodesFixed]] — the composed struct/array_min
    * formulation of the same integers, kept below as the pinned
    * equivalence baseline, builds a ~6000-node expression that falls out
    * of codegen and ships MB of literals per task; measured 20×+ slower
    * end-to-end). Returns (idCol, codes array<int>); the byte-packed
    * float face ([[pqEncode]]) stays the compression/serving hot path —
    * this flavor is its discrete verification twin.
    */
  def pqEncodeFixed(df: DataFrame, idCol: String, vecCol: String,
      qcb: Array[Array[Array[Long]]], shift: Int = 20): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    // attribute barrier for the same reason as pqEncode: without it the
    // null filter's pushdown re-runs the argmin kernel 3x per row
    df.select(F.col(idCol),
        graft.plans.Hygiene.attributeBarrier(
          graft.plans.GraftExtensions.callNative("pq_codes_fixed",
            F.col(vecCol).cast("array<double>"), qcbLit(qcb),
            F.lit(shift))).as("codes"))
      .filter(F.col("codes").isNotNull)
  }

  /** Composed `functions._` formulation of [[pqEncodeFixed]], kept as the
    * equivalence baseline for the native kernel (PipelineSpec pins them
    * row-for-row equal — same integers, same tie rule).
    */
  private[graft] def pqEncodeFixedComposed(df: DataFrame, idCol: String,
      vecCol: String, qcb: Array[Array[Array[Long]]],
      shift: Int = 20): DataFrame = {
    val m = qcb.length
    val dsub = qcb(0)(0).length
    val q = graft.plans.Hygiene.attributeBarrier(
      quantizeVec(F.col(vecCol), shift)).as("__q")
    val qc = F.col("__q")
    val codes = F.array((0 until m).map { j =>
      val scored = F.array(qcb(j).zipWithIndex.map { case (cv, c) =>
        val d = (0 until dsub).map { i =>
          val t = F.get(qc, F.lit(j * dsub + i)) - F.lit(cv(i))
          t * t
        }.reduce(_ + _)
        F.struct(d.as("d"), F.lit(c).as("cid"))
      }: _*)
      F.array_min(scored).getField("cid")
    }: _*)
    df.select(F.col(idCol), q)
      .filter(F.size(qc) === m * dsub)
      .select(F.col(idCol), codes.as("codes"))
  }

  /** Fixed-point PQ top-k by integer ADC: each query precomputes the
    * m×ksub table of integer subspace L2 distances to every centroid,
    * then every (query, candidate) pair scores as m int64 adds — and
    * because every branch (encode argmin, distance sum, rank cut, ties →
    * lowest cand_id) is integer-discrete, a DuckDB oracle replays the
    * ENTIRE approximate path hash-identically. Ranking is ascending ADC
    * L2 distance (the FAISS IndexPQ metric), output
    * (query_id, cand_id, dist bigint).
    *
    * Same broadcast-queries/stream-candidates shape as [[pqTopK]]; same
    * malformed-vector drop contract as [[pqEncodeFixed]] on both sides.
    */
  def pqTopKFixed(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, qcb: Array[Array[Array[Long]]],
      shift: Int = 20, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(candidates.sparkSession)
    val enc = pqEncodeFixed(candidates, idCol, vecCol, qcb, shift)
      .select(F.col(idCol).as("cand_id"), F.col("codes"))
    val q = queries.select(F.col(idCol).as("query_id"),
        graft.plans.GraftExtensions.callNative("pq_lut_fixed",
          F.col(vecCol).cast("array<double>"), qcbLit(qcb),
          F.lit(shift)).as("__lut"))
      .filter(F.col("__lut").isNotNull)
    val pairs = enc.crossJoin(F.broadcast(q))
    val filtered =
      if (excludeSelf) pairs.filter(F.col("query_id") =!= F.col("cand_id"))
      else pairs
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("dist").asc, F.col("cand_id").asc)
    filtered
      .withColumn("dist", graft.plans.GraftExtensions.callNative(
        "pq_adc_fixed", F.col("__lut"), F.col("codes")))
      .withColumn("__rank", F.row_number().over(w))
      .filter(F.col("__rank") <= k)
      .select("query_id", "cand_id", "dist")
  }

  /** The coarse quantizer as a plain vector table in centroid-id order —
    * [[trainCentroids]] exposed for the fixed-point IVF flavor, whose
    * quantized centroid table must embed in the oracle SQL.
    */
  def trainCoarseCentroids(candidates: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, sampleSeed: Long = 42L,
      refineIters: Int = 0): Array[Array[Double]] =
    trainCentroids(candidates, idCol, vecCol, nCentroids, sampleSeed,
      refineIters).sortBy(_._1).map(_._2)

  /** Fixed-point IVF-PQ top-k — the discrete twin of the
    * [[buildIvfPqIndex]]/[[probeIvfPqIndex]] serving pair, on the same
    * integer substrate as [[pqTopKFixed]] so a DuckDB oracle replays the
    * WHOLE two-stage approximate path: coarse assignment is integer
    * argmin-L2 against a quantized centroid table (literally
    * `pq_codes_fixed` with ONE subspace whose "codebook" is the centroid
    * set — the kernels compose), queries probe their `nProbe`
    * integer-nearest lists (ties → lowest centroid id), and only
    * same-list pairs ADC-score — an equi-join on the list id, the IVF
    * pruning shape, no cartesian. Output (query_id, cand_id, dist
    * bigint), ascending integer ADC L2, ties → lowest cand_id.
    */
  def ivfPqTopKFixed(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      qcents: Array[Array[Long]], qcb: Array[Array[Array[Long]]],
      nProbe: Int = 4, shift: Int = 20,
      excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.register(candidates.sparkSession)
    val nCent = qcents.length
    // one-subspace "codebook" whose ksub centroids are the coarse table
    val centsLit = F.typedLit(Seq(qcents.map(_.toSeq).toSeq))
    def vec = F.col(vecCol).cast("array<double>")
    val cand = candidates.select(F.col(idCol).as("cand_id"),
        graft.plans.GraftExtensions.callNative("pq_codes_fixed",
          vec, centsLit, F.lit(shift)).as("__assign"),
        graft.plans.GraftExtensions.callNative("pq_codes_fixed",
          vec, qcbLit(qcb), F.lit(shift)).as("codes"))
      .filter(F.col("__assign").isNotNull && F.col("codes").isNotNull)
      .select(F.col("cand_id"), F.get(F.col("__assign"), F.lit(0)).as("__list"),
        F.col("codes"))
    // query side: nProbe integer-nearest lists + the ADC lut, one row per
    // (query, probed list). The coarse-distance kernel call materializes
    // as an ATTRIBUTE before the probe lambdas read it — a HOF lambda
    // re-evaluates any embedded subtree once per element (SPARK-35410,
    // the Hygiene pattern), which would re-run the O(nCent·dim) kernel
    // nCent times per query row
    val centDists = F.get(graft.plans.GraftExtensions.callNative(
      "pq_lut_fixed", vec, centsLit, F.lit(shift)), F.lit(0))
    val q0 = queries.select(F.col(idCol).as("query_id"),
        graft.plans.GraftExtensions.callNative("pq_lut_fixed",
          vec, qcbLit(qcb), F.lit(shift)).as("__lut"),
        graft.plans.Hygiene.attributeBarrier(centDists).as("__cd"))
    val scoredLists = F.transform(
      F.sequence(F.lit(0), F.lit(nCent - 1)),
      i => F.struct(F.get(F.col("__cd"), i).as("d"), i.as("cid")))
    val probes = F.transform(
      F.slice(F.array_sort(scoredLists), 1, math.min(nProbe, nCent)),
      s => s.getField("cid"))
    val q = q0.select(F.col("query_id"), F.col("__lut"),
        probes.as("__probes"))
      .filter(F.col("__lut").isNotNull && F.col("__probes").isNotNull)
      .select(F.col("query_id"), F.col("__lut"),
        F.explode(F.col("__probes")).as("__list"))
    val pairs = cand.join(F.broadcast(q), "__list")
    val filtered =
      if (excludeSelf) pairs.filter(F.col("query_id") =!= F.col("cand_id"))
      else pairs
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("dist").asc, F.col("cand_id").asc)
    filtered
      .withColumn("dist", graft.plans.GraftExtensions.callNative(
        "pq_adc_fixed", F.col("__lut"), F.col("codes")))
      .withColumn("__rank", F.row_number().over(w))
      .filter(F.col("__rank") <= k)
      .select("query_id", "cand_id", "dist")
  }

  /** Integer dot product of two quantized (array<bigint>) vectors — the
    * fused [[graft.functions.IntDot]] kernel (codegen'd, allocation-free;
    * the pair stage evaluates one of these per candidate pair).
    * Elements are bounded by 2^21 for unit-scale embeddings at shift=20,
    * so each product is <= 2^42 and a 64-dim sum <= 2^48 — far inside
    * int64; out-of-domain inputs throw (multiplyExact), matching the
    * composed form's ANSI behavior.
    */
  private def intDot(a: Column, b: Column): Column =
    graft.plans.GraftExtensions.callNative("int_dot", a, b)

  /** Composed `functions._` formulation of [[intDot]], kept as the pinned
    * equivalence baseline for the kernel (PipelineSpec).
    */
  private[graft] def intDotComposed(a: Column, b: Column): Column =
    F.aggregate(F.zip_with(a, b, (x, y) => x * y), F.lit(0L), (s, x) => s + x)

  /** Fixed-point SemDeDup — the discrete twin of [[semDedup]] that closes
    * the float quartet: with centroids quantized to scaled int64
    * ([[quantizeCodebooks]] on [[trainCoarseCentroids]]'s output), EVERY
    * branch of the dedup replays in integer arithmetic, so a DuckDB
    * oracle can hash-verify the whole path (assignment, pair threshold,
    * component collapse, keep policy) — which the float face deliberately
    * cannot ([[Queries.q_semdedup]]'s ULP-boundary note).
    *
    * The discrete substrate, per branch:
    *  - **assignment**: integer L2 argmin against the quantized centroid
    *    table (the [[graft.functions.PqCodesFixed]] kernel with one
    *    subspace whose "codebook" is the centroid set, exactly as
    *    [[ivfPqTopKFixed]]'s coarse stage; ties → lowest cid);
    *  - **pair threshold**: `cos(a,b) >= p/q` cross-multiplied to
    *    `q²·dot² >= p²·‖a‖²·‖b‖²` over int64 dots, evaluated in
    *    Decimal(38,0) — dot² <= 2^92 ≈ 5·10^27 and ×10^4 stays inside 38
    *    digits, so Spark decimal arithmetic is exact and DuckDB replays
    *    it in HUGEINT; `dot > 0` required (the threshold is positive);
    *  - **keep policy**: the paper's most-atypical rule on a QUANTIZED
    *    cosine: akey = sign(dot_c)·⌊2^24·dot_c²/(‖v‖²·‖c‖²)⌋ (exact
    *    integer division via remainder subtraction — floor for the
    *    all-positive operands, = DuckDB's truncating `//`), ascending,
    *    ties → lowest id;
    *  - **components**: [[Dedup.nearDupClusters]] min-label propagation,
    *    already discrete (the q_dedup_clusters recursive-CTE precedent).
    *
    * Rows outside the fixed universe (vector length ≠ dim → NULL kernel
    * assignment) take no pairs and survive unexamined — the same
    * documented contract as the float face's null-cosine skip. The float
    * [[semDedup]]/[[semDedupWithCentroids]] pair stays the serving path
    * (its kernels score un-quantized vectors); this flavor is its
    * engine-replayable verification twin.
    */
  def semDedupFixed(df: DataFrame, idCol: String, vecCol: String,
      qcents: Array[Array[Long]], thresholdNum: Int = 99,
      thresholdDen: Int = 100, shift: Int = 20,
      atypShift: Int = 24): DataFrame = {
    require(qcents.nonEmpty, "qcents must be non-empty")
    require(thresholdNum > 0 && thresholdDen >= thresholdNum,
      s"threshold must be in (0, 1]: $thresholdNum/$thresholdDen")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val dec = "decimal(38,0)"
    val centsKernelLit = F.typedLit(Seq(qcents.map(_.toSeq).toSeq))
    val cents2Lit = F.typedLit(qcents.map(_.toSeq).toSeq)
    val cn2Lit = F.typedLit(qcents.map(_.map(x => x * x).sum).toSeq)
    val q = F.col("__q")
    val assigned = df
      .select(F.col(idCol).as("id"),
        quantizeVec(F.col(vecCol), shift).as("__q"),
        graft.plans.GraftExtensions.callNative("pq_codes_fixed",
          F.col(vecCol).cast("array<double>"), centsKernelLit,
          F.lit(shift)).as("__assign"))
      .filter(F.col("__assign").isNotNull)
      .select(F.col("id"), q,
        F.get(F.col("__assign"), F.lit(0)).as("__list"))
      .withColumn("__na", intDot(q, q))
      .withColumn("__dc",
        intDot(q, F.element_at(cents2Lit, F.col("__list") + 1)))
      .withColumn("__cb", F.element_at(cn2Lit, F.col("__list") + 1))
      .repartition(F.col("__list")) // one materialization, both join sides
    // pair stage: cluster-confined, integer threshold
    val p2 = thresholdNum.toLong * thresholdNum
    val q2 = thresholdDen.toLong * thresholdDen
    val dot = intDot(F.col("x.__q"), F.col("y.__q"))
    // Conservative DOUBLE pre-filter ahead of the exact decimal test
    // (guide §1.2 per-task work; the decimal multiplies were ~2/3 of the
    // pair stage's CPU at sf0.1). Soundness is scale-free: every step of
    // lhs_d and rhs_d (each int64 -> double cast, each product, each
    // scale literal) rounds at most once to nearest, with relative error
    // ≤ 2^-53 whatever the magnitude — casts of int64s past 2^53 round
    // too, and no product of int64-sized operands comes near the double
    // range. At most five roundings per side bound each side's relative
    // error below 2^-50, so the two sides' ratio is off by less than
    // 2^-49. A pair is discarded only when lhs_d < rhs_d·(1 − 1e-12),
    // and 1e-12 ≈ 2^-40 ≫ 2^-49: a discarded pair PROVABLY fails the
    // exact test, with no premise on |q_i| or dim. The surviving pair
    // set (decided by the unchanged decimal conjunct, which the DuckDB
    // oracle replays in HUGEINT) is therefore identical. Conjuncts
    // evaluate left-to-right, so the decimal arithmetic runs only on the
    // passing pairs plus a ≤1e-12-relative borderline band.
    val lhsD = F.col("__dot").cast("double") * F.col("__dot").cast("double") *
      F.lit(q2.toDouble)
    val rhsD = F.col("x.__na").cast("double") * F.col("y.__na").cast("double") *
      F.lit(p2.toDouble)
    val pairs = assigned.as("x").join(assigned.as("y"),
        F.col("x.__list") === F.col("y.__list") &&
          F.col("x.id") < F.col("y.id"))
      .withColumn("__dot", dot)
      .filter(F.col("__dot") > 0 &&
        lhsD >= rhsD * F.lit(1.0 - 1e-12) &&
        F.col("__dot").cast(dec) * F.col("__dot").cast(dec) *
          F.lit(q2).cast(dec) >=
        F.col("x.__na").cast(dec) * F.col("y.__na").cast(dec) *
          F.lit(p2).cast(dec))
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"))
    val groups = Dedup.nearDupClusters(pairs) // (id, cluster), discrete
    // quantized-atypicality key: exact integer floor-division via
    // remainder subtraction (operands all >= 0), sign restored after
    val num = F.col("__dc").cast(dec) * F.col("__dc").cast(dec) *
      F.lit(1L << atypShift).cast(dec)
    val den = F.col("__na").cast(dec) * F.col("__cb").cast(dec)
    val mag = F.when(den === F.lit(0).cast(dec), F.lit(0L))
      .otherwise(((num - num % den) / den).cast("long"))
    val akey = F.when(F.col("__dc") < 0, -mag).otherwise(mag)
    val members = groups.join(
      assigned.select(F.col("id"), akey.as("__akey")), "id")
    val keepRank = F.row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("cluster").orderBy(F.col("__akey").asc, F.col("id").asc))
    val losers = members.withColumn("__r", keepRank)
      .filter(F.col("__r") > 1).select(F.col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding near-dup pairs: all (a, b) with cosine >= `threshold`,
    * candidates from SRP buckets (no all-pairs). The embedding-cosine
    * sibling of [[Dedup.minhashNearDupPairs]].
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, nPlanes: Int = 10,
      nTables: Int = 6, seed: Long = 42L): DataFrame = {
    // register into the session that OWNS this frame (the Column-builder
    // fallback uses SparkSession.active, wrong in multi-session apps)
    graft.plans.GraftExtensions.register(df.sparkSession)
    // Same scan discipline as lshTopK: one bucketing pass for all tables,
    // one repartition(id) materialization point reused by the self-join
    // sides AND the two verify joins (partitioning tracks the id aliases).
    val v = df.select(F.col(idCol).as("id"), F.col(vecCol).as("__v"))
      .repartition(F.col("id"))
    val b = tableBuckets(v, "id", "__v", dim, nPlanes, nTables, seed)
    val cands = b.as("x").join(b.as("y"),
        F.col("x.__t") === F.col("y.__t") && F.col("x.__b") === F.col("y.__b") &&
          F.col("x.id") < F.col("y.id"))
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"))
      .distinct()
    cands
      .join(v.select(F.col("id").as("a_id"), F.col("__v").as("__av")), "a_id")
      .join(v.select(F.col("id").as("b_id"), F.col("__v").as("__bv")), "b_id")
      .withColumn("sim", cosine(F.col("__av"), F.col("__bv")))
      // null-guard (zero vectors); >= on null is null -> row dropped
      .filter(F.col("sim").isNotNull && F.col("sim") >= threshold)
      .select("a_id", "b_id", "sim")
  }
}
