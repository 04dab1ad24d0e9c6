package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale document pipelines (extension
  * scope beyond the reference surface — SURVEY.md §7.2 M8; the reference has
  * no dedup/join machinery at all).
  *
  * Scale design (the point of every operator here):
  *  - exact dedup groups by a 256-bit content hash, never by the full text —
  *    the shuffle carries 32 bytes + the key column per row, not documents;
  *  - near-dup is MinHash + banded LSH: candidate pairs come from equi-joins
  *    on (band, bandHash) buckets — there is NO all-pairs/cartesian stage
  *    anywhere in the plan; the exact-Jaccard verify runs only within
  *    buckets;
  *  - everything is either a `functions._` column expression or a native
  *    codegen'd Catalyst expression (`graft.functions`) — no Scala UDF in
  *    any dedup path.
  */
object Dedup {

  // ---- exact --------------------------------------------------------------

  /** Content hash for exact dedup: sha2-256 of the raw text. */
  def contentHash(text: Column): Column = F.sha2(text, 256)

  /** Normalized fingerprint hash (whitespace/punct-insensitive) — see
    * [[TextAnalysis.fingerprint]].
    */
  def normalizedHash(text: Column): Column = TextAnalysis.fingerprint(text)

  /** Keep the first row (lowest `keyCol`, which must uniquely identify
    * rows) of every exact-duplicate class of `textCol`.
    *
    * SCALE SHAPE: losers are computed over a (hash, key) PROJECTION —
    * the window exchange carries 32 bytes + the key per row, never the
    * documents — and survivors are recovered with a left-anti join on
    * the key. The loser side is only the duplicate rows (small in real
    * corpora), so AQE broadcasts the anti join and the text column never
    * leaves its scan partitions. The former formulation windowed the
    * FULL frame directly: WindowExec materializes whole rows on the
    * reducer, so every document body crossed the exchange — a
    * corpus-sized text shuffle at 100 TB, contradicting this very
    * contract.
    */
  def exact(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val w = Window.partitionBy(F.col("__h")).orderBy(F.col(keyCol).asc)
    val losers = df.select(contentHash(F.col(textCol)).as("__h"),
        F.col(keyCol))
      .withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") > 1)
      .select(F.col(keyCol))
    df.join(losers, Seq(keyCol), "left_anti")
  }

  // ---- MinHash + LSH near-dup --------------------------------------------

  // Permutation family parameters (prime modulus, 32-bit hash domain, the
  // ANSI-overflow-safe bound story) live with the fused native kernel:
  // graft.functions.MinHashSigKernel.

  /** Word n-gram shingle set of a text column (distinct, lower-cased). */
  def shingles(text: Column, n: Int = 3): Column = TextAnalysis.wordShingles(text, n)

  /** HASHED word n-gram shingle set: each n-gram hashed directly from its
    * n token arguments, never materialized as a string. Set-equivalent to
    * [[shingles]] up to 64-bit hash collisions (FNV-1a token hashes +
    * avalanched n-gram chaining; ~1e-9 at 10^5 distinct
    * shingles) — the memory/CPU-frugal form every downstream set operation
    * (MinHash, Jaccard) actually needs. At 100 TB this is the difference
    * between shuffling 6 KB and 2.4 KB per doc.
    *
    * Backed by the native [[graft.functions.ShingleHash]] Catalyst
    * expression (codegen'd single pass per row): nested higher-order
    * functions re-evaluate the tokenizer per array element under
    * interpreted evaluation (measured 150× slower under `explode`), and a
    * Scala UDF would pay SerDe per row.
    */
  def hashedShingles(text: Column, n: Int = 3): Column =
    graft.plans.GraftExtensions.callNative("shingle_hashes", text, F.lit(n))

  /** MinHash signature (array of `numHashes` longs) over a shingle-hash
    * array — the fused native [[graft.functions.MinHashSig]] expression
    * (one pass, 64 running minima, no intermediate arrays; the
    * `functions._` formulation would allocate one transform array per
    * permutation per row).
    */
  def minhashSignature(hashCol: Column, numHashes: Int = 64,
      seed: Long = 42L): Column =
    graft.plans.GraftExtensions.callNative("minhash_signature", hashCol,
      F.lit(numHashes), F.lit(seed))

  /** The banded-LSH S-curve: probability that a pair with Jaccard
    * similarity `s` shares at least one of `bands` band buckets at
    * `rows = numHashes / bands` signature rows per band —
    * `1 − (1 − s^rows)^bands` (Leskovec/Rajaraman/Ullman, MMDS ch. 3).
    * The verify stage makes banding a pure RECALL/cost knob (candidates
    * below `threshold` are filtered by exact Jaccard, never reported),
    * so this is the function to read when picking parameters.
    */
  def lshCatchProbability(s: Double, numHashes: Int, bands: Int): Double = {
    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"need numHashes >= 1 divisible by bands >= 1, got " +
        s"numHashes=$numHashes bands=$bands")
    val rows = numHashes / bands
    1.0 - math.pow(1.0 - math.pow(s, rows.toDouble), bands.toDouble)
  }

  /** Pick the band count for a target Jaccard `threshold` at a given
    * signature width: the FEWEST bands (= most rows per band = the
    * steepest S-curve = the least sub-threshold candidate volume, since
    * a random low-similarity pair collides with probability
    * ≈ bands·s^rows) that still catch a pair AT the threshold with
    * probability ≥ `minRecall` — recall is the constraint, verify-stage
    * cost the objective (the verify makes banding a pure recall/cost
    * knob; see [[lshCatchProbability]]). Returns (bands, rowsPerBand,
    * pCatchAtThreshold). Sanity anchors: (64, 0.8) returns the engine
    * defaults 16 bands × 4 rows (catch 0.99978 at s = 0.8); a
    * 0.95-threshold dedup gets 8 × 8 (catch 0.9998) at roughly half the
    * random-collision volume.
    */
  def bandsForThreshold(numHashes: Int, threshold: Double,
      minRecall: Double = 0.95): (Int, Int, Double) = {
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1), got $threshold")
    require(minRecall > 0 && minRecall < 1,
      s"minRecall must be in (0, 1), got $minRecall")
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    val ok = divisors.filter(b =>
      lshCatchProbability(threshold, numHashes, b) >= minRecall)
    // rows = 1 (bands = numHashes) is the flattest curve and the
    // highest recall — if even it misses the bar, return it anyway
    // (the caller asked for more recall than the width can give; the
    // returned probability says so honestly)
    val bands = if (ok.nonEmpty) ok.min else numHashes
    (bands, numHashes / bands,
      lshCatchProbability(threshold, numHashes, bands))
  }

  /** Near-duplicate pairs via banded LSH over MinHash signatures, verified
    * with exact Jaccard within buckets only.
    *
    * Plan shape (the scale contract):
    *   1. one codegen'd projection per doc: [[hashedShingles]] (native
    *      expression, single tokenize+hash pass) materializes the hash
    *      array, then [[minhashSignature]] computes `numHashes` mins over
    *      that attribute — no shuffle, no per-permutation re-hash;
    *   2. 1 row per (doc, band) keyed by the hash of the band's signature
    *      slice;
    *   3. self-equi-join on the band key (hash-partitioned shuffle join on
    *      uniformly-distributed 64-bit keys — no cartesian, no skew);
    *   4. distinct candidate ids, re-join the two shingle sets by id,
    *      compute exact Jaccard, filter >= `threshold`.
    *
    * With numHashes=64 / bands=16 (r=4), a pair at s=0.97 is missed with
    * probability (1-s^4)^16 ≈ 1e-15 — LSH recall is exact for any realistic
    * near-dup threshold >= 0.8.
    *
    * Returns (a_id, b_id, jaccard) with a_id < b_id.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // register into the session that OWNS this frame (the Column-builder
    // fallback uses SparkSession.active, wrong in multi-session apps)
    graft.plans.GraftExtensions.register(df.sparkSession)
    val (sh, banded) = shingleBandTables(df, idCol, textCol, shingleN,
      numHashes, bands, seed)

    val candidates = banded.as("x").join(banded.as("y"),
        F.col("x.band") === F.col("y.band") &&
        F.col("x.bh") === F.col("y.bh") &&
        F.col("x.id") < F.col("y.id"))
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"))
      .distinct()

    verifyPairs(candidates, sh, sh, threshold)
  }

  /** Shared candidate-verification tail: join each (a_id, b_id) candidate
    * to both sides' shingle sets, compute the exact Jaccard, keep pairs
    * at or above `threshold`. ONE definition for the self-join,
    * cross-corpus and persisted-index faces, so the boundary semantics
    * (>=, null handling) cannot drift between them. Inputs carry
    * (id, sh) columns.
    */
  private def verifyPairs(candidates: DataFrame, shA: DataFrame,
      shB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(shA.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "a_sh"), "a_id")
      .join(shB.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "b_sh"), "b_id")
      .withColumn("jaccard", jaccard(F.col("a_sh"), F.col("b_sh")))
      .filter(F.col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Shared MinHash plumbing: the repartition(id)-materialized shingle
    * table and its (id, band, band-hash) explosion.
    *
    * The shingle table feeds multiple consumers (banding + the verify
    * side(s)). Left as a bare projection, each consumer re-scans and
    * re-shingle-hashes the corpus (their downstream partitionings differ,
    * so no stage is shared); the explicit repartition(id) is a
    * materialization point — one canonically-identical exchange that AQE's
    * stage cache computes once and reuses everywhere. One extra shuffle of
    * (id, hashes) buys the saved corpus scans + shingle passes
    * (plan-pinned in PipelineSpec).
    *
    * NO `.filter(size(sh) > 0)` over the projection: such a Filter gets
    * predicate-pushed BELOW it with `sh` substituted by the full
    * expression, so the scan stage would evaluate shingle_hashes 3× per
    * row (measured in the final adaptive plan — see graft.plans.Hygiene).
    * Empty-shingle docs instead ride along and are dropped by the
    * when-guard inside the banding explode (explode(null) emits no rows),
    * keeping the kernel at exactly ONE evaluation per row (plan-pinned).
    */
  private def shingleBandTables(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int,
      seed: Long): (DataFrame, DataFrame) = {
    val r = numHashes / bands
    val sh = df.select(
      F.col(idCol).as("id"),
      hashedShingles(F.col(textCol), shingleN).as("sh"))
      .repartition(F.col("id"))

    // Fused native signature kernel over the hash-array attribute (the
    // kernel masks to the 32-bit domain internally; an empty hash array
    // yields a NULL signature — the size>0 band guard below is therefore
    // load-bearing for null-sig rows, not just a banding skip).
    val sig = sh.select(F.col("id"), F.col("sh"),
      minhashSignature(F.col("sh"), numHashes, seed).as("sig"))

    // (band index, hash of the signature slice) per doc — 1 row per band;
    // empty-shingle docs produce NO bands (see the pushdown note above).
    val banded = sig.select(
      F.col("id"),
      F.explode(F.when(F.size(F.col("sh")) > 0, F.array((0 until bands).map { b =>
        F.struct(
          F.lit(b).as("band"),
          F.xxhash64(F.slice(F.col("sig"), b * r + 1, r)).as("bh"))
      }: _*))).as("bk"))
      .select(F.col("id"), F.col("bk.band").as("band"), F.col("bk.bh").as("bh"))
    (sh, banded)
  }

  /** Cross-corpus near-dup pairs: (a_id from `df`, b_id from `ref`,
    * jaccard) for every df-doc within `threshold` Jaccard of a ref-doc —
    * the "dedup the new crawl against what we already have" primitive.
    * Unlike [[Contamination]] (exact long-n-gram overlap against a SMALL
    * benchmark suite), BOTH sides here can be full-sized corpora: each is
    * independently shingled, signed and banded (same seed, so signatures
    * are comparable), candidates come from a band-key equi-join across the
    * two band tables (hash-partitioned, AQE-skew-splittable, no broadcast
    * assumption and no cartesian), and only in-bucket candidates pay the
    * exact-Jaccard verify. Same missed-pair odds as
    * [[minhashNearDupPairs]]. Id spaces are independent — no a < b
    * constraint; a doc may match many ref docs.
    */
  def minhashNearDupAgainst(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refIdCol: String, refTextCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    graft.plans.GraftExtensions.register(df.sparkSession)
    graft.plans.GraftExtensions.register(ref.sparkSession)
    val (shA, bandedA) = shingleBandTables(df, idCol, textCol, shingleN,
      numHashes, bands, seed)
    val (shB, bandedB) = shingleBandTables(ref, refIdCol, refTextCol,
      shingleN, numHashes, bands, seed)
    val candidates = bandedA.as("x").join(bandedB.as("y"),
        F.col("x.band") === F.col("y.band") &&
        F.col("x.bh") === F.col("y.bh"))
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"))
      .distinct()
    verifyPairs(candidates, shA, shB, threshold)
  }

  /** Keep only the `df` docs with NO near-dup in `ref` (anti-join against
    * the matched a_ids of [[minhashNearDupAgainst]]) — incremental-ingest
    * dedup: `ref` is the already-curated corpus, `df` the new batch.
    */
  def dedupAgainst(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refIdCol: String, refTextCol: String,
      threshold: Double = 0.8): DataFrame = {
    val hit = minhashNearDupAgainst(df, idCol, textCol,
        ref, refIdCol, refTextCol, threshold = threshold)
      .select(F.col("a_id").as(idCol)).distinct()
    df.join(hit, Seq(idCol), "left_anti")
  }

  /** Exact Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column =
    F.size(F.array_intersect(a, b)).cast("double") /
      F.size(F.array_union(a, b)).cast("double")

  /** Near-dup dedup: drop every doc that is the higher-id member of a
    * verified near-dup pair (keep-lowest-id survivor policy).
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val dupIds = minhashNearDupPairs(df, idCol, textCol, threshold = threshold)
      .select(F.col("b_id").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Resolve near-dup pairs into connected components: every id that
    * appears in a pair is labeled with the SMALLEST id reachable through
    * the pair graph (`cluster`) — the principled cluster-level survivor
    * policy of large-scale dedup pipelines (keep one doc per component,
    * not merely per pair, so transitive chains a~b~c collapse together).
    *
    * Strategy is SIZE-ADAPTIVE (r18): pair graphs of integral ids at or
    * under `driverEdgeCap` edges collapse via one driver-side union-find
    * over the collected (bounded) edge list — same min-id-per-component
    * result, none of the per-round job floor; larger graphs (or exotic id
    * types) run the distributed loop below unchanged.
    *
    * Iterative min-label propagation WITH pointer jumping (union-find in
    * dataframe form): each round a node takes the min over (its own label,
    * its neighbors' labels, its label's label). The neighbor step alone
    * moves labels one hop per round (O(diameter) rounds — a 40-link chain
    * of templated near-dups would exhaust a small budget and silently
    * return split components); the label's-label hop doubles the reach
    * each round, so rounds = O(log diameter) and maxIter=48 covers any
    * representable component. If the budget is ever exhausted anyway the
    * call THROWS rather than returning wrong clusters. Each round is two
    * hash equi-joins + an aggregate over the PAIR graph — orders of
    * magnitude smaller than the corpus — so a driver-side loop over jobs
    * is the right shape; `localCheckpoint` truncates the growing lineage
    * so analysis cost stays flat. Labels only ever decrease, so the exact
    * fixpoint test is "no row changed" (a limit-1 probe against the
    * previous labels — NOT a label sum, which overflows ANSI long
    * arithmetic when ids are 64-bit hashes).
    *
    * Input must have `a_id`/`b_id` columns ([[minhashNearDupPairs]] /
    * [[simhashNearDupPairs]] / [[graft.operators.Similarity.cosineNearDupPairs]]
    * output). Returns (id, cluster); ids in no pair are implicitly their
    * own singleton cluster (left-join and coalesce at the call site).
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 48,
      driverEdgeCap: Long = 500000L): DataFrame = {
    val edges = pairs.select(F.col("a_id").as("u"), F.col("b_id").as("v"))
      .unionAll(pairs.select(F.col("b_id").as("u"), F.col("a_id").as("v")))
      .localCheckpoint()
    // Size-guarded strategy pick (the broadcast-join principle applied to
    // connected components): when the PAIR GRAPH — already orders of
    // magnitude smaller than the corpus — fits a bounded driver budget,
    // one union-find over the collected edges replaces the 2–3 Spark jobs
    // × O(log diameter) rounds of the distributed loop (each round: two
    // equi-joins + aggregate + checkpoint materialization + fixpoint
    // probe; measured ~1.2 s of pure per-job floor on small graphs, paid
    // by EVERY cluster-collapsing operator). The count probe is one cheap
    // job over the just-checkpointed blocks; graphs over the cap (or with
    // non-integral/null ids) take the distributed loop exactly as before.
    // Result is identical by construction: min-label fixpoint = component
    // minimum, which union-by-min-root computes (PropertySpec fuzzes this
    // equivalence against the same reference).
    val idType = edges.schema("u").dataType
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    // strategy probe: ONE aggregate over the just-checkpointed blocks
    // decides size AND null-endpoint eligibility before any collect (a
    // null endpoint — never produced by the pair generators, but the
    // distributed loop tolerates it — falls back to the loop rather than
    // guessing at null-join semantics on the driver)
    val probe = if (integralIds && driverEdgeCap > 0)
      edges.agg(F.count(F.lit(1)),
        F.count(F.when(F.col("u").isNull || F.col("v").isNull, 1))).head
    else null
    if (probe != null && probe.getLong(0) <= 2L * driverEdgeCap &&
        probe.getLong(1) == 0L) {
      val raw = edges.collect()
      locally {
        def asLong(r: org.apache.spark.sql.Row, i: Int): Long = idType match {
          case org.apache.spark.sql.types.IntegerType => r.getInt(i).toLong
          case _ => r.getLong(i)
        }
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          while (parent.get(x) != x) {
            val gp = parent.get(parent.get(x))
            parent.put(x, gp)
            x = gp
          }
          x
        }
        raw.foreach { r =>
          val a = asLong(r, 0); val b = asLong(r, 1)
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val box: Long => Any = idType match {
          case org.apache.spark.sql.types.IntegerType =>
            (x: Long) => Integer.valueOf(x.toInt)
          case _ => (x: Long) => java.lang.Long.valueOf(x)
        }
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
        parent.keySet.forEach { id =>
          out.add(org.apache.spark.sql.Row(box(id), box(find(id))))
        }
        val nullable = edges.schema("u").nullable
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType, nullable),
          org.apache.spark.sql.types.StructField("cluster", idType, nullable)))
        return pairs.sparkSession.createDataFrame(out, schema)
      }
    }
    var labels = edges.select(F.col("u").as("id")).distinct()
      .withColumn("cluster", F.col("id"))
      .localCheckpoint()
    var converged = labels.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = edges
        .join(labels.select(F.col("id").as("v"), F.col("cluster")), "v")
        .groupBy(F.col("u").as("id"))
        .agg(F.min("cluster").as("__nbr"))
      // pointer jump: the current label's own label
      val viaLabel = labels.select(F.col("id").as("cluster"),
        F.col("cluster").as("__hop"))
      // the convergence flag rides INSIDE the checkpointed frame (new
      // label vs the old one it was derived from), so the exact fixpoint
      // probe is a filter over already-materialized blocks — not a third
      // equi-join re-shuffling both label frames per round, which was a
      // measurable fixed cost across every cluster-collapsing operator
      val next = labels
        .join(viaNeighbors, Seq("id"), "left")
        .join(viaLabel, Seq("cluster"), "left")
        .select(F.col("id"),
          F.least(F.col("cluster"),
            F.coalesce(F.col("__nbr"), F.col("cluster")),
            F.coalesce(F.col("__hop"), F.col("cluster")))
            .as("cluster"),
          F.col("cluster").as("__prev"))
        .localCheckpoint()
      // exact fixpoint: did ANY label change? (labels only decrease)
      converged = next.filter(F.col("cluster") =!= F.col("__prev")).isEmpty
      labels = next.select(F.col("id"), F.col("cluster"))
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIter rounds")
    labels
  }

  /** Cluster-level near-dup dedup: keep exactly ONE document (the
    * lowest-id member) per connected component of the near-dup graph.
    * Strictly stronger than [[minhashDedup]]'s pairwise policy (drop every
    * higher-id pair member): with edges (1,9) and (5,9), the pair policy
    * keeps both 1 and 5 — they never meet in a pair — while the cluster
    * policy sees one component {1,5,9} and keeps only 1.
    */
  def minhashDedupClusters(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val clusters = nearDupClusters(
      minhashNearDupPairs(df, idCol, textCol, threshold = threshold))
    val losers = clusters.filter(F.col("id") =!= F.col("cluster"))
      .select(F.col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---- SimHash ------------------------------------------------------------

  /** 64-bit SimHash of the token stream (Charikar's sign-random-projection
    * sketch as popularized for web near-dup detection): bit j of the result
    * is the sign of the sum over tokens of (bit j of hash64(token) ? +1 :
    * -1). Backed by the native codegen'd
    * [[graft.functions.SimHash64]] expression — one fused
    * tokenize+hash+accumulate pass per row, no UDF SerDe, no token-array
    * materialization (round-3 advice item 3).
    */
  def simhash(text: Column): Column =
    graft.plans.GraftExtensions.callNative("simhash64", text)

  /** Hamming distance between two 64-bit sketches (bit_count of xor). */
  def hamming64(a: Column, b: Column): Column =
    F.bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on k-bit prefix bands of the sketch
    * (pigeonhole: two sketches within `maxHamming` bits share at least one
    * of `maxHamming+1` equal bands), then verify the true Hamming distance
    * within blocks — again no all-pairs stage.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    // register into the session that OWNS this frame (the Column-builder
    // fallback uses SparkSession.active, wrong in multi-session apps)
    graft.plans.GraftExtensions.register(df.sparkSession)
    val nBands = maxHamming + 1
    val width = 64 / nBands
    // JVM long shifts count mod 64: at maxHamming=0 the band IS the whole
    // sketch and (1L << 64) - 1 would be 0 — every doc one bucket, the
    // all-pairs join this operator exists to avoid
    val mask = if (width >= 64) -1L else (1L << width) - 1
    // repartition(id) materialization point: both self-join sides reuse one
    // exchange instead of re-scanning + re-sketching (see minhash above).
    val sk = df.select(F.col(idCol).as("id"), simhash(F.col(textCol)).as("sk"))
      .repartition(F.col("id"))
    val banded = sk.select(F.col("id"), F.col("sk"),
      F.explode(F.array((0 until nBands).map { b =>
        F.struct(F.lit(b).as("band"),
          F.shiftrightunsigned(F.col("sk"), b * width)
            .bitwiseAND(F.lit(mask)).as("bh"))
      }: _*)).as("bk"))
      .select(F.col("id"), F.col("sk"), F.col("bk.band").as("band"), F.col("bk.bh").as("bh"))
    banded.as("x").join(banded.as("y"),
        F.col("x.band") === F.col("y.band") &&
        F.col("x.bh") === F.col("y.bh") &&
        F.col("x.id") < F.col("y.id"))
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"),
        hamming64(F.col("x.sk"), F.col("y.sk")).as("hamming"))
      .distinct()
      .filter(F.col("hamming") <= maxHamming)
  }

  /** md5-derived SimHash sketch — the engine-replayable FLAVOR of
    * [[simhash]] (the hashSplit/md5-bucket convention): the per-token
    * 64-bit hash comes from the token's md5 prefix instead of the fused
    * native kernel, so any engine with md5 rebuilds the identical sketch
    * and the registry face carries a full DuckDB oracle. The sketch is
    * kept as TWO 32-bit halves (`sk_hi` = md5 hex chars 1-8, `sk_lo` =
    * chars 9-16; each half's bit b is the sign of the tf-weighted vote
    * over tokens, ties → 0) because engines differ on 64-bit shift
    * overflow; Hamming distance is just the sum of the halves' xor
    * popcounts. Token-less docs produce NO sketch row (the kernel flavor
    * sketches them as 0) — a curation gate drops empty docs first either
    * way.
    *
    * Computed by the fused `simhash_md5` kernel
    * ([[graft.functions.SimHashMd5]]) — one scan-side pass per row, like
    * the hot-path kernel; only the HASH differs (md5 for replayability).
    * The former formulation (explode + tf groupBy + 64 separate sum
    * aggregates) computed the identical sketch through 2 aggregate
    * shuffles and a 64-buffer generated update method — the same
    * cold-cliff class the md5 band-key aggregate had; tf-weighting falls
    * out of voting ±1 per token OCCURRENCE, so no tf stage is needed.
    * Bit identity with the composed formulation is pinned
    * ([[simhashMd5Composed]]) and the DuckDB oracle replays the votes
    * from the token strings unchanged.
    */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    // the struct is read twice (hi + lo): attribute first, or the kernel
    // runs once per field
    df.select(F.col(idCol).as("id"),
        graft.plans.Hygiene.attributeBarrier(
          graft.plans.GraftExtensions.callNative("simhash_md5",
            F.col(textCol))).as("__sk"))
      .filter(F.col("__sk").isNotNull)
      .select(F.col("id"),
        F.col("__sk").getField("sk_hi").as("sk_hi"),
        F.col("__sk").getField("sk_lo").as("sk_lo"))
  }

  /** The pre-kernel composed formulation of [[simhashMd5]] (explode + tf
    * groupBy + 64 sum aggregates) — retained as the equivalence baseline:
    * the kernel must reproduce it bit-for-bit (PipelineSpec pins this on
    * corpus + fixtures).
    */
  private[graft] def simhashMd5Composed(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df
      .select(F.col(idCol).as("id"),
        graft.plans.Hygiene.explodeNonEmpty(
          TextAnalysis.tokens(F.col(textCol))).as("__t"))
      .groupBy("id", "__t").agg(F.count(F.lit(1)).as("__n"))
    val hi = graft.plans.Hygiene.md5Prefix32(F.col("__t"))
    val lo = graft.plans.Hygiene.md5Prefix32(F.col("__t"), offset = 9)
    val withBits = toks.select(F.col("id"), F.col("__n"),
      hi.as("__hi"), lo.as("__lo"))
    val votes = (0 until 64).map { b =>
      val half = if (b < 32) F.col("__lo") else F.col("__hi")
      val bit = F.shiftright(half, b % 32).bitwiseAND(F.lit(1L))
      F.sum(F.when(bit === 1L, F.col("__n")).otherwise(-F.col("__n")))
        .as(s"__v$b")
    }
    val aggd = withBits.groupBy("id").agg(votes.head, votes.tail: _*)
    def assemble(bits: Range, off: Int): Column = bits
      .map(b => F.when(F.col(s"__v$b") > 0, F.lit(1L << (b - off)))
        .otherwise(F.lit(0L)))
      .reduce(_ + _)
    aggd.select(F.col("id"),
      assemble(32 until 64, 32).as("sk_hi"),
      assemble(0 until 32, 0).as("sk_lo"))
  }

  /** [[simhashNearDupPairs]] over the md5 sketch flavor — same pigeonhole
    * banding (`maxHamming + 1` prefix bands) and within-block Hamming
    * verify, on the two-half sketch. `maxHamming` must keep the band
    * width inside one 32-bit half (1, 3, 7, 15, 31 — the default 3 gives
    * 4 bands of 16 bits). Returns (a_id, b_id, hamming), a_id < b_id.
    */
  def simhashNearDupPairsMd5(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    require(64 % nBands == 0 && 32 % (64 / nBands) == 0,
      s"maxHamming + 1 = $nBands bands must divide evenly into the " +
        "32-bit sketch halves (maxHamming in 1/3/7/15/31)")
    val width = 64 / nBands
    // repartition(id) materialization point, as in the kernel flavor:
    // both self-join sides reuse one exchange
    val sk = simhashMd5(df, idCol, textCol).repartition(F.col("id"))
    val banded = sk.select(F.col("id"), F.col("sk_hi"), F.col("sk_lo"),
      F.explode(F.array((0 until nBands).map { b =>
        val off = b * width
        val half = if (off < 32) F.col("sk_lo") else F.col("sk_hi")
        F.struct(F.lit(b).as("band"),
          F.shiftright(half, off % 32)
            .bitwiseAND(F.lit((1L << width) - 1)).as("bh"))
      }: _*)).as("bk"))
      .select(F.col("id"), F.col("sk_hi"), F.col("sk_lo"),
        F.col("bk.band").as("band"), F.col("bk.bh").as("bh"))
    val ham =
      F.bit_count(F.col("x.sk_hi").bitwiseXOR(F.col("y.sk_hi"))) +
        F.bit_count(F.col("x.sk_lo").bitwiseXOR(F.col("y.sk_lo")))
    banded.as("x").join(banded.as("y"),
        F.col("x.band") === F.col("y.band") &&
        F.col("x.bh") === F.col("y.bh") &&
        F.col("x.id") < F.col("y.id"))
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"),
        ham.as("hamming"))
      .distinct()
      .filter(F.col("hamming") <= maxHamming)
  }

  // ---- inverted-index exact n-gram Jaccard --------------------------------

  /** EXACT n-gram Jaccard near-dup pairs via an inverted index — the
    * set-similarity-join shape (postings self-join + length filter, after
    * Xiao et al.'s PPJoin family) that completes the dedup menu between
    * [[jaccardPairsBruteForce]] (exact, quadratic — validation only) and
    * [[minhashNearDupPairs]] (approximate, linear-ish — the default at
    * corpus scale).
    *
    * Plan shape:
    *   1. one codegen'd [[hashedShingles]] pass per doc (shared kernel with
    *      the MinHash path), carrying the set size alongside;
    *   2. explode to (id, size, shingleHash) postings — the only row
    *      multiplication, bounded by total shingle count;
    *   3. self-equi-join postings on the 64-bit shingle hash with the
    *      LENGTH FILTER in the join condition (Jaccard >= t requires
    *      min(|A|,|B|) >= t·max(|A|,|B|) — prunes cross-size pairs before
    *      the aggregate) and `a_id < b_id`;
    *   4. count rows per (a, b) = |A ∩ B| exactly (shingle hashes are
    *      distinct within a doc), then Jaccard = common / (|A| + |B| −
    *      common) — no second pass over the texts, no array intersection.
    *
    * Cost is Σ_h df(h)·(df(h)−1)/2 over shingle document frequencies —
    * exact similarity joins are inherently quadratic in the posting length
    * of boilerplate shingles. `maxDocFreq = Some(cap)` drops postings
    * longer than the cap first: the standard web-dedup mitigation, but a
    * documented UNDER-COUNT — a pair whose overlap lives only in capped
    * shingles is missed, so jaccard values for surviving pairs can also
    * drop below their true value. `None` (default) is exact and is the
    * oracle-checked configuration.
    *
    * Returns (a_id, b_id, jaccard) with a_id < b_id, like the other pair
    * producers ([[nearDupClusters]]-compatible).
    */
  def jaccardPairsIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Int] = None): DataFrame = {
    // No emptiness filter needed: explode of an empty shingle array emits
    // no postings (and a pushed-down filter would re-evaluate the shingle
    // kernel per row — see the note in minhashNearDupPairs). The
    // repartition(h) is a materialization point: postings feed BOTH self-
    // join sides (and the doc-frequency aggregate when capped); one
    // canonical h-exchange is computed once, reused everywhere, and
    // already satisfies the join's distribution — without it each side
    // re-scans and re-shingles the corpus (plan-pinned in PipelineSpec).
    val posts = df.select(F.col(idCol).as("id"),
        hashedShingles(F.col(textCol), shingleN).as("sh"))
      .select(F.col("id"), graft.plans.Hygiene.sizeNonNull(F.col("sh")).as("sz"),
        graft.plans.Hygiene.explodeNonEmpty(F.col("sh")).as("h"))
      .repartition(F.col("h"))
    val pruned = maxDocFreq match {
      case Some(cap) =>
        val rare = posts.groupBy("h").agg(F.count(F.lit(1)).as("__df"))
          .filter(F.col("__df") <= cap).select("h")
        posts.join(rare, "h")
      case None => posts
    }
    pruned.as("x").join(pruned.as("y"),
        F.col("x.h") === F.col("y.h") &&
        F.col("x.id") < F.col("y.id") &&
        F.least(F.col("x.sz"), F.col("y.sz")).cast("double") >=
          F.lit(threshold) * F.greatest(F.col("x.sz"), F.col("y.sz")))
      .groupBy(F.col("x.id").as("a_id"), F.col("x.sz").as("__sa"),
        F.col("y.id").as("b_id"), F.col("y.sz").as("__sb"))
      .agg(F.count(F.lit(1)).as("__common"))
      .withColumn("jaccard", F.col("__common").cast("double") /
        (F.col("__sa") + F.col("__sb") - F.col("__common")).cast("double"))
      .filter(F.col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  // ---- corpus-level line dedup (C4-style boilerplate removal) --------------

  /** Remove duplicate LINES across the whole corpus, keeping each line's
    * first occurrence (lowest `(keyCol, position)`) — the C4-style
    * boilerplate scrub (navigation bars, footers, license headers repeat
    * verbatim across pages; document-level dedup never sees them).
    * Returns (keyCol, textCol) with each document's surviving lines
    * rejoined in original order; documents whose every line was a repeat
    * drop out.
    *
    * Scale shape: explode to one row per line (projection, no shuffle),
    * then ONE shuffle keyed on the line content for the first-occurrence
    * window — the rank-1 filter compiles to WindowGroupLimit, so each map
    * partition forwards one candidate per distinct line instead of every
    * copy (the boilerplate line that appears on 10^9 pages arrives at its
    * reducer 1-per-map-partition, not 10^9 times). Reassembly is a second
    * aggregate keyed by document id; per-group state is bounded by the
    * document's own line count.
    */
  def dedupLines(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(F.col(keyCol), F.posexplode(F.split(F.col(textCol), "\n")))
      .withColumnRenamed("col", "__line")
    val w = Window.partitionBy(F.col("__line"))
      .orderBy(F.col(keyCol).asc, F.col("pos").asc)
    lines
      .withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") === 1)
      .groupBy(F.col(keyCol))
      .agg(F.array_join(
        F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("__line")))),
          x => x.getField("__line")),
        "\n").as(textCol))
  }

  // ---- exact-substring (duplicated-span) dedup -----------------------------

  /** Cross-document EXACT-SUBSTRING dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr side of
    * the paper, next to [[minhashNearDupPairs]]'s NearDup): REMOVE every
    * token span of length >= k that occurs more than once in the corpus
    * (across documents or within one) and splice the survivors back
    * together. Token-window approximation of the paper's suffix-array byte
    * spans: every k-token rolling window is keyed, a window whose
    * corpus-wide occurrence count exceeds 1 is duplicated, and a token is
    * removed iff SOME duplicated window covers it — so a shared passage of
    * length L >= k loses all L tokens (every window fully inside it
    * repeats), while windows straddling into unique context don't repeat
    * and the context survives. Returns (idCol, n_tokens, n_removed,
    * text_dedup); text_dedup is the surviving lowercased token stream
    * space-joined (the tokenization the window keys are built from — the
    * engine-wide convention). Docs shorter than k tokens pass through
    * whitespace-normalized; an all-covered doc comes back as the empty
    * string — callers typically drop `n_tokens - n_removed < minLen`
    * afterwards, the paper's practice.
    *
    * `hashed = true` (the 100 TB default) keys windows by the fused
    * 64-bit shingle hash ([[graft.functions.ShingleHashAll]]) — span
    * STRINGS never cross an exchange, only 8-byte keys; `hashed = false`
    * keeps the exact window strings for oracle replay (equal results
    * modulo ~2^-64 hash collisions; flavor row-identity pinned in
    * PipelineSpec).
    *
    * SCALE/plan shape — deliberately NOT
    * [[TextAnalysis.duplicatedPassages]]'s window-function formulation:
    * the corpus-wide occurrence count here is a partial+final groupBy on
    * the window key, so a boilerplate key reaches the exchange once per
    * map partition (map-side combine), where Window.partitionBy(wkey)
    * would sort EVERY occurrence of the hottest key into one reducer with
    * no AQE rescue (window skew is not splittable; aggregate and join
    * skew are). Duplicated keys semi-join back onto the position rows
    * (AQE skew-splittable; broadcastable when the duplicated vocabulary
    * is small), duplicated window STARTS collect per doc (bounded by the
    * doc's own window count), and ONE join back to the corpus hands
    * (text, starts) to the native splice kernel
    * ([[graft.functions.SpliceTokens]] — one primitive pass per row).
    * Three exchanges: wkey aggregate, wkey semi-join, id join-back — the
    * join-back is the only one carrying text; bucket the corpus by id to
    * make it exchange-free, or let AQE broadcast the starts side (only
    * docs that contain duplicated spans).
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 50, hashed: Boolean = true): DataFrame = {
    require(k >= 2, s"window k must be >= 2, got $k")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val wins = substrWins(df, idCol, textCol, k, hashed)
    val dupKeys = wins.groupBy(F.col("__wkey"))
      .agg(F.count(F.lit(1)).as("__gc"))
      .filter(F.col("__gc") > 1)
      .select("__wkey")
    substrSpliceBack(df, idCol, textCol,
      substrDupStarts(wins, idCol, dupKeys), k)
  }

  /** Shared window-key column of the exact-substring family — hashed
    * (8-byte fused shingle keys) vs exact (oracle-replayable strings).
    */
  private def substrWindowKeys(c: Column, k: Int, hashed: Boolean): Column =
    if (hashed)
      graft.plans.GraftExtensions.callNative("shingle_hashes_all", c,
        F.lit(k))
    else
      graft.plans.GraftExtensions.callNative("gram_strings", c, F.lit(k))

  /** Shared position rows (idCol, __pos, __wkey) — one row per window
    * position, duplicates kept (every position is a window).
    */
  private def substrWins(df: DataFrame, idCol: String, textCol: String,
      k: Int, hashed: Boolean): DataFrame =
    df.select(F.col(idCol),
        F.posexplode(substrWindowKeys(F.col(textCol), k, hashed))
          .as(Seq("__pos", "__wkey")))
      .filter(F.col("__wkey").isNotNull && F.col(idCol).isNotNull)

  /** Shared per-doc duplicated-start aggregation. collect_list, not
    * collect_set: (id, pos) rows are unique by construction (one row per
    * window position), and CollectList is on the vetted bounded-state
    * aggregate allowlist (CodegenFallbackSpec).
    */
  private def substrDupStarts(wins: DataFrame, idCol: String,
      dupKeys: DataFrame): DataFrame =
    wins.join(dupKeys, Seq("__wkey"), "left_semi")
      .groupBy(F.col(idCol))
      .agg(F.sort_array(F.collect_list(F.col("__pos"))).as("__starts"))

  /** Shared splice/count tail: join the per-doc duplicated starts back
    * to the text and emit (idCol, n_tokens, n_removed, text_dedup) via
    * the FUSED native kernel (`splice_tokens_stats` — splice and both
    * counts in one tokenizer walk; the former three-column formulation
    * re-ran `tokenCount` twice over the corpus-sized final projection,
    * the r17 verdict's triple-tokenization finding). ONE definition so
    * the within-corpus and against-corpus faces cannot drift.
    */
  private def substrSpliceBack(df: DataFrame, idCol: String,
      textCol: String, dupStarts: DataFrame, k: Int): DataFrame = {
    val stats = graft.plans.GraftExtensions.callNative("splice_tokens_stats",
      F.col(textCol),
      F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
      F.lit(k))
    df.join(dupStarts, Seq(idCol), "left")
      .select(F.col(idCol), stats.as("__st"))
      .select(F.col(idCol),
        F.col("__st.n_tokens").as("n_tokens"),
        F.col("__st.n_removed").as("n_removed"),
        F.col("__st.text_dedup").as("text_dedup"))
  }

  /** Cross-corpus sibling of [[exactSubstrDedup]] — the incremental-ingest
    * cadence ("remove the text we already have"): splice out of each
    * BATCH document every token covered by a k-window that occurs
    * ANYWHERE in `corpus` (once is enough — the corpus is the existing
    * truth, not a frequency vote). Batch-internal duplication is
    * deliberately out of scope; compose with [[exactSubstrDedup]] over
    * the batch when both are wanted. Same return shape, same splice
    * kernel, same hashed/exact flavor contract as the within-corpus
    * operator.
    *
    * SCALE: the corpus side collapses to DISTINCT window keys via a
    * partial+final aggregate before any join (8-byte keys in the hashed
    * flavor — the corpus text never crosses an exchange), then the
    * batch's position rows semi-join against it; with a small batch the
    * candidate-key side is the big one, so the semi-join shuffles keys,
    * not documents, and AQE broadcasts whichever side fits.
    */
  def exactSubstrDedupAgainst(batch: DataFrame, idCol: String,
      textCol: String, corpus: DataFrame, corpusTextCol: String,
      k: Int = 50, hashed: Boolean = true): DataFrame = {
    require(k >= 2, s"window k must be >= 2, got $k")
    graft.plans.GraftExtensions.register(batch.sparkSession)
    val corpusKeys = corpus
      .select(F.explode(
        substrWindowKeys(F.col(corpusTextCol), k, hashed)).as("__wkey"))
      .filter(F.col("__wkey").isNotNull)
      .distinct()
    val wins = substrWins(batch, idCol, textCol, k, hashed)
    substrSpliceBack(batch, idCol, textCol,
      substrDupStarts(wins, idCol, corpusKeys), k)
  }

  /** CHARACTER-level flavor of [[exactSubstrDedup]] — Lee et al. 2021's
    * ExactSubstr at its native granularity (the paper removes duplicated
    * >= 50-BYTE spans from the raw bytes; this operator keys every
    * rolling k-code-point window, the closest unit DuckDB's `len`/
    * `substr` can replay — see `graft.functions.CharGramStrings`). The
    * token-window flavor is tokenizer-coupled: duplicates that disagree
    * on token boundaries — unsegmented CJK text (one giant letter-run
    * "token" yields ZERO token windows), spans inside long tokens,
    * whitespace-free boilerplate — are invisible to it (the r17
    * verdict's missing #3); this flavor catches them, at the cost of
    * ~avg-token-length× more window positions per document (the
    * documented trade; hashed keys keep each at 8 bytes).
    *
    * Semantics: RAW text — case-sensitive, no normalization, whitespace
    * counts as characters. Returns (idCol, n_chars, n_removed,
    * text_dedup); survivors are concatenated WITHOUT separators (the cut
    * is a byte-splice, the paper's own output shape). Docs shorter than
    * k chars pass through UNCHANGED; an all-covered doc comes back empty;
    * null stays null. `hashed = true` (the 100 TB default) keys windows
    * by an O(n) rolling polynomial hash; `hashed = false` keeps exact
    * window strings for oracle replay.
    *
    * SCALE: identical plan shape to [[exactSubstrDedup]] (partial+final
    * aggregate on the window key, semi-join, one text-carrying
    * join-back) — the same hot-key/AQE reasoning applies verbatim.
    */
  def exactSubstrDedupChars(df: DataFrame, idCol: String, textCol: String,
      k: Int = 50, hashed: Boolean = true): DataFrame = {
    require(k >= 2, s"window k must be >= 2, got $k")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val wins = charWins(df, idCol, textCol, k, hashed)
    val dupKeys = wins.groupBy(F.col("__wkey"))
      .agg(F.count(F.lit(1)).as("__gc"))
      .filter(F.col("__gc") > 1)
      .select("__wkey")
    charSpliceBack(df, idCol, textCol,
      substrDupStarts(wins, idCol, dupKeys), k)
  }

  /** Cross-corpus sibling of [[exactSubstrDedupChars]] — the char-level
    * twin of [[exactSubstrDedupAgainst]]: splice out of each batch
    * document every code point covered by a k-char window occurring
    * ANYWHERE in `corpus` (membership, not a frequency vote;
    * batch-internal duplication out of scope, compose with
    * [[exactSubstrDedupChars]]). Same scale shape as the token face's
    * against-variant: the corpus collapses to DISTINCT window keys
    * before any join.
    */
  def exactSubstrDedupCharsAgainst(batch: DataFrame, idCol: String,
      textCol: String, corpus: DataFrame, corpusTextCol: String,
      k: Int = 50, hashed: Boolean = true): DataFrame = {
    require(k >= 2, s"window k must be >= 2, got $k")
    graft.plans.GraftExtensions.register(batch.sparkSession)
    val corpusKeys = corpus
      .select(F.explode(
        charWindowKeys(F.col(corpusTextCol), k, hashed)).as("__wkey"))
      .filter(F.col("__wkey").isNotNull)
      .distinct()
    val wins = charWins(batch, idCol, textCol, k, hashed)
    charSpliceBack(batch, idCol, textCol,
      substrDupStarts(wins, idCol, corpusKeys), k)
  }

  /** Char-window key column — hashed (8-byte rolling keys) vs exact
    * (oracle-replayable window strings).
    */
  private def charWindowKeys(c: Column, k: Int, hashed: Boolean): Column =
    if (hashed)
      graft.plans.GraftExtensions.callNative("char_gram_hashes", c, F.lit(k))
    else
      graft.plans.GraftExtensions.callNative("char_gram_strings", c, F.lit(k))

  /** Char-flavor position rows (idCol, __pos, __wkey) — one row per
    * window position, duplicates kept.
    */
  private def charWins(df: DataFrame, idCol: String, textCol: String,
      k: Int, hashed: Boolean): DataFrame =
    df.select(F.col(idCol),
        F.posexplode(charWindowKeys(F.col(textCol), k, hashed))
          .as(Seq("__pos", "__wkey")))
      .filter(F.col("__wkey").isNotNull && F.col(idCol).isNotNull)

  /** Char-flavor splice tail: fused `splice_chars` kernel (splice + both
    * counts in one pass), struct projected to an attribute so the kernel
    * runs once — ONE definition shared by both char faces.
    */
  private def charSpliceBack(df: DataFrame, idCol: String,
      textCol: String, dupStarts: DataFrame, k: Int): DataFrame = {
    val stats = graft.plans.GraftExtensions.callNative("splice_chars",
      F.col(textCol),
      F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
      F.lit(k))
    df.join(dupStarts, Seq(idCol), "left")
      .select(F.col(idCol), stats.as("__st"))
      .select(F.col(idCol),
        F.col("__st.n_chars").as("n_chars"),
        F.col("__st.n_removed").as("n_removed"),
        F.col("__st.text_dedup").as("text_dedup"))
  }

  // ---- duplication profiling ----------------------------------------------

  /** Per-group duplication profile — the dedup-rate dashboard (one row per
    * `groupCol` value: total docs, distinct content classes, and redundant
    * copies). Two stacked partial+final aggregates: the first keyed on
    * (group, 32-byte content hash) — the shuffle carries hashes, never
    * text — the second on the group alone, so the exchange after the first
    * stage is one row per duplicate CLASS, not per document.
    */
  def dupStats(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.select(F.col(groupCol), contentHash(F.col(textCol)).as("__h"))
      .groupBy(F.col(groupCol), F.col("__h"))
      .agg(F.count(F.lit(1)).as("__c"))
      .groupBy(F.col(groupCol))
      .agg(
        F.sum(F.col("__c")).cast("long").as("n_docs"),
        F.count(F.lit(1)).as("n_classes"),
        F.sum(F.col("__c") - 1).cast("long").as("n_dup_docs"))

  // ---- persisted band index (build-once / probe-many near-dedup) ----------

  /** Persist a corpus's LSH near-dup artifact at `path` — the serving face
    * of [[minhashNearDupAgainst]] for the incremental-ingest cadence
    * (every new crawl batch probes the SAME curated corpus): the corpus's
    * shingling/signing/banding work is paid once at build time instead of
    * per probe. Same fit-once/score-many contract as `buildIvfIndex` and
    * `saveNbModel`.
    *
    * Layout:
    *  - `path` main table: (id, sh) — hashed shingle sets, the
    *    exact-Jaccard verify side;
    *  - `path/_bands`: (id, band, bh) — banded signature keys, the
    *    candidate-join side;
    *  - `path/_params`: one row (shingleN, numHashes, bands, seed,
    *    hashFamily) — a probe must band the new batch under IDENTICAL
    *    parameters AND the identical token-hash family for signatures to
    *    be comparable, so probes read and apply these and every loader
    *    fails fast if the artifact is missing them or was built under a
    *    different `Tok.HashFamily` (a foreign-family probe would silently
    *    match nothing — all near-dups kept).
    */
  def saveBandIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val spark = corpus.sparkSession
    graft.plans.GraftExtensions.register(spark)
    StoreLayout.requireCommitSound(spark, path) // before the corpus write
    val (sh, banded) = shingleBandTables(corpus, idCol, textCol, shingleN,
      numHashes, bands, seed)
    sh.write.mode("overwrite").parquet(path)
    banded.write.mode("overwrite").parquet(s"$path/_bands")
    StoreLayout.initManifest(spark, path)
    StoreLayout.initManifest(spark, s"$path/_bands")
    import spark.implicits._
    Seq((shingleN, numHashes, bands, seed, graft.functions.Tok.HashFamily))
      .toDF("shingleN", "numHashes", "bands", "seed", "hashFamily")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/_params")
  }

  private def readBandParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int, Long) = {
    val row =
      try StoreLayout.readParams(spark, path)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$path is not a band index (no readable _params sidecar): " +
              e.getMessage)
      }
    graft.functions.Tok.checkHashFamily(row, path)
    (row.getAs[Int]("shingleN"), row.getAs[Int]("numHashes"),
      row.getAs[Int]("bands"), row.getAs[Long]("seed"))
  }

  /** Near-dup pairs of a new batch against a persisted band index —
    * (a_id from `newBatch`, b_id from the index, jaccard >= `threshold`).
    *
    * Probe plan (the part the artifact buys): the index is NEVER
    * re-shingled or re-signed. The new batch — small next to the corpus
    * under the incremental-ingest contract — is banded fresh under the
    * artifact's stored parameters; its band table meets `_bands` in an
    * equi-join where AQE broadcasts the batch side, so the index band
    * table streams through ONE scan with no exchange of index data. The
    * surviving candidates (batch-sized) then pick up the stored shingle
    * sets by id for the exact-Jaccard verify — again broadcast-class
    * against the main table's scan. Corpus data crosses no shuffle
    * boundary at any probe.
    */
  def nearDupPairsAgainstIndex(newBatch: DataFrame, idCol: String,
      textCol: String, path: String, threshold: Double = 0.8,
      snapshot: Option[(Long, Long)] = None): DataFrame = {
    val spark = newBatch.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val (shingleN, numHashes, bands, seed) = readBandParams(spark, path)
    val (shNew, bandedNew) = shingleBandTables(newBatch, idCol, textCol,
      shingleN, numHashes, bands, seed)
    // manifest-pinned reads ([[StoreLayout.readStore]]): isolated from
    // a racing compactBandIndex swap. With `snapshot` (a
    // [[bandIndexSnapshot]] pair) BOTH tables pin to one consistent
    // resolution — a reproducible probe while appends land.
    val (idxSh, idxBands) = snapshot match {
      case Some((vSh, vBands)) =>
        (StoreLayout.readStoreAt(spark, path, vSh),
          StoreLayout.readStoreAt(spark, s"$path/_bands", vBands))
      case None =>
        // RESOLUTION ORDER MATTERS: `_bands` FIRST, shingles second —
        // the mirror of the append protocol's shingles-first commit
        // order. Resolving shingles first opens a window where a racing
        // append commits both tables in between: the bands read then
        // holds a batch whose verify rows are missing from the earlier
        // shingle resolution, and verifyPairs' inner join SILENTLY
        // drops its true near-dup pairs (a review caught this exact
        // flip). Bands-first, the worst case is candidates withheld —
        // the documented harmless transient.
        val bands = StoreLayout.readStore(spark, s"$path/_bands")
        (StoreLayout.readStore(spark, path), bands)
    }
    val candidates = idxBands.as("y").join(bandedNew.as("x"),
        F.col("x.band") === F.col("y.band") &&
        F.col("x.bh") === F.col("y.bh"))
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"))
      .distinct()
    verifyPairs(candidates, shNew, idxSh, threshold)
  }

  /** Keep only the new-batch docs with NO near-dup in the indexed corpus
    * (anti-join against [[nearDupPairsAgainstIndex]] hits) — the
    * incremental-ingest gate, served from the persisted artifact.
    */
  def dedupAgainstIndex(newBatch: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.8,
      snapshot: Option[(Long, Long)] = None): DataFrame = {
    val hit = nearDupPairsAgainstIndex(newBatch, idCol, textCol, path,
        threshold, snapshot)
      .select(F.col("a_id").as(idCol)).distinct()
    newBatch.join(hit, Seq(idCol), "left_anti")
  }

  /** A CONSISTENT cross-table snapshot of a band index —
    * (shingleVersion, bandsVersion) — for version-pinned probes
    * ([[nearDupPairsAgainstIndex]]/[[dedupAgainstIndex]] `snapshot`):
    * resolve one at ingest-cadence boundaries and every probe against
    * it reproduces exactly, appends notwithstanding. Consistency comes
    * from the APPEND ORDER: [[appendToBandIndex]] commits the shingle
    * table BEFORE `_bands`, and this helper resolves `_bands` FIRST —
    * so every batch the pinned bands version names already has its
    * shingle rows in the (later-resolved) shingle version, and a
    * candidate pair can never lack its verify rows. The converse
    * transient (a batch's shingles present, bands not yet) only ever
    * WITHHOLDS candidates — the same harmless window the append
    * protocol documents. Retention: each table's pin obeys the
    * manifest/data grace windows ([[StoreLayout.storeVersions]]).
    */
  def bandIndexSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long) = {
    val (fsB, pB) = StoreLayout.fsFor(spark, s"$path/_bands")
    val vBands = StoreLayout.currentManifest(fsB, pB).map(_._1)
      .getOrElse(throw new IllegalArgumentException(
        s"$path/_bands has no manifest — not a band index, or built " +
          "pre-manifest (compact or append once to bootstrap)"))
    val (fsS, pS) = StoreLayout.fsFor(spark, path)
    val vSh = StoreLayout.currentManifest(fsS, pS).map(_._1)
      .getOrElse(throw new IllegalArgumentException(
        s"$path has no manifest — not a band index, or built " +
          "pre-manifest (compact or append once to bootstrap)"))
    (vSh, vBands)
  }

  /** Grow a persisted band index with an accepted batch WITHOUT rebuilding:
    * the batch is shingled/signed/banded under the artifact's stored
    * parameters and appended to both tables (append-mode writes — existing
    * files untouched, later probes see the union). The standard cadence:
    * probe a batch ([[dedupAgainstIndex]]), append the survivors.
    *
    * The batch spans TWO tables but commits as two independent manifest
    * commits, so the composite is made all-or-nothing UNDER RETRY by a
    * shared batch-nonce idempotence contract (r14 verdict #1): pass a
    * stable `batchId` and each table's [[StoreLayout.appendRecorded]]
    * skips the batch if that table already committed it — a crash
    * BETWEEN the two commits (shingles landed, `_bands` didn't: the
    * batch invisible to candidate generation) is healed by re-calling
    * with the same id, which lands exactly the missing table and never
    * duplicates the one that committed. Commit order is shingles first
    * on purpose: a band key whose shingle row is missing would silently
    * DROP verified pairs, whereas a shingle row without band keys is
    * merely not yet discoverable — the transient state must be the
    * harmless one. Without a `batchId` a failed call must NOT be
    * retried (the non-idempotent legacy contract). Retries must come
    * within [[Sketches.SuspectGraceMs]] (the marker-ledger retention);
    * a later retry of a committed id fails loudly against the
    * pruned-marker bloom ([[StoreLayout.requireBatchNotPruned]]) rather
    * than double-appending.
    */
  /** Fault-injection seam for the kill-between-commits test ONLY: fires
    * after the shingle table's manifest commit, before `_bands`'s. A
    * throw here is exactly the crash window the batchId contract heals.
    */
  // @volatile for cross-thread visibility from test threads (see
  // Similarity.ivfAppendFault)
  @volatile private[graft] var bandAppendFault: () => Unit = () => ()

  def appendToBandIndex(newBatch: DataFrame, idCol: String, textCol: String,
      path: String, autoCompactParts: Int = 0,
      batchId: Option[String] = None): Unit = {
    val spark = newBatch.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val (shingleN, numHashes, bands, seed) = readBandParams(spark, path)
    val (sh, banded) = shingleBandTables(newBatch, idCol, textCol, shingleN,
      numHashes, bands, seed)
    StoreLayout.appendRecorded(spark, path, batchId) { scratch =>
      sh.write.parquet(scratch)
    }
    bandAppendFault() // test seam: "crash" between the two table commits
    StoreLayout.appendRecorded(spark, s"$path/_bands", batchId) { scratch =>
      banded.write.parquet(scratch)
    }
    // parts-threshold valve (see Sketches.appendToKmvStore): both
    // tables grow one part set per append, so one check covers both
    Sketches.maybeAutoCompact(spark, path, autoCompactParts) {
      compactBandIndex(spark, path)
    }
  }

  /** Consolidate a band index's appended batch files — after thousands of
    * [[appendToBandIndex]] calls both tables are a sprawl of small parts
    * and every probe pays the per-file open cost (the
    * [[graft.operators.Sketches.compactReplace]] read-amplification
    * story; here the rows are per-doc, nothing folds — compaction is a
    * pure file-count rewrite, row content identical). `numFiles` sizes
    * the rewritten tables (≥ corpus_bytes / 128 MB at scale; the default
    * suits test corpora). Crash-safe per [[Sketches.compactReplace]]'s
    * tmp+manifest protocol; `_params` (and the family stamp it carries)
    * is untouched, so probe refusals survive compaction.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, numFiles: Int = 1): Unit = {
    readBandParams(spark, path) // fail fast on a non-index / foreign family
    Sketches.compactReplace(spark, path, numFiles)(identity)
    Sketches.compactReplace(spark, s"$path/_bands", numFiles)(identity)
  }

  /** Sweep-only maintenance for both band-index tables — the lakehouse
    * VACUUM verb ([[Sketches.vacuumStore]] per table): complete physical
    * erasure after [[deleteFromBandIndex]] without a fold, once the
    * replaced files have aged past the GC grace.
    */
  def vacuumBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    readBandParams(spark, path) // fail fast on a non-index / foreign family
    Sketches.vacuumStore(spark, path)
    Sketches.vacuumStore(spark, s"$path/_bands")
  }

  /** Delete documents by id from a persisted band index — the
    * right-to-be-forgotten maintenance op, run as a compaction whose
    * fold filters the ids out of BOTH tables (the band tables are flat
    * and unpartitioned-by-id, so every file can hold a target row —
    * unlike [[Similarity.deleteFromIvfIndex]]'s list-scoped rewrite,
    * this IS a full rewrite; batch delete requests and run it at the
    * compaction cadence, which it replaces). Table order is the
    * REVERSE of the append's: `_bands` first, shingles second, so a
    * crash between the two leaves candidates-without-generation
    * (deleted docs no longer surface as candidates; their shingle rows
    * are inert verify-side leftovers the re-run removes) — never band
    * keys whose verify rows are gone. Idempotent; `_params` untouched;
    * each table's replaced files get the standard GC grace, so PINNED
    * historical versions serve the deleted docs until the grace passes
    * — complete erasure = delete + a post-grace [[vacuumBandIndex]], the
    * lakehouse DELETE-then-VACUUM trade.
    */
  def deleteFromBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String,
      numFiles: Int = 1): Unit = {
    readBandParams(spark, path) // fail fast on a non-index / foreign family
    // no cast: join at the index's own id type; localCheckpoint: the
    // id set feeds BOTH tables' rewrites — a non-deterministic frame
    // evaluated twice could delete a doc's shingles while leaving its
    // band rows (the exact dangling-band-key state the table ordering
    // below exists to prevent). No broadcast hint: bulk purges can
    // carry millions of ids — AQE picks the join strategy
    // (see Similarity.deleteFromIvfIndex's notes).
    val del = ids.select(F.col(idCol).as("id")).distinct()
      .localCheckpoint()
    def drop(df: DataFrame): DataFrame = df.join(del, Seq("id"), "left_anti")
    // RTBF completeness loop (see Similarity.deleteFromIvfIndex): a
    // batch appended mid-rewrite rides the carry-forward commit
    // untouched and can re-introduce target ids — re-scan the committed
    // state and loop the (idempotent) rewrite, failing loudly after 5
    // passes. The guarantee boundary is the final re-scan: an append
    // landing after it survives (quiesce for a strict guarantee)
    var pass = 0
    var clean = false
    while (!clean) {
      pass += 1
      if (pass > 5)
        throw new IllegalStateException(
          s"deleteFromBandIndex: target ids still present in $path after " +
            "5 rewrite passes — concurrent appends keep re-introducing " +
            "rows for ids being erased. Quiesce appends of those ids and " +
            "re-run (the delete is idempotent).")
      Sketches.compactReplace(spark, s"$path/_bands", numFiles)(drop)
      Sketches.compactReplace(spark, path, numFiles)(drop)
      // empty serving set is trivially clean (a zero-path read throws)
      def tableClean(t: String): Boolean = {
        val (fs, p) = StoreLayout.fsFor(spark, t)
        StoreLayout.servingFiles(fs, p).isEmpty ||
          StoreLayout.readStore(spark, t).select("id")
            .join(del, "id").isEmpty
      }
      clean = tableClean(path) && tableClean(s"$path/_bands")
    }
  }

  // ---- band-key Bloom gate (scan-side / streaming near-dup check) ----------

  /** All `bands` LSH band keys of a text as ONE array<long> column — the
    * no-explode sibling of the banding in [[shingleBandTables]], for
    * consumers that test the keys per row instead of joining on them
    * ([[nearDupGateBloom]]). Computed in two chained projections so the
    * shingle and signature kernels evaluate once per row, with the band
    * array built from the signature ATTRIBUTE.
    */
  private def bandKeyArray(sig: Column, numHashes: Int,
      bands: Int): Column = {
    val r = numHashes / bands
    F.array((0 until bands).map { b =>
      F.xxhash64(F.slice(sig, b * r + 1, r))
    }: _*)
  }

  /** Build the band-key Bloom filter of a corpus — the bounded artifact
    * that lets a STREAM (or any scan) test "is this doc probably a
    * near-dup of the corpus?" as a pure projection: no join, no shuffle,
    * no state. A hit means some corpus doc shares an LSH band (the same
    * candidate event that seeds [[minhashNearDupAgainst]]'s verify), so
    * gating on it drops a SUPERSET of what the exact banded path would
    * drop — no false negatives at the band level, excess bounded by band
    * collisions below `threshold` plus the filter's `fpp`. The
    * conservative direction for corpus hygiene, same trade as
    * `Contamination.decontaminateBloom`.
    *
    * Scale contract: the filter must be broadcast-class, since it rides
    * into the scan as one literal — sizing is docs·bands keys (~2.9 bits/
    * key/ln(1/fpp)... concretely ~3.6 MB per million keys at 1e-6, ~2.4 MB
    * at 1e-4). That bounds this gate to corpora of ~10^8–10^9 band keys;
    * beyond it, probe the persisted band index instead
    * ([[dedupAgainstIndex]] — exact, join-shaped). The build itself is
    * distributed: one corpus scan, one pre-sized filter per partition,
    * OR-merged on the driver (`treeAggregate`-shaped; no key collect).
    */
  def corpusBandBloom(corpus: DataFrame, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L, fpp: Double = 1e-4,
      expectedDocs: Long = -1L): Array[Byte] = {
    import graft.functions.BloomKernel
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    // sizing needs a doc count; counting here re-evaluates the corpus's
    // whole lineage once before the build scan — callers that know the
    // size (artifact builds, metered ingests) pass `expectedDocs` and
    // skip that pass entirely
    val nDocs = if (expectedDocs > 0) expectedDocs else corpus.count()
    require(nDocs > 0, "corpusBandBloom: empty corpus")
    val expected = math.max(64L, nDocs * bands)
    val keys = corpus
      .select(hashedShingles(F.col(textCol), shingleN).as("sh"))
      .select(minhashSignature(F.col("sh"), numHashes, seed).as("sig"),
        F.col("sh"))
      .select(F.when(F.size(F.col("sh")) > 0,
        bandKeyArray(F.col("sig"), numHashes, bands)).as("bk"))
      .filter(F.col("bk").isNotNull)
    val merged = keys.rdd.treeAggregate(
        BloomKernel.emptySized(expected, fpp))(
      seqOp = (b, row) => {
        val arr = row.getSeq[Long](0)
        arr.foreach(BloomKernel.add(b, _))
        b
      },
      combOp = BloomKernel.or)
    BloomKernel.serialize(merged)
  }

  /** The scan-side near-dup gate: keep only docs whose band keys ALL miss
    * the corpus filter ([[corpusBandBloom]]). One filter predicate over
    * the scan — a pure stateless projection, so the SAME call gates a
    * `readStream` micro-batch pipeline (no watermark, no state store) and
    * a batch frame (the oracle-able face). Empty-shingle docs have no
    * band keys and always pass, matching the banded join path (they are
    * never candidates there either).
    */
  def nearDupGateBloom(df: DataFrame, textCol: String, bloom: Array[Byte],
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    // shingle kernel ONCE per row behind the Generate barrier (the filter
    // references the attribute twice — size guard + signature chain — and
    // a bare alias would be substituted through by predicate pushdown)
    val withSh = df.select(df.columns.map(F.col) :+
      graft.plans.Hygiene.attributeBarrier(
        hashedShingles(F.col(textCol), shingleN)).as("__sh"): _*)
    val sig = minhashSignature(F.col("__sh"), numHashes, seed)
    val hits = graft.plans.GraftExtensions.callNative("bloom_count",
      bandKeyArray(sig, numHashes, bands), F.lit(bloom))
    // || short-circuits: empty docs never hash; non-empty docs run the
    // sig+bloom chain exactly once
    withSh.filter(F.size(F.col("__sh")) === 0 || hits === 0L)
      .drop("__sh")
  }

  /** md5 flavor of the band-bloom near-dup gate — the engine-replayable
    * verification face (the md5 convention): shingle hashes are md5
    * prefixes of the shingle STRING, the `numHashes` minhash permutations
    * `(aᵢ·h + bᵢ) mod P` use md5-derived constants with `P = 2³¹−1` and
    * `aᵢ, bᵢ < 2³¹` (products stay under 2⁶³ — both JVM longs and SQL
    * BIGINTs compute them exactly, no wraparound dependence), band keys
    * are the '|'-joined signature-slice strings, and the filter is the
    * md5-POSITION bit set (`Contamination.contaminationHitsBloomMd5`'s
    * derivation). Any engine with md5 rebuilds the identical gate —
    * including its false positives — so the registry's q_neardup_gate
    * carries an exact oracle. The fused-kernel flavor
    * ([[corpusBandBloom]]/[[nearDupGateBloom]] — scan-side, zero
    * shuffle) stays the hot path.
    */
  object BandBloomMd5 {
    /** P = 2³¹ − 1 (Mersenne prime): keeps every permuted value and every
      * product representable exactly in 64-bit integer arithmetic on any
      * engine.
      */
    val Prime: Long = (1L << 31) - 1

    /** md5-derived permutation constants, aᵢ ∈ [1, P−1], bᵢ ∈ [0, P−1] —
      * driver-computed once and EMBEDDED as literals in both the plan and
      * the oracle SQL (the BPE-merge-table precedent).
      */
    def perms(numHashes: Int): Array[(Long, Long)] = {
      def v32(key: String): Long = graft.plans.Hygiene.md5Prefix32Jvm(key)
      Array.tabulate(numHashes)(i =>
        (v32(s"mh_a_$i") % (Prime - 1) + 1, v32(s"mh_b_$i") % Prime))
    }

    /** A built filter WITH the parameters it was built under — the gate
      * reads them from here, so a build/gate parameter mismatch is
      * unrepresentable (the same coupling [[saveBandBloom]]'s parameter
      * sidecar provides for the kernel flavor).
      */
    final case class Filter(words: Array[Long], shingleN: Int,
        numHashes: Int, bands: Int, kHashes: Int)

    /** Per-doc band-key STRINGS: shingle the doc once, md5-hash each
      * shingle to its 32-bit prefix inside one `transform`, collapse all
      * `numHashes` permutation minima in ONE `minhash_perms` kernel call
      * ([[graft.functions.MinHashPerms]] with the md5-derived constants
      * and `P = 2³¹−1` as literals), then join each band's signature
      * slice into `"b|s…|s…"`. A pure per-row PROJECTION — no explode,
      * no aggregate, no exchange. The previous formulation (explode +
      * groupBy + 64 separate min aggregates) computed the same mins but
      * its generated 64-buffer update method ran interpreted bytecode
      * for the whole cold first pass over every shingle row — BENCH_r08's
      * 11s-cold / 2s-warm q_neardup_gate gap; this shape's cold cost is
      * one small kernel compile. Docs without shingles are absent
      * (never banding candidates). Explicit-count repartition stays: the
      * interpreted md5 lambdas must not inherit a one-file scan's single
      * partition.
      */
    private[Dedup] def bandKeys(df: DataFrame, idCol: String,
        textCol: String, shingleN: Int, numHashes: Int,
        bands: Int): DataFrame = {
      require(numHashes % bands == 0, "numHashes must be divisible by bands")
      graft.plans.GraftExtensions.register(df.sparkSession)
      val pm = perms(numHashes)
      // stage 1: the per-shingle md5 prefixes in ONE md5_gram_hashes
      // kernel call (positional, duplicates kept — a duplicate shingle
      // cannot change any permutation MINIMUM, so this equals the former
      // distinct-shingle transform exactly), materialized as an
      // attribute (the size guard and the signature kernel both read it)
      val hashed = df
        .repartition(df.sparkSession.sparkContext.defaultParallelism,
          F.col(idCol))
        .select(F.col(idCol),
          graft.plans.Hygiene.attributeBarrier(
            graft.plans.GraftExtensions.callNative("md5_gram_hashes",
              F.col(textCol), F.lit(shingleN))).as("__hs"))
      // stage 2: all numHashes permutation minima in ONE kernel call,
      // itself an attribute before the band slices read it `bands` times
      val keyed = hashed
        .select(F.col(idCol),
          graft.plans.Hygiene.attributeBarrier(
            F.when(F.size(F.col("__hs")) > 0,
              graft.plans.GraftExtensions.callNative("minhash_perms",
                F.col("__hs"),
                F.typedLit(pm.map(_._1).toSeq),
                F.typedLit(pm.map(_._2).toSeq),
                F.lit(Prime)))).as("__sig"))
        .filter(F.col("__sig").isNotNull)
      val r = numHashes / bands
      val keyCols = (0 until bands).map { bIdx =>
        F.concat_ws("|",
          F.lit(bIdx.toString) +:
            (bIdx * r until (bIdx + 1) * r)
              .map(i => F.element_at(F.col("__sig"), i + 1).cast("string")): _*)
      }
      keyed.select(F.col(idCol), F.array(keyCols: _*).as("__bk"))
    }

    /** Build the md5-position bit set of the corpus' band keys. The
      * driver collect is the DISTINCT bit positions — bounded by `mBits`
      * by construction, never by corpus size. Returns a [[Filter]]
      * carrying its own parameters.
      */
    def build(corpus: DataFrame, idCol: String, textCol: String,
        shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
        mBits: Int = 1 << 20, kHashes: Int = 2): Filter = {
      val positions = bandKeys(corpus, idCol, textCol, shingleN, numHashes,
          bands)
        .select(graft.plans.Hygiene.explodeNonEmpty(F.col("__bk")).as("__k"))
        .select(F.explode(F.array((0 until kHashes).map(j =>
          Contamination.md5Position(F.col("__k"), j, mBits)): _*))
          .as("__p"))
        .distinct().collect().map(_.getLong(0))
      // saturation guard: this flavor's bit count is a caller parameter
      // (it must embed verbatim in the oracle SQL), so an undersized
      // mBits on a big corpus would silently mass-drop every incoming
      // doc as a "near-dup" — fail loudly instead. Size ~20-30 bits per
      // expected band key (docs x bands).
      require(positions.length.toLong * 2 < mBits,
        s"BandBloomMd5: $mBits bits hold ${positions.length} set positions" +
          " (>50% full) — the gate would drop nearly everything; raise" +
          " mBits to ~20-30 bits per expected band key")
      Filter(Contamination.wordsFromPositions(positions.iterator, mBits),
        shingleN, numHashes, bands, kHashes)
    }

    /** Gate `df` against a [[build]] [[Filter]]: keep docs whose band
      * keys ALL miss the filter; docs without shingles always pass (never
      * banding candidates), matching [[nearDupGateBloom]]'s contract.
      * Banding parameters come from the filter itself.
      */
    def gate(df: DataFrame, idCol: String, textCol: String,
        filter: Filter): DataFrame = {
      val keyed = bandKeys(df, idCol, textCol, filter.shingleN,
          filter.numHashes, filter.bands)
        .select(F.col(idCol),
          graft.plans.Hygiene.explodeNonEmpty(F.col("__bk")).as("__k"))
      val hitDocs = Contamination
        .md5PositionProbe(keyed, "__k", filter.words, filter.kHashes)
        .filter(F.col("__hit"))
        .select(F.col(idCol)).distinct()
      df.join(hitDocs, Seq(idCol), "left_anti")
    }
  }

  /** Persist a [[corpusBandBloom]] artifact: one parquet row carrying the
    * filter bytes AND the banding parameters — a gate must band incoming
    * docs under the parameters the filter was built with, so loaders read
    * and apply them ([[nearDupGateFromArtifact]]) and fail fast on a
    * foreign artifact (`kind` mismatch).
    */
  def saveBandBloom(corpus: DataFrame, textCol: String, path: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L, fpp: Double = 1e-4): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val bloom = corpusBandBloom(corpus, textCol, shingleN, numHashes, bands,
      seed, fpp)
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq(("band-bloom", shingleN, numHashes, bands, seed,
        graft.functions.Tok.HashFamily, bloom))
      .toDF("kind", "shingleN", "numHashes", "bands", "seed", "hashFamily",
        "bloom")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** [[nearDupGateBloom]] against a persisted [[saveBandBloom]] artifact —
    * parameters and filter come from the artifact (one bounded driver
    * read), so the caller can't band under the wrong family. This is the
    * STREAMING serving face: the returned gate is a pure stateless
    * filter, applied identically to a batch frame or a `readStream`
    * micro-batch flow (see `Streams.nearDupStreamGate`).
    */
  def nearDupGateFromArtifact(df: DataFrame, textCol: String,
      path: String): DataFrame = {
    val spark = df.sparkSession
    val row = spark.read.parquet(path).head()
    require(row.getAs[String]("kind") == "band-bloom",
      s"$path is not a band-bloom artifact (kind=${row.getAs[String]("kind")})")
    graft.functions.Tok.checkHashFamily(row, path)
    nearDupGateBloom(df, textCol, row.getAs[Array[Byte]]("bloom"),
      row.getAs[Int]("shingleN"), row.getAs[Int]("numHashes"),
      row.getAs[Int]("bands"), row.getAs[Long]("seed"))
  }

  // ---- brute-force n-gram Jaccard (oracle/baseline path) ------------------

  /** All-pairs exact n-gram Jaccard — the quadratic BASELINE used to
    * validate the LSH path at small scale. Deliberately not the production
    * path: the plan contains a genuine O(n²) join and says so.
    */
  def jaccardPairsBruteForce(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = df.select(F.col(idCol).as("id"),
      shingles(F.col(textCol), shingleN).as("sh"))
    sh.as("x").join(sh.as("y"), F.col("x.id") < F.col("y.id"))
      .select(F.col("x.id").as("a_id"), F.col("y.id").as("b_id"),
        jaccard(F.col("x.sh"), F.col("y.sh")).as("jaccard"))
      .filter(F.col("jaccard") >= threshold)
  }
}
