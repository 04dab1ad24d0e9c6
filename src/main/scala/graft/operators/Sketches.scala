package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.{Aggregator, Window}

import graft.plans.Hygiene

/** Deterministic, engine-replayable sketches — the oracle-checkable
  * complement to [[graft.extras.Approx]]'s Spark-native ones (HLL++ /
  * Greenwald-Khanna / freqItems), whose sketch internals no other engine
  * reproduces and which therefore live outside the DuckDB registry.
  * Everything here derives its randomness from the md5 convention
  * (SURVEY §7.5: `Hygiene.md5Prefix32`, replayable as
  * `('0x' || substr(md5(x), 1, 8))::BIGINT` in any SQL engine) or from
  * xxhash64 for the hot flavor, so the full sketch state — not just the
  * estimate — hash-verifies against an independent replay.
  *
  * Scale design (the reason these exist at 100 TB):
  *  - KMV distinct: the exact `count(distinct v)` shuffles every distinct
  *    value per group; the KMV aggregate carries AT MOST k longs per
  *    group through partial (map-side) and final aggregation — a fixed
  *    ~k·8-byte ceiling per group per partition crossing the exchange,
  *    independent of the value cardinality.
  *  - Count-min: the exact per-token count table shuffles the VOCABULARY
  *    (billions of rows at web scale); the CMS build aggregates to a
  *    fixed depth×width cell grid (partial agg collapses each map task
  *    to ≤ d·w cells before the exchange), and point estimates probe the
  *    grid with a candidate-bounded join.
  */
object Sketches {

  // ---- KMV distinct ----------------------------------------------------

  /** Bounded-memory k-minimum-values aggregate: the k smallest DISTINCT
    * hash values per group, as an ascending `array<bigint>`. A commutative
    * monoid (sorted-merge + trim), so Spark runs it as a partial+final
    * ObjectHashAggregate — the buffer never exceeds k longs
    * ([[graft.core.Agg.CustomFoldNumeric]]'s memory model, and the same
    * vetted ScalaAggregator class in the codegen-fallback allowlist).
    * step/merge are PURE (fresh arrays), per the shared-zero contract.
    */
  private final class KmvAgg(k: Int)
      extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray

    def reduce(buf: Array[Long], v: java.lang.Long): Array[Long] = {
      if (v == null) return buf
      val h = v.longValue
      val n = buf.length
      // saturated and not smaller than the current kth min: no change
      if (n == k && h >= buf(n - 1)) return buf
      val pos = java.util.Arrays.binarySearch(buf, h)
      if (pos >= 0) return buf // already present (distinct semantics)
      val ins = -pos - 1
      val outLen = math.min(k, n + 1)
      val out = new Array[Long](outLen)
      System.arraycopy(buf, 0, out, 0, ins)
      out(ins) = h
      System.arraycopy(buf, ins, out, ins + 1,
        math.min(n, outLen - 1) - ins)
      out
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      val out = new Array[Long](math.min(k, a.length + b.length))
      var i = 0; var j = 0; var o = 0
      while (o < out.length && (i < a.length || j < b.length)) {
        val takeA = j >= b.length || (i < a.length && a(i) <= b(j))
        val v = if (takeA) a(i) else b(j)
        if (takeA) i += 1 else j += 1
        // skip the duplicate when both sides hold the same hash
        if (o == 0 || out(o - 1) != v) { out(o) = v; o += 1 }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }

    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] =
      Encoders.kryo(classOf[Array[Long]])
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** The md5-flavor hash domain: `md5Prefix32 + 1` ∈ [1, 2^32] — shifted
    * off zero so the KMV ratio estimator never divides by zero, and kept
    * 32-bit so `(k-1)·2^32` stays exact in an IEEE double (the estimate
    * is then ONE correctly-rounded division — bit-identical in any
    * engine; the oracle replays it literally).
    */
  def md5Hash32(value: Column): Column =
    Hygiene.md5Prefix32(value.cast("string")) + F.lit(1L)

  /** Hot-flavor 64-bit hash, folded to the same [1, 2^32] domain (top 32
    * bits of xxhash64, plus one) so both flavors share the estimator and
    * its exactness argument.
    */
  def xx64Hash32(value: Column): Column =
    F.shiftrightunsigned(F.xxhash64(value.cast("string")), 32) + F.lit(1L)

  /** JVM twin of [[md5Hash32]] over a string — byte-identical because
    * both read the same first-4-digest-bytes window
    * ([[graft.plans.Hygiene.md5Prefix32Jvm]]). Basis of the fused CMS
    * kernel ([[cmsSketch]]); pinned against the column form in
    * SketchSpec.
    */
  def md5Hash32Jvm(value: String): Long =
    Hygiene.md5Prefix32Jvm(value) + 1L

  /** JVM twin of [[xx64Hash32]]: Spark's `xxhash64` on a string input is
    * XXH64 with seed 42 over the UTF-8 bytes
    * (`catalyst.expressions.XxHash64`), replayed here via the same
    * catalyst [[org.apache.spark.sql.catalyst.expressions.XXH64]]
    * static kernel — the engine's own implementation, so the twin
    * cannot drift from the column form.
    */
  def xx64Hash32Jvm(value: String): Long = {
    val b = value.getBytes("UTF-8")
    (org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, 42L) >>> 32) + 1L
  }

  /** The JVM hash twins by flavor name, in `(tokenUtf8, suffixUtf8)`
    * form so depth-loop kernels encode the token once: the hash of the
    * CONCATENATED bytes equals the string twin on `token + suffix`
    * (UTF-8 concatenation is byte concatenation).
    */
  private def jvmFlavor(flavor: String): (Array[Byte], Array[Byte]) => Long =
    flavor match {
      case "md5-32-v1" =>
        (p, s) => Hygiene.md5Prefix32Jvm(p, s) + 1L
      case "xx64-32-v1" =>
        (p, s) => {
          val b = new Array[Byte](p.length + s.length)
          System.arraycopy(p, 0, b, 0, p.length)
          System.arraycopy(s, 0, b, p.length, s.length)
          (org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            b.length, 42L) >>> 32) + 1L
        }
      case other => throw new IllegalArgumentException(
        s"unknown value-hash flavor $other")
    }

  /** The KMV aggregate as a bare aggregation Column — `kmin` over the
    * hashed value — for callers composing it alongside OTHER aggregates
    * in one pass ([[Profile.profile]]'s per-column sketches).
    */
  def kmvAggColumn(value: Column, k: Int,
      hash: Column => Column = md5Hash32): Column = {
    require(k >= 2, s"kmvAggColumn: k must be >= 2, got $k")
    F.udaf(new KmvAgg(k), Encoders.LONG).apply(hash(value))
  }

  /** KMV sketch per group: `(groupCols..., kmin array<bigint>)` via the
    * bounded aggregate. `hash` must map values into [1, 2^32]
    * ([[md5Hash32]] / [[xx64Hash32]]). Nulls in `valueCol` are skipped
    * (hash of null is null, and the aggregate skips nulls) — the
    * count-distinct convention.
    */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int, hash: Column => Column = md5Hash32): DataFrame = {
    val agg = kmvAggColumn(F.col(valueCol), k, hash).as("kmin")
    if (groupCols.isEmpty) df.agg(agg)
    else df.groupBy(groupCols.map(F.col): _*).agg(agg)
  }

  /** Built-in-composed equivalence baseline for [[kmvSketch]]: distinct
    * hashes → per-group ascending rank ≤ k → sorted collect. The SAME
    * k-min set by construction, at the exact-distinct shuffle width (every
    * distinct hash crosses the exchange) — retained as the pinned
    * baseline the kernel must equal (the `int_dot` convention), not a
    * scale path.
    */
  def kmvSketchComposed(df: DataFrame, groupCols: Seq[String],
      valueCol: String, k: Int,
      hash: Column => Column = md5Hash32): DataFrame = {
    val g = groupCols.map(F.col)
    val hashed = df.filter(F.col(valueCol).isNotNull)
      .select(g :+ hash(F.col(valueCol)).as("__h"): _*).distinct()
    val w = if (groupCols.isEmpty) Window.orderBy(F.col("__h"))
      else Window.partitionBy(g: _*).orderBy(F.col("__h"))
    val ranked = hashed.withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") <= k)
    val grouped = if (groupCols.isEmpty) ranked.groupBy()
      else ranked.groupBy(g: _*)
    grouped.agg(F.sort_array(F.collect_list(F.col("__h"))).as("kmin"))
  }

  /** The KMV ratio estimator over a `kmin` array Column: exact sketch
    * size below saturation, else `(k-1)·2^32 / kth_min` — the numerator
    * is an exact double (k ≤ 2^20 keeps it under 2^53), the division is
    * one correctly-rounded IEEE op, and the result is rounded to 4
    * decimals, so the oracle's literal replay cannot drift.
    */
  def kmvEstimateCol(kmin: Column, k: Int): Column =
    F.when(F.size(kmin) < k, F.size(kmin).cast("double"))
      .otherwise(F.round(
        F.lit((k - 1).toDouble * 4294967296.0) /
          F.element_at(kmin, k).cast("double"), 4))

  /** KMV distinct estimate from a sketch frame ([[kmvEstimateCol]] over
    * its `kmin` column).
    */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.withColumn("est_distinct", kmvEstimateCol(F.col("kmin"), k))
      .drop("kmin")

  /** Per-group approximate distinct count: sketch + estimate in one call.
    * Relative error concentrates around 1/sqrt(k-2) (k=64 → ~13%).
    */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int, hash: Column => Column = md5Hash32): DataFrame =
    kmvEstimate(kmvSketch(df, groupCols, valueCol, k, hash), k)

  /** Merge per-part KMV sketches up to coarser groups (fewer columns of
    * the sketch frame's keys, or `Nil` for a global sketch) — EXACTLY
    * the sketch a direct pass over the union would build: every one of
    * the union's k smallest distinct hashes is among its own part's k
    * smallest (fewer than k hashes in that part are below it), so
    * k-min(union of part k-min sets) = k-min(union). This identity is
    * the 100 TB operating mode: sketch each ingest batch / partition
    * once, fold the ≤ k·8-byte summaries — never rescan the corpus for
    * a distinct count over a new grouping or a longer window.
    */
  def kmvMergeSketches(sketches: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame = {
    val merged = F.slice(F.array_sort(F.array_distinct(
      F.flatten(F.collect_list(F.col("kmin"))))), 1, k).as("kmin")
    if (groupCols.isEmpty) sketches.agg(merged)
    else sketches.groupBy(groupCols.map(F.col): _*).agg(merged)
  }

  /** Distinct-set overlap estimates from a pair of KMV sketch columns
    * (`kmin_a`, `kmin_b`, same k and hash): appends
    *  - `est_union`    — the KMV estimate over the union sketch (the
    *    k smallest of `kmin_a ∪ kmin_b`, which IS the union's sketch
    *    by the merge identity), and
    *  - `est_jaccard`  — |K ∩ A ∩ B| / |K| with K the union sketch
    *    (Beyer et al., "On synopses for distinct-value estimation
    *    under multiset operations", SIGMOD 2007): K is a uniform
    *    k-sample of the union's distinct values, so the fraction
    *    present in both sides is an unbiased Jaccard estimator.
    * Everything is integer set algebra plus the same two rounded
    * double ops as [[kmvEstimate]] — fully oracle-replayable.
    */
  def kmvOverlapColumns(df: DataFrame, k: Int): DataFrame = {
    val u = F.slice(F.array_sort(F.array_distinct(
      F.concat(F.col("kmin_a"), F.col("kmin_b")))), 1, k)
    df.withColumn("__u", u)
      .withColumn("__common", F.size(F.array_intersect(
        F.array_intersect(F.col("__u"), F.col("kmin_a")), F.col("kmin_b"))))
      .withColumn("est_union",
        F.when(F.size(F.col("__u")) < k, F.size(F.col("__u")).cast("double"))
          .otherwise(F.round(
            F.lit((k - 1).toDouble * 4294967296.0) /
              F.element_at(F.col("__u"), k).cast("double"), 4)))
      .withColumn("est_jaccard",
        F.round(F.col("__common").cast("double") /
          F.size(F.col("__u")).cast("double"), 4))
      .drop("__u", "__common")
  }

  /** Corpus-overlap face: compare two sketch frames key-by-key (e.g.
    * per-domain sketches of crawl A vs crawl B) — how much does B
    * overlap what A already has, per key, WITHOUT joining the corpora
    * (the sketches are ≤ k longs per key; the exact answer is a
    * distinct-join over both corpora). `joinCols` empty compares two
    * global sketches (1×1, broadcast).
    */
  def kmvSetEstimates(a: DataFrame, b: DataFrame, joinCols: Seq[String],
      k: Int): DataFrame = {
    val aa = a.withColumnRenamed("kmin", "kmin_a")
    val bb = b.withColumnRenamed("kmin", "kmin_b")
    val joined =
      if (joinCols.isEmpty) aa.crossJoin(F.broadcast(bb))
      else aa.join(bb, joinCols)
    kmvOverlapColumns(joined, k).drop("kmin_a", "kmin_b")
  }

  /** Merge count-min grids built with the SAME (depth, width, hash):
    * cell-wise sum — CMS is a linear sketch, so the merged grid is
    * bit-identical to one built over the concatenated token streams.
    * Per-batch grids + this fold = frequency stats over any batch range
    * without re-reading tokens.
    */
  def cmsMergeSketches(grids: DataFrame): DataFrame =
    grids.groupBy(F.col("j"), F.col("bucket"))
      .agg(F.sum(F.col("n")).as("n"))

  // ---- persisted KMV sketch store ---------------------------------------

  /** Named value-hash flavors a store can be built under. Versioned like
    * [[graft.functions.Tok.HashFamily]]: part sketches are only foldable
    * when every batch hashed values IDENTICALLY, and a derivation change
    * (offset, fold, domain) under the same name would silently skew
    * every estimate — bump the version suffix instead.
    */
  private val Flavors: Map[String, Column => Column] = Map(
    "md5-32-v1" -> (md5Hash32 _),
    "xx64-32-v1" -> (xx64Hash32 _))

  /** Build a persisted sketch-per-batch store: the main table holds one
    * part sketch per (group, appended batch) — `(groupCols..., kmin)` —
    * and `_params` pins the fold contract (k, hashFlavor, groupCols,
    * valueCol). Serving folds parts per group at read time
    * ([[kmvMergeSketches]] — EXACT by the merge identity, so any number
    * of appended batches estimates identically to one pass over the
    * union), which keeps appends pure `mode("append")` writes: no
    * read-modify-overwrite, batches land concurrently, and the store
    * row count is batches × groups with ≤ k longs per row.
    */
  def buildKmvStore(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int, path: String, flavor: String = "md5-32-v1"): Unit = {
    require(Flavors.contains(flavor),
      s"buildKmvStore: unknown value-hash flavor $flavor " +
        s"(have ${Flavors.keys.mkString(", ")})")
    val spark = df.sparkSession
    StoreLayout.requireCommitSound(spark, path) // before the corpus write
    kmvSketch(df, groupCols, valueCol, k, Flavors(flavor))
      .write.mode("overwrite").parquet(path)
    StoreLayout.initManifest(spark, path)
    import spark.implicits._
    Seq((k, flavor, groupCols.mkString(","), valueCol))
      .toDF("k", "hashFlavor", "groupCols", "valueCol")
      .repartition(1).write.mode("overwrite").parquet(s"$path/_params")
  }

  /** Read + verify a store's fold contract; fails fast on a missing
    * sidecar or a flavor this engine doesn't produce (folding
    * foreign-flavor parts would silently skew every estimate — the
    * [[graft.functions.Tok.checkHashFamily]] failure class).
    */
  private def readKmvParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, String, Seq[String], String) = {
    val row =
      try StoreLayout.readParams(spark, path)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$path is not a KMV sketch store (no readable _params " +
              s"sidecar): ${e.getMessage}")
      }
    val flavor = row.getAs[String]("hashFlavor")
    if (!Flavors.contains(flavor))
      throw new IllegalArgumentException(
        s"$path was built with value-hash flavor $flavor, which this " +
          "engine does not produce; part sketches are not foldable — " +
          "rebuild the store")
    (row.getAs[Int]("k"), flavor,
      row.getAs[String]("groupCols").split(',').toSeq.filter(_.nonEmpty),
      row.getAs[String]("valueCol"))
  }

  /** Sketch a new batch UNDER THE STORE'S contract and append its part
    * sketches — the batch is scanned once and never again; old batches
    * are not read at all. `autoCompactParts > 0` folds the store
    * ([[compactKmvStore]]) whenever the append leaves it serving more
    * than that many parts — the read-amplification valve for an
    * append-forever cadence (default off: compaction cadence is the
    * caller's policy). `batchId` buys exactly-once retries per
    * [[StoreLayout.appendRecorded]] — ids are PERMANENTLY CONSUMED per
    * store (the pruned-marker bloom remembers them after the marker
    * ages out; never recycle one for new data), and the streaming face
    * ([[graft.streaming.Streams.ingestToKmvStoreStream]]) derives its
    * nonce from the checkpoint automatically.
    */
  // test seam (StreamingRecoverySpec): "crash" after a sketch append has
  // committed (manifest + marker) but before control returns to the
  // caller — for a streaming foreachBatch that is the window BEFORE the
  // checkpoint commit, so the restart must replay the same batchId and
  // the marker must no-op it (mirrors Similarity.ivfAppendFault)
  @volatile private[graft] var storeAppendFault: () => Unit = () => ()

  def appendToKmvStore(batch: DataFrame, path: String,
      autoCompactParts: Int = 0, batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val (k, flavor, groupCols, valueCol) = readKmvParams(spark, path)
    StoreLayout.appendRecorded(spark, path, batchId) { scratch =>
      kmvSketch(batch, groupCols, valueCol, k, Flavors(flavor))
        .write.parquet(scratch)
    }
    storeAppendFault()
    maybeAutoCompact(spark, path, autoCompactParts) {
      compactKmvStore(spark, path)
    }
  }

  /** Serving face: fold the stored part sketches per group and estimate
    * — reads batches × groups rows of ≤ k longs, never any corpus.
    * Manifest-pinned ([[StoreLayout.readStore]]): isolated from a
    * racing compaction swap. `version` pins the read to ONE committed
    * manifest version (time travel within the retention window — see
    * [[storeVersions]]): the estimate is reproducible against that
    * snapshot even while appends land.
    */
  def kmvDistinctFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[Long] = None): DataFrame = {
    val (k, _, groupCols, _) = readKmvParams(spark, path)
    kmvEstimate(
      kmvMergeSketches(readStoreMaybeAt(spark, path, version), groupCols,
        k), k)
  }

  /** The manifest versions a persisted store can serve right now,
    * oldest first — pass one to a `*FromStore` face's `version` to pin
    * it. Retention: a superseded version's data files are swept one
    * grace window ([[SuspectGraceMs]]) after a compaction replaces
    * them, and the manifests themselves are age-gated the same way
    * (keep-8 pruning skips versions younger than the grace; hard cap
    * 64) — pin within the window or re-resolve (the lakehouse
    * time-travel-vs-VACUUM trade). Empty for a legacy pre-manifest
    * store.
    */
  def storeVersions(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    StoreLayout.storeVersions(spark, path)

  private def readStoreMaybeAt(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[Long]): DataFrame =
    version match {
      case Some(v) => StoreLayout.readStoreAt(spark, path, v)
      case None => StoreLayout.readStore(spark, path)
    }

  // ---- Count-min sketch ------------------------------------------------

  /** Count-min bucket id for row `j`: `hash32(token ∥ "_" ∥ j) mod width`
    * — the [[graft.operators.Contamination]] md5-position derivation
    * shape, replayable literally in the oracle.
    */
  private def cmsBucket(tok: Column, j: Column, width: Int,
      hash: Column => Column): Column =
    F.pmod(hash(F.concat(tok, F.lit("_"), j.cast("string"))), F.lit(width.toLong))

  /** Bounded-memory fused CMS grid aggregate: ONE buffer of depth·width
    * counts per task (64 KB at the registry's 4×2048), each input token
    * incrementing its `depth` cells in place — the [[KmvAgg]] /
    * [[MgAgg]] ScalaAggregator shape. Replaces the original
    * explode(0..depth)+groupBy build ([[cmsSketchComposed]], retained
    * as the pinned baseline): that plan amplified the token stream ×d
    * through a Generate before the partial aggregate collapsed it, and
    * hashed via interpreted string ops (`conv(substr(md5hex)...)`); the
    * kernel hashes the token's UTF-8 bytes once per row j with the
    * byte-level md5/xxh64 twins ([[jvmFlavor]]) and never widens the
    * row stream. Exchange width is unchanged — ≤ d·w cells per task —
    * and the emitted grid is bit-identical (SketchSpec pins
    * kernel == composed on hostile tokens, both flavors).
    *
    * Buffers mutate in place EXCEPT the shared `zero` instance
    * (copy-on-first-touch — the shared-zero contract,
    * [[graft.core.Agg.CustomFoldNumeric]]).
    */
  private final class CmsAgg(depth: Int, width: Int, flavor: String)
      extends Aggregator[String, Array[Long], Array[Long]] {
    private val cells = depth * width
    def zero: Array[Long] = Array.emptyLongArray
    private def fresh(b: Array[Long]): Array[Long] =
      if (b.length == 0) new Array[Long](cells) else b

    @transient private lazy val hash = jvmFlavor(flavor)
    @transient private lazy val suffixes: Array[Array[Byte]] =
      Array.tabulate(depth)(j => s"_$j".getBytes("UTF-8"))

    def reduce(buf: Array[Long], tok: String): Array[Long] = {
      if (tok == null) return buf
      val g = fresh(buf)
      val tb = tok.getBytes("UTF-8")
      var j = 0
      while (j < depth) {
        g(j * width + (hash(tb, suffixes(j)) % width).toInt) += 1L
        j += 1
      }
      g
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.length == 0) return b
      if (b.length == 0) return a
      var i = 0
      while (i < cells) { a(i) += b(i); i += 1 }
      a
    }

    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] =
      Encoders.kryo(classOf[Array[Long]])
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Build a count-min sketch over a token column: the `(j, bucket, n)`
    * cell grid, at most depth·width rows REGARDLESS of vocabulary size,
    * via the fused [[CmsAgg]] kernel (one 64 KB grid per task crosses
    * the exchange; the grid unpacks to rows plan-side). `flavor` names
    * the value-hash derivation (the [[Flavors]] keys) — a string, not a
    * Column function, because the kernel needs the JVM byte-level twin
    * and a mismatched pair would silently skew every estimate. Null
    * tokens are skipped (the count-distinct convention; both faces).
    */
  /** The fused CMS grid as a bare aggregation Column (flat
    * `array<bigint>` of depth·width cells, row-major by j) — the
    * [[kmvAggColumn]] convention, for callers composing the grid
    * alongside OTHER aggregates in the same single pass (q_cms_probe
    * rides its exact candidate recounts in the same scan).
    */
  def cmsGridAggColumn(value: Column, depth: Int, width: Int,
      flavor: String = "md5-32-v1"): Column = {
    require(depth >= 1 && width >= 2,
      s"cmsGridAggColumn: need depth >= 1, width >= 2, got ($depth, $width)")
    jvmFlavor(flavor) // fail fast on an unknown flavor
    F.udaf(new CmsAgg(depth, width, flavor), Encoders.STRING)
      .apply(value.cast("string"))
  }

  def cmsSketch(toks: DataFrame, tokenCol: String, depth: Int, width: Int,
      flavor: String = "md5-32-v1"): DataFrame =
    toks
      .agg(cmsGridAggColumn(F.col(tokenCol), depth, width, flavor)
        .as("__grid"))
      .select(F.posexplode(F.col("__grid")).as(Seq("__pos", "n")))
      .filter(F.col("n") > 0)
      .select(F.expr(s"CAST(__pos DIV $width AS INT)").as("j"),
        F.expr(s"CAST(__pos % $width AS BIGINT)").as("bucket"),
        F.col("n"))

  /** Point-estimate candidates directly from a GRID-ARRAY column (one
    * row holding the [[cmsGridAggColumn]] array): cross the 1-row frame
    * with the broadcast candidate literals and take
    * `min_j grid[j·width + bucket_j(tok)]` via 0-based `get` (an empty
    * grid — empty input — reads null, coalesced to 0). Same answer as
    * [[cmsEstimate]] over the unpacked rows (pinned in SketchSpec), one
    * plan stage shorter: no grid explode, no grid re-group, no
    * broadcast-join of cells. All non-grid columns of the input are
    * carried through (ride-along aggregates from the same scan).
    * `flavor` is the SAME flavor string the grid was built under
    * ([[cmsGridAggColumn]]) — a string, not a Column function, so a
    * build/probe hash mismatch (which would silently skew every
    * estimate) is unconstructible across the boundary.
    */
  def cmsEstimateFromGrid(withGrid: DataFrame, gridCol: String,
      candidates: Seq[String], depth: Int, width: Int,
      flavor: String = "md5-32-v1"): DataFrame = {
    require(candidates.nonEmpty, "cmsEstimateFromGrid: empty candidate list")
    require(Flavors.contains(flavor),
      s"cmsEstimateFromGrid: unknown value-hash flavor $flavor " +
        s"(have ${Flavors.keys.mkString(", ")})")
    val hash = Flavors(flavor)
    val spark = withGrid.sparkSession
    import spark.implicits._
    val est = F.least((0 until depth).map { j =>
      val bucket = F.pmod(hash(F.concat(F.col("token"), F.lit(s"_$j"))),
        F.lit(width.toLong))
      F.coalesce(
        F.get(F.col(gridCol), (F.lit(j * width) + bucket).cast("int")),
        F.lit(0L))
    }: _*)
    val carried = withGrid.columns.filterNot(_ == gridCol).map(F.col)
    withGrid.crossJoin(F.broadcast(candidates.toDF("token")))
      .select(F.col("token") +: est.as("est_n") +: carried.toIndexedSeq: _*)
  }

  /** Built-in-composed equivalence baseline for [[cmsSketch]] (the
    * [[kmvSketchComposed]] convention): explode each token across the
    * `depth` rows, hash with the COLUMN-form derivation, group to
    * cells. Bit-identical grid by construction — retained as the pinned
    * baseline the kernel must equal, not a scale path (the Generate
    * widens the scan output ×d before the partial agg collapses it).
    */
  private[graft] def cmsSketchComposed(toks: DataFrame, tokenCol: String,
      depth: Int, width: Int,
      hash: Column => Column = md5Hash32): DataFrame = {
    require(depth >= 1 && width >= 2,
      s"cmsSketchComposed: need depth >= 1, width >= 2, got ($depth, $width)")
    toks.filter(F.col(tokenCol).isNotNull)
      .select(F.col(tokenCol).cast("string").as("__tok"),
        F.explode(F.array((0 until depth).map(F.lit): _*)).as("j"))
      .select(F.col("j"),
        cmsBucket(F.col("__tok"), F.col("j"), width, hash).as("bucket"))
      .groupBy(F.col("j"), F.col("bucket"))
      .agg(F.count(F.lit(1)).as("n"))
  }

  /** Point-estimate candidate tokens against a sketch:
    * `est_n = min_j cells(j, bucket_j(tok))` — the classic CMS upper
    * bound (never below the true count; equal when no candidate shares
    * all its buckets with other mass). Both sides are bounded: the
    * candidate side is a literal local relation, the grid side ≤ d·w
    * rows — the grid is broadcast (a left join builds on the right, so
    * the probe side keeps its order-free left role). An absent cell
    * means zero occurrences hashed there — `coalesce 0`.
    */
  def cmsEstimate(sketch: DataFrame, candidates: Seq[String], depth: Int,
      width: Int, hash: Column => Column = md5Hash32): DataFrame = {
    require(candidates.nonEmpty, "cmsEstimate: empty candidate list")
    val spark = sketch.sparkSession
    import spark.implicits._
    val probes = candidates.toDF("token")
      .select(F.col("token"),
        F.explode(F.array((0 until depth).map(F.lit): _*)).as("j"))
      .select(F.col("token"), F.col("j"),
        cmsBucket(F.col("token"), F.col("j"), width, hash).as("bucket"))
    probes.join(F.broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(F.col("token"))
      .agg(F.min(F.coalesce(F.col("n"), F.lit(0L))).as("est_n"))
  }

  // ---- persisted CMS grid store -----------------------------------------

  /** [[buildKmvStore]]'s count-min sibling: per-batch cell grids land as
    * pure appends (≤ d·w rows per batch regardless of vocabulary), the
    * `_params` sidecar pins (depth, width, hashFlavor, tokenCol), and
    * serving sums cells at read time — exact because CMS is linear.
    * Point estimates over any accumulated range never re-read tokens.
    */
  def buildCmsStore(toks: DataFrame, tokenCol: String, depth: Int,
      width: Int, path: String, flavor: String = "md5-32-v1"): Unit = {
    require(Flavors.contains(flavor),
      s"buildCmsStore: unknown value-hash flavor $flavor " +
        s"(have ${Flavors.keys.mkString(", ")})")
    val spark = toks.sparkSession
    StoreLayout.requireCommitSound(spark, path) // before the corpus write
    cmsSketch(toks, tokenCol, depth, width, flavor)
      .write.mode("overwrite").parquet(path)
    StoreLayout.initManifest(spark, path)
    import spark.implicits._
    Seq((depth, width, flavor, tokenCol))
      .toDF("depth", "width", "hashFlavor", "tokenCol")
      .repartition(1).write.mode("overwrite").parquet(s"$path/_params")
  }

  private def readCmsParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, String, String) = {
    val row =
      try StoreLayout.readParams(spark, path)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$path is not a CMS grid store (no readable _params " +
              s"sidecar): ${e.getMessage}")
      }
    val flavor = row.getAs[String]("hashFlavor")
    if (!Flavors.contains(flavor))
      throw new IllegalArgumentException(
        s"$path was built with value-hash flavor $flavor, which this " +
          "engine does not produce; grid cells are not summable — " +
          "rebuild the store")
    (row.getAs[Int]("depth"), row.getAs[Int]("width"), flavor,
      row.getAs[String]("tokenCol"))
  }

  /** Grid a new batch under the store's contract; pure append.
    * `autoCompactParts` and `batchId` per [[appendToKmvStore]].
    */
  def appendToCmsStore(batch: DataFrame, path: String,
      autoCompactParts: Int = 0, batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val (depth, width, flavor, tokenCol) = readCmsParams(spark, path)
    StoreLayout.appendRecorded(spark, path, batchId) { scratch =>
      cmsSketch(batch, tokenCol, depth, width, flavor)
        .write.parquet(scratch)
    }
    storeAppendFault()
    maybeAutoCompact(spark, path, autoCompactParts) {
      compactCmsStore(spark, path)
    }
  }

  /** Retract a batch's contribution from a CMS store BY LINEARITY —
    * the post-compaction erasure path [[dropBatchFromStore]] cannot
    * offer (a folded grid has no per-batch parts left to exclude, but
    * cell sums subtract exactly). Sketches `batch` under the store's
    * own contract (params + hash flavor), NEGATES every cell count, and
    * appends the negative grid as a normal batch: the serving fold's
    * cell-wise sum then cancels the original contribution EXACTLY —
    * same hashes, same cells, zero residue — whether the original
    * batch's parts are still individual or long since folded.
    *
    * Caller contract: `batch` must be the SAME rows (and the store the
    * same params) as the append being retracted — retracting rows that
    * were never appended drives cells negative and point estimates with
    * them (linearity cuts both ways). `batchId` must be a FRESH id
    * (ids are permanently consumed per store; derive it from the
    * original, e.g. `"<origId>-retract"`), and buys the same
    * exactly-once retry contract appends have — critical here, since a
    * double-applied retraction would subtract twice.
    */
  def retractFromCmsStore(batch: DataFrame, path: String,
      autoCompactParts: Int = 0, batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val (depth, width, flavor, tokenCol) = readCmsParams(spark, path)
    StoreLayout.appendRecorded(spark, path, batchId) { scratch =>
      cmsSketch(batch, tokenCol, depth, width, flavor)
        .withColumn("n", -F.col("n"))
        .write.parquet(scratch)
    }
    storeAppendFault()
    maybeAutoCompact(spark, path, autoCompactParts) {
      compactCmsStore(spark, path)
    }
  }

  /** Serving face: sum the stored batch grids cell-wise and point-probe
    * candidates — reads ≤ batches·d·w cell rows, never any tokens.
    * Manifest-pinned ([[StoreLayout.readStore]]).
    */
  def cmsEstimateFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, candidates: Seq[String],
      version: Option[Long] = None): DataFrame = {
    val (depth, width, flavor, _) = readCmsParams(spark, path)
    cmsEstimate(cmsMergeSketches(readStoreMaybeAt(spark, path, version)),
      candidates, depth, width, Flavors(flavor))
  }

  // ---- Misra-Gries heavy hitters ----------------------------------------

  /** Bounded-memory Misra-Gries summary: at most k (value, count)
    * counters. reduce is the classic decrement-all step (Misra & Gries
    * 1982); merge is the mergeable-summaries form (Agarwal et al.,
    * "Mergeable Summaries", PODS 2012): sum counters, then subtract the
    * (k+1)-th largest count from all and keep positives. Both preserve
    * the global undercount bound ≤ N/(k+1), so the candidate set is a
    * SUPERSET of every value with true count > N/(k+1) no matter how
    * Spark partitions the data or orders the merges. The candidate SET
    * itself is order-dependent (any MG is) — only [[heavyHitters]]'s
    * recounted, thresholded face is deterministic, which is why the
    * sketch face never enters the oracle registry.
    *
    * Buffers mutate in place (a per-group live object under
    * ObjectHashAggregate; serialized only across the exchange) EXCEPT
    * the shared `zero` instance, which is copy-on-first-touch — the
    * shared-zero contract ([[graft.core.Agg.CustomFoldNumeric]]).
    */
  private final class MgAgg(k: Int) extends Aggregator[String,
      scala.collection.mutable.HashMap[String, Long], Map[String, Long]] {
    private val zeroBuf = new scala.collection.mutable.HashMap[String, Long]()
    def zero: scala.collection.mutable.HashMap[String, Long] = zeroBuf

    private def fresh(b: scala.collection.mutable.HashMap[String, Long]) =
      if (b eq zeroBuf) new scala.collection.mutable.HashMap[String, Long]()
      else b

    def reduce(buf: scala.collection.mutable.HashMap[String, Long],
        v: String): scala.collection.mutable.HashMap[String, Long] = {
      if (v == null) return buf
      val m = fresh(buf)
      m.get(v) match {
        case Some(c) => m.update(v, c + 1L)
        case None if m.size < k => m.update(v, 1L)
        case None =>
          // decrement-all: each such event retires k+1 occurrences (k
          // stored + this arrival), so there are ≤ N/(k+1) of them —
          // the undercount bound
          val dead = List.newBuilder[String]
          m.foreachEntry { (key, c) =>
            if (c == 1L) dead += key else m.update(key, c - 1L)
          }
          dead.result().foreach(m.remove)
      }
      m
    }

    def merge(a: scala.collection.mutable.HashMap[String, Long],
        b: scala.collection.mutable.HashMap[String, Long])
        : scala.collection.mutable.HashMap[String, Long] = {
      if (b.isEmpty) return a
      if (a.isEmpty) return b
      val (into, from) = if (a.size >= b.size) (a, b) else (b, a)
      val m = fresh(into)
      from.foreachEntry { (key, c) => m.update(key, m.getOrElse(key, 0L) + c) }
      if (m.size > k) {
        // subtract the (k+1)-th largest count; at most k counts exceed it
        val cs = m.values.toArray
        java.util.Arrays.sort(cs)
        val cut = cs(cs.length - (k + 1))
        val dead = List.newBuilder[String]
        m.foreachEntry { (key, c) =>
          if (c <= cut) dead += key else m.update(key, c - cut)
        }
        dead.result().foreach(m.remove)
      }
      m
    }

    def finish(m: scala.collection.mutable.HashMap[String, Long])
        : Map[String, Long] = m.toMap
    def bufferEncoder: Encoder[scala.collection.mutable.HashMap[String, Long]] =
      Encoders.kryo(classOf[scala.collection.mutable.HashMap[String, Long]])
    def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Misra-Gries candidate pass: ONE row `(mg map<string,bigint>,
    * n_total bigint)` — every value with true count > n_total/(k+1) is
    * a key of `mg` (superset guarantee; see [[MgAgg]]). ≤ k counters
    * per task cross the exchange regardless of cardinality.
    */
  def mgSummary(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"mgSummary: k must be >= 2, got $k")
    df.agg(F.udaf(new MgAgg(k), Encoders.STRING)
        .apply(F.col(valueCol)).as("mg"),
      F.count(F.col(valueCol)).as("n_total"))
  }

  /** EXACT heavy hitters — every value occurring in at least
    * `minFrac` of the (non-null) rows, with its exact count — in two
    * bounded passes: a [[mgSummary]] candidate pass with
    * k = ⌈1/minFrac⌉ (so k+1 > 1/minFrac and the MG undercount
    * N/(k+1) < minFrac·N ≤ any heavy hitter's count — no heavy hitter
    * can be evicted), then an exact recount of the ≤ k candidates via a
    * broadcast join (the recount exchange carries ≤ k counters per
    * task, not the vocabulary). The exact `groupBy(value).count()`
    * alternative shuffles every distinct value — at web scale that is
    * the vocabulary, billions of rows; this is the classic
    * sketch-then-verify reduction to a fixed-size shuffle. Result is
    * deterministic and plain-SQL-replayable (GROUP BY + HAVING) even
    * though the intermediate candidate set is not.
    */
  def heavyHitters(df: DataFrame, valueCol: String,
      minFrac: Double): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0,
      s"heavyHitters: minFrac must be in (0, 1], got $minFrac")
    val k = math.max(2, math.ceil(1.0 / minFrac).toInt)
    val cand = mgSummary(df, valueCol, k)
      .select(F.explode(F.map_keys(F.col("mg"))).as("token"),
        F.col("n_total"))
    df.join(F.broadcast(cand), F.col(valueCol) === F.col("token"))
      .groupBy(F.col("token"))
      .agg(F.count(F.lit(1)).as("n"),
        F.first(F.col("n_total")).as("n_total"))
      .filter(F.col("n") >=
        F.ceil(F.lit(minFrac) * F.col("n_total")).cast("long"))
      .select(F.col("token"), F.col("n"))
  }

  // ---- HyperLogLog -------------------------------------------------------

  /** HLL register count m = 2^10. The precision is FIXED, not a
    * parameter: the estimator's linear-counting branch is transcendental
    * (m·ln(m/V)), and its cross-engine determinism is proven by
    * ENUMERATION — all 1024 possible values of
    * round(1024·ln(1024/V), 4), V ∈ [1, 1024], were verified bit-equal
    * between the JVM (Math.log + HALF_UP) and DuckDB (ln + round). That
    * proof only exists because V ranges over a finite domain fixed by m;
    * a different precision would need its own enumeration pass.
    */
  val HllM = 1024
  /** 32-bit hash, 10 bucket bits → 22 rho bits; max rho = 22 + 1. */
  private val HllMaxRho = 23
  private val HllScale = 8388608L // 2^23: every 2^-rho term scaled exact

  /** alpha_m · m² · 2²³ for m = 1024 (alpha = 0.7213/(1 + 1.079/m),
    * Flajolet et al., "HyperLogLog: the analysis of a near-optimal
    * cardinality estimation algorithm", AofA 2007, §4). Computed once in
    * double and embedded in the oracle SQL as the shortest-round-trip
    * literal ([[hllNumeratorLiteral]]), so the raw estimate is ONE
    * correctly-rounded division in either engine. The scaled harmonic
    * denominator is an exact integer (≤ 2^33 < 2^53): each register
    * contributes 2^(23-r), each empty bucket 2^23.
    */
  private val HllNumerator =
    0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 * 8388608.0
  /** The same constants as round-trip decimal strings, for oracle SQL. */
  def hllNumeratorLiteral: String = HllNumerator.toString
  private val HllLargeCut = 4294967296.0 / 30.0 // 2^32/30, AofA 2007 fig. 3
  def hllLargeCutLiteral: String = HllLargeCut.toString

  /** md5-flavor HLL hash: the raw 32-bit digest prefix in [0, 2^32)
    * (UNLIKE [[md5Hash32]], no +1 — the bucket/rho split needs the
    * unshifted bit pattern).
    */
  def hllMd5Hash(value: Column): Column =
    Hygiene.md5Prefix32(value.cast("string"))

  /** xxhash64-flavor HLL hash: top 32 bits, in [0, 2^32). */
  def hllXxHash(value: Column): Column =
    F.shiftrightunsigned(F.xxhash64(value.cast("string")), 32)

  /** rho of the 22-bit suffix w: leading zeros + 1 = 23 - bitlength(w),
    * with the all-zero suffix pinned to 23. `bin` renders without
    * leading zeros in Spark AND DuckDB, so `length(bin(w))` IS the bit
    * length in both engines — integer-exact replay.
    */
  private def hllRho(w: Column): Column =
    F.when(w === 0, F.lit(HllMaxRho))
      .otherwise(F.lit(HllMaxRho) - F.length(F.bin(w)))

  /** HLL register sketch per group: `(groupCols..., bucket, r)` — at
    * most m = 1024 rows per group REGARDLESS of cardinality; the
    * map-side partial max collapses every task to ≤ m registers per
    * group before the exchange (vs the exact count-distinct shuffle,
    * which carries every distinct value). Nulls are skipped.
    */
  def hllSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      hash: Column => Column = hllMd5Hash): DataFrame = {
    val h = hash(F.col(valueCol))
    df.filter(F.col(valueCol).isNotNull)
      .select(groupCols.map(F.col)
        :+ F.pmod(h, F.lit(HllM.toLong)).as("bucket")
        :+ hllRho(F.shiftrightunsigned(h, 10)).as("rho"): _*)
      .groupBy((groupCols :+ "bucket").map(F.col): _*)
      .agg(F.max(F.col("rho")).as("r"))
  }

  /** Merge register sketches up to coarser groups: per-bucket MAX — the
    * merged registers are IDENTICAL to one pass over the union (max is
    * associative/commutative/idempotent), so sketch-per-batch + fold
    * never rescans the corpus. The HLL sibling of
    * [[kmvMergeSketches]]'s identity.
    */
  def hllMergeSketches(sketches: DataFrame,
      groupCols: Seq[String]): DataFrame =
    sketches.groupBy((groupCols :+ "bucket").map(F.col): _*)
      .agg(F.max(F.col("r")).as("r"))

  /** The linear-counting column m·ln(m/V) rounded to 4 decimals —
    * factored out so the enumeration spec (SketchSpec) exercises the
    * EXACT expression [[hllEstimate]] evaluates against DuckDB's
    * replay of all 1024 possible V values.
    */
  private[graft] def hllLinearCol(v: Column): Column =
    F.round(F.lit(HllM.toDouble) *
      F.log(F.lit(HllM.toDouble) / v.cast("double")), 4)

  /** Cardinality estimate from a register sketch frame, per the standard
    * three-regime estimator (AofA 2007 fig. 3) made oracle-replayable:
    *  - raw: alpha·m²/Σ2^(-r) — computed as ONE division of the
    *    [[HllNumerator]] literal by the EXACT scaled integer denominator
    *    (empty buckets contribute 2^23), rounded to 4 decimals;
    *  - small range (raw ≤ 2.5m, V empty buckets > 0): linear counting
    *    m·ln(m/V) — deterministic by the [[HllM]] enumeration proof;
    *  - large range (raw > 2^32/30): -2^32·ln(1 - raw/2^32).
    * Branch conditions compare the ROUNDED raw estimate (bit-identical
    * in any engine) against literals, so both engines always take the
    * same branch.
    *
    * Determinism scope: the raw branch is ONE correctly-rounded IEEE
    * division (bit-exact anywhere) and the linear branch is
    * enumeration-proven; the LARGE-RANGE branch's ln has an unbounded
    * input domain, so its replay is 1-ulp best-effort, NOT bit-proven.
    * It only fires above ~1.4·10⁸ distinct values — past the accuracy
    * envelope of a 32-bit-hash HLL anyway (hash collisions dominate);
    * prefer [[kmvDistinct]] or exact counting if cardinalities that
    * large must be measured precisely.
    */
  def hllEstimate(sketch: DataFrame, groupCols: Seq[String]): DataFrame = {
    val sums = Seq(
      F.sum(F.expr(s"shiftleft(CAST(1 AS BIGINT), $HllMaxRho - r)"))
        .as("__s"),
      F.count(F.lit(1)).as("__nb"))
    val g = if (groupCols.isEmpty) sketch.groupBy()
      else sketch.groupBy(groupCols.map(F.col): _*)
    g.agg(sums.head, sums.tail: _*)
      .withColumn("__v", F.lit(HllM.toLong) - F.col("__nb"))
      // empty global sketch: sum is NULL, every bucket empty — coalesce
      // so the estimate degrades to linear counting's m·ln(m/m) = 0.0
      .withColumn("__raw", F.round(F.lit(HllNumerator) /
        (F.coalesce(F.col("__s"), F.lit(0L)) +
          F.col("__v") * F.lit(HllScale)).cast("double"), 4))
      .withColumn("est_distinct",
        F.when(F.col("__raw") <= F.lit(2.5 * HllM) && F.col("__v") > 0,
            hllLinearCol(F.col("__v")))
          .when(F.col("__raw") > F.lit(HllLargeCut),
            F.round(F.lit(-4294967296.0) *
              F.log(F.lit(1.0) - F.col("__raw") / F.lit(4294967296.0)), 4))
          .otherwise(F.col("__raw")))
      .drop("__s", "__nb", "__v", "__raw")
  }

  /** Per-group approximate distinct count via HLL: sketch + estimate.
    * Standard error ≈ 1.04/√m ≈ 3.3% — tighter than KMV at k=64, at a
    * register grid (≤ m rows/group) instead of a k-array; prefer KMV
    * when set algebra (union/Jaccard, [[kmvOverlapColumns]]) is needed,
    * HLL for pure cardinality.
    */
  def hllDistinct(df: DataFrame, groupCols: Seq[String],
      valueCol: String, hash: Column => Column = hllMd5Hash): DataFrame =
    hllEstimate(hllSketch(df, groupCols, valueCol, hash), groupCols)

  /** JVM twin of [[hllMd5Hash]] + the bucket/rho split: fold one value
    * into a 1024-byte register array in place. Byte-identical registers
    * to [[hllSketch]] because both sides read the same md5 prefix
    * ([[Hygiene.md5Prefix32Jvm]]) — the basis of the streaming state
    * face ([[graft.streaming.Streams.runningApproxDistinct]]), whose
    * per-key state is one such array (1 KB/key, bounded forever).
    */
  def hllUpdateJvm(regs: Array[Byte], value: String): Unit = {
    require(regs.length == HllM, s"hllUpdateJvm: want $HllM registers")
    val hv = Hygiene.md5Prefix32Jvm(value)
    val bucket = (hv % HllM).toInt
    val w = hv >>> 10
    val rho = if (w == 0L) HllMaxRho
      else HllMaxRho - (64 - java.lang.Long.numberOfLeadingZeros(w))
    if (rho > regs(bucket)) regs(bucket) = rho.toByte
  }

  /** Per-bucket max of `part` into `acc` in place — the register merge
    * identity, JVM side.
    */
  def hllMergeJvm(acc: Array[Byte], part: Array[Byte]): Unit = {
    require(acc.length == HllM && part.length == HllM,
      s"hllMergeJvm: want $HllM registers")
    var i = 0
    while (i < HllM) {
      if (part(i) > acc(i)) acc(i) = part(i)
      i += 1
    }
  }

  /** JVM twin of [[hllEstimate]] over a register array — the SAME
    * rounding Spark's `round` applies to doubles
    * (`BigDecimal.valueOf` + HALF_UP), so engine face and state face
    * emit bit-equal estimates (pinned in PipelineSpec).
    */
  def hllEstimateJvm(regs: Array[Byte]): Double = {
    require(regs.length == HllM, s"hllEstimateJvm: want $HllM registers")
    var s = 0L
    var occupied = 0
    var i = 0
    while (i < HllM) {
      val r = regs(i)
      if (r > 0) { occupied += 1; s += 1L << (HllMaxRho - r) }
      i += 1
    }
    val v = HllM - occupied
    val raw = round4(HllNumerator / (s + v.toLong * HllScale).toDouble)
    if (raw <= 2.5 * HllM && v > 0)
      round4(HllM.toDouble * math.log(HllM.toDouble / v))
    else if (raw > HllLargeCut)
      round4(-4294967296.0 * math.log(1.0 - raw / 4294967296.0))
    else raw
  }

  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  // ---- persisted HLL register store --------------------------------------

  private val HllFlavors: Map[String, Column => Column] = Map(
    "md5-hll-v1" -> (hllMd5Hash _),
    "xx64-hll-v1" -> (hllXxHash _))

  /** [[buildKmvStore]]'s HLL sibling: per-batch register grids land as
    * pure appends (≤ groups·m rows per batch), `_params` pins
    * (p, hashFlavor, groupCols, valueCol), and serving max-folds
    * registers at read time — exact by the merge identity.
    */
  def buildHllStore(df: DataFrame, groupCols: Seq[String], valueCol: String,
      path: String, flavor: String = "md5-hll-v1"): Unit = {
    require(HllFlavors.contains(flavor),
      s"buildHllStore: unknown value-hash flavor $flavor " +
        s"(have ${HllFlavors.keys.mkString(", ")})")
    val spark = df.sparkSession
    StoreLayout.requireCommitSound(spark, path) // before the corpus write
    hllSketch(df, groupCols, valueCol, HllFlavors(flavor))
      .write.mode("overwrite").parquet(path)
    StoreLayout.initManifest(spark, path)
    import spark.implicits._
    Seq((10, flavor, groupCols.mkString(","), valueCol))
      .toDF("p", "hashFlavor", "groupCols", "valueCol")
      .repartition(1).write.mode("overwrite").parquet(s"$path/_params")
  }

  private def readHllParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (String, Seq[String], String) = {
    val row =
      try StoreLayout.readParams(spark, path)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$path is not an HLL register store (no readable _params " +
              s"sidecar): ${e.getMessage}")
      }
    val flavor = row.getAs[String]("hashFlavor")
    if (!HllFlavors.contains(flavor))
      throw new IllegalArgumentException(
        s"$path was built with value-hash flavor $flavor, which this " +
          "engine does not produce; registers are not foldable — " +
          "rebuild the store")
    val p = row.getAs[Int]("p")
    if (p != 10)
      throw new IllegalArgumentException(
        s"$path was built at precision p=$p; this engine's estimator is " +
          "enumeration-verified at p=10 only — rebuild the store")
    (flavor,
      row.getAs[String]("groupCols").split(',').toSeq.filter(_.nonEmpty),
      row.getAs[String]("valueCol"))
  }

  /** Sketch a new batch under the store's contract; pure append.
    * `autoCompactParts` and `batchId` per [[appendToKmvStore]].
    */
  def appendToHllStore(batch: DataFrame, path: String,
      autoCompactParts: Int = 0, batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val (flavor, groupCols, valueCol) = readHllParams(spark, path)
    StoreLayout.appendRecorded(spark, path, batchId) { scratch =>
      hllSketch(batch, groupCols, valueCol, HllFlavors(flavor))
        .write.parquet(scratch)
    }
    storeAppendFault()
    maybeAutoCompact(spark, path, autoCompactParts) {
      compactHllStore(spark, path)
    }
  }

  /** Serving face: max-fold the stored registers per group and estimate
    * — reads ≤ batches·groups·m register rows, never any corpus.
    * Manifest-pinned ([[StoreLayout.readStore]]).
    */
  def hllDistinctFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[Long] = None): DataFrame = {
    val (_, groupCols, _) = readHllParams(spark, path)
    hllEstimate(
      hllMergeSketches(readStoreMaybeAt(spark, path, version), groupCols),
      groupCols)
  }

  // ---- log2 histogram quantiles ------------------------------------------

  /** DDSketch-flavored deterministic histogram over NON-NEGATIVE integer
    * values (cf. Masson, Rim & Lee, "DDSketch: a fast and fully-mergeable
    * quantile sketch with relative-error guarantees", VLDB 2019 — theirs
    * buckets by ⌈log_γ v⌉, which is transcendental; this one buckets on
    * the BINARY grid so every boundary is integer-exact in any engine):
    * bucket_lo(v) clears all but the top subBits+1 significant bits of v
    * — i.e. rounds v down to a multiple of 2^(bitlen(v)-1-subBits). Any
    * value in [bucket_lo, bucket_lo + grid) shares the bucket, and
    * grid/bucket_lo ≤ 2^-subBits, so quantiles read from bucket lower
    * bounds underestimate by < 2^-subBits RELATIVE error at any scale.
    * The histogram is ≤ 2^subBits buckets per octave per group (≤ ~512
    * rows at the default subBits=3 over the full long range) — and
    * merges by plain count
    * addition ([[histMergeHistograms]]). Values 0 ≤ v ≤ 2^subBits are
    * exact (grid = 1). Negative values raise (the binary grid has no
    * sign); nulls are skipped.
    */
  def log2Histogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
      subBits: Int = 3): DataFrame = {
    require(subBits >= 0 && subBits <= 20,
      s"log2Histogram: subBits must be in [0, 20], got $subBits")
    // the user column is bound ONCE via F.col (arbitrary names are
    // fine) and the grid expression references only the fixed internal
    // alias — no caller-controlled text reaches the SQL parser
    val v = "`__graft_hist_v`"
    val gb = s"greatest(length(bin($v)) - 1 - $subBits, 0)"
    val lo = F.expr(
      s"""CASE WHEN $v < 0 THEN CAST(raise_error(
         |  'log2Histogram: negative value in the bucketed column') AS BIGINT)
         |ELSE shiftleft(shiftright($v, $gb), $gb) END""".stripMargin)
    df.filter(F.col(valueCol).isNotNull)
      .select(groupCols.map(F.col)
        :+ F.col(valueCol).cast("long").as("__graft_hist_v"): _*)
      .select(groupCols.map(F.col) :+ lo.as("bucket_lo"): _*)
      .groupBy((groupCols :+ "bucket_lo").map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"))
  }

  /** Merge histograms built at the SAME subBits: per-bucket count sum —
    * identical to one histogram over the concatenated data (counting is
    * linear), the [[cmsMergeSketches]] shape.
    */
  def histMergeHistograms(hists: DataFrame,
      groupCols: Seq[String]): DataFrame =
    hists.groupBy((groupCols :+ "bucket_lo").map(F.col): _*)
      .agg(F.sum(F.col("n")).as("n"))

  /** Quantile estimates from a histogram frame: for each q, the
    * bucket_lo of the bucket holding the ⌈q·N⌉-th smallest value —
    * `(groupCols..., q, est_value, n_total)`. The true q-quantile lies
    * in [est_value, est_value·(1 + 2^-subBits)). Everything is integer
    * except ⌈q·N⌉, which is one correctly-rounded multiply + ceil of
    * identical doubles in any engine. The cumulative window runs over
    * the HISTOGRAM (≤ a few hundred rows per group), not the data, so
    * the unpartitioned global-group window is not a scale concern.
    */
  def histQuantiles(hist: DataFrame, groupCols: Seq[String],
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"histQuantiles: quantiles must be in (0, 1], got $qs")
    val spark = hist.sparkSession
    import spark.implicits._
    val g = groupCols.map(F.col)
    val wCum =
      if (groupCols.isEmpty) Window.orderBy(F.col("bucket_lo"))
      else Window.partitionBy(g: _*).orderBy(F.col("bucket_lo"))
    val wTot =
      if (groupCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(g: _*)
    val cum = hist.withColumn("__cum", F.sum(F.col("n")).over(wCum))
      .withColumn("__tot", F.sum(F.col("n")).over(wTot))
    val rank = F.ceil(F.col("q") * F.col("__tot")).cast("long")
    cum.join(F.broadcast(qs.toDF("q")),
        F.col("__cum") >= rank && F.col("__cum") - F.col("n") < rank)
      .select(g :+ F.col("q") :+ F.col("bucket_lo").as("est_value")
        :+ F.col("__tot").as("n_total"): _*)
  }

  /** Histogram + quantiles in one call. */
  def logHistQuantiles(df: DataFrame, groupCols: Seq[String],
      valueCol: String, qs: Seq[Double], subBits: Int = 3): DataFrame =
    histQuantiles(log2Histogram(df, groupCols, valueCol, subBits),
      groupCols, qs)

  /** JVM twin of [[log2Histogram]]'s bucket_lo: round v down to a
    * multiple of 2^(bitlen(v)-1-subBits). `bitlen` mirrors
    * `length(bin(v))` — bin(0) renders "0" (length 1), so v=0 keeps
    * bucket 0. The streaming quantile face
    * ([[graft.streaming.Streams.runningQuantiles]]) buckets with this,
    * so its histograms are integer-identical to the column form's.
    */
  def histBucketLoJvm(v: Long, subBits: Int): Long = {
    require(v >= 0, s"log2Histogram: negative value $v")
    val bitlen = math.max(64 - java.lang.Long.numberOfLeadingZeros(v), 1)
    val gb = math.max(bitlen - 1 - subBits, 0)
    (v >> gb) << gb
  }

  /** JVM twin of [[histQuantiles]] over one group's histogram: for each
    * q, `(q, bucket_lo holding the ⌈q·N⌉-th value, N)` — the rank is the
    * same single double multiply + ceil the column form evaluates, so
    * the faces emit identical rows.
    */
  def histQuantilesJvm(hist: Map[Long, Long],
      qs: Seq[Double]): Seq[(Double, Long, Long)] = {
    require(hist.nonEmpty, "histQuantilesJvm: empty histogram")
    val buckets = hist.toSeq.sortBy(_._1)
    val tot = buckets.iterator.map(_._2).sum
    qs.map { q =>
      val rank = math.ceil(q * tot).toLong
      var cum = 0L
      var ans = buckets.head._1
      val it = buckets.iterator
      var found = false
      while (it.hasNext && !found) {
        val (lo, n) = it.next()
        cum += n
        if (cum >= rank && cum - n < rank) { ans = lo; found = true }
      }
      (q, ans, tot)
    }
  }

  // ---- persisted histogram store -------------------------------------------

  /** [[buildKmvStore]]'s histogram sibling: per-batch binary-grid
    * histograms land as pure appends (≤ 2^subBits buckets per octave per
    * group per batch), `_params` pins (subBits, groupCols, valueCol),
    * and serving sums counts per bucket at read time — exact by
    * linearity ([[histMergeHistograms]]), so quantiles over any
    * accumulated range never rescan a batch. subBits is pinned because
    * grids at different subBits do NOT nest onto each other's buckets.
    */
  def buildHistStore(df: DataFrame, groupCols: Seq[String],
      valueCol: String, path: String, subBits: Int = 3): Unit = {
    val spark = df.sparkSession
    StoreLayout.requireCommitSound(spark, path) // before the corpus write
    log2Histogram(df, groupCols, valueCol, subBits)
      .write.mode("overwrite").parquet(path)
    StoreLayout.initManifest(spark, path)
    import spark.implicits._
    Seq((subBits, groupCols.mkString(","), valueCol))
      .toDF("subBits", "groupCols", "valueCol")
      .repartition(1).write.mode("overwrite").parquet(s"$path/_params")
  }

  private def readHistParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Seq[String], String) = {
    val row =
      try StoreLayout.readParams(spark, path)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$path is not a histogram store (no readable _params " +
              s"sidecar): ${e.getMessage}")
      }
    (row.getAs[Int]("subBits"),
      row.getAs[String]("groupCols").split(',').toSeq.filter(_.nonEmpty),
      row.getAs[String]("valueCol"))
  }

  /** Histogram a new batch under the store's contract; pure append.
    * `autoCompactParts` and `batchId` per [[appendToKmvStore]].
    */
  def appendToHistStore(batch: DataFrame, path: String,
      autoCompactParts: Int = 0, batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val (subBits, groupCols, valueCol) = readHistParams(spark, path)
    StoreLayout.appendRecorded(spark, path, batchId) { scratch =>
      log2Histogram(batch, groupCols, valueCol, subBits)
        .write.parquet(scratch)
    }
    storeAppendFault()
    maybeAutoCompact(spark, path, autoCompactParts) {
      compactHistStore(spark, path)
    }
  }

  /** Retract a batch from a histogram store BY LINEARITY — the
    * [[retractFromCmsStore]] twin (bucket counts subtract exactly):
    * histograms `batch` under the store's contract, negates every
    * bucket count, appends. The fold's per-bucket sum cancels the
    * original contribution exactly, folded or not. Same caller
    * contract: the batch must be the rows actually appended, and
    * `batchId` must be fresh (double-applied retractions subtract
    * twice — pass an id for exactly-once retries).
    */
  def retractFromHistStore(batch: DataFrame, path: String,
      autoCompactParts: Int = 0, batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val (subBits, groupCols, valueCol) = readHistParams(spark, path)
    StoreLayout.appendRecorded(spark, path, batchId) { scratch =>
      log2Histogram(batch, groupCols, valueCol, subBits)
        .withColumn("n", -F.col("n"))
        .write.parquet(scratch)
    }
    storeAppendFault()
    maybeAutoCompact(spark, path, autoCompactParts) {
      compactHistStore(spark, path)
    }
  }

  /** Serving face: sum-fold the stored per-batch histograms and read
    * quantiles — touches ≤ batches·buckets histogram rows, never a
    * corpus. Manifest-pinned ([[StoreLayout.readStore]]).
    */
  def histQuantilesFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, qs: Seq[Double],
      version: Option[Long] = None): DataFrame = {
    val (_, groupCols, _) = readHistParams(spark, path)
    histQuantiles(
      histMergeHistograms(readStoreMaybeAt(spark, path, version),
        groupCols),
      groupCols, qs)
  }

  // ---- store compaction ---------------------------------------------------

  /** Replace a store directory's data files with `fold` of their union —
    * the read-amplification answer for every append-only store here:
    * serving folds batches × groups rows at read time, so after
    * thousands of appended batches a store pays thousands of part reads
    * for an answer its merge identity can hold in ONE part. Folding
    * parts into one part changes NOTHING the serving face computes
    * (k-min / cell-sum / register-max / count-sum are exactly the folds
    * serving already applies — the identities each `xxxMergeSketches`
    * documents), so compaction is a pure read-path optimization, safe to
    * run at any cadence. `_params` (and any other `_`-prefixed sidecar)
    * is never touched — stamp refusals survive compaction.
    *
    * Readers are ISOLATED from the swap by the [[StoreLayout]] manifest:
    * serving resolves the store's current `_manifest-*` version and
    * reads exactly its files, and this method makes the folded part
    * visible with ONE atomic manifest commit — before it, readers serve
    * the old parts (still on disk); after it, the folded part. The old
    * parts become superseded garbage swept by a LATER compaction only
    * once they have been superseded for at least [[SuspectGraceMs]] of
    * wall clock (deferred, AGE-GATED GC), so a reader's resolved
    * snapshot survives any number of rapid valve-triggered compactions
    * for at least the grace window — the snapshot-vs-vacuum trade every
    * transactional table format makes, bounded here by a retention
    * clock, not by compaction cadence. A legacy manifest-less store is
    * bootstrapped onto a manifest by its first compaction.
    *
    * Crash safety on a plain filesystem, single concurrent COMPACTOR
    * assumed — concurrent APPENDS are fully safe: they write through
    * their own scratch dirs (no shared committer staging), their
    * manifest commits retry on version collisions, the compactor's
    * commit CARRIES FORWARD any batch appended while the fold ran, and
    * its GC gives unreferenced files one full cycle of suspect grace
    * before sweeping (an in-flight append's just-renamed parts are
    * indistinguishable from a crashed one's without a clock):
    *  1. GC (three evidence classes — see the step-1 comment in the
    *     body): superseded parts once superseded longer than the grace
    *     window, this attempt's own crash debris when `_compact_tmp`
    *     marks one, unreferenced-by-any-manifest files once recorded in
    *     `_gc_suspects` longer than the grace AND mtime-old;
    *  2. fold the current manifest's files → `path/_compact_tmp/data`
    *     (underscore prefix: invisible to readers);
    *  3. rename the folded parts into the store under version-stamped
    *     names (`compact-v%08d-p%05d.parquet`) — not yet referenced by
    *     any manifest, so still invisible; a FAILED rename (quota,
    *     collision, FS quirk — HDFS reports it as `false`, not an
    *     exception) THROWS with tmp intact, before anything was
    *     destroyed, and the next call resumes from step 1;
    *  4. commit the next manifest naming the folded parts PLUS any
    *     batches appended since the fold began — the single commit
    *     point for readers and crashes alike (retried past racing
    *     appends' commits).
    * A crash at any point loses nothing and double-counts nothing: every
    * pre-commit artifact is unreferenced (swept later), and the old
    * parts are never touched until a LATER compaction's step 1.
    */
  /** Sweep-only maintenance — the lakehouse VACUUM verb for a flat
    * store: run the compactor's full GC (superseded-past-grace files,
    * crashed-attempt debris, unreferenced-past-grace orphans,
    * marker/bloom ledger upkeep) and the manifest pruning WITHOUT
    * folding anything. This is the missing half of the complete-erasure
    * story: after a delete face the replaced files survive the GC grace
    * by design, and physically removing them previously meant "run
    * another compaction after the window" — a full fold paid only to
    * reach its embedded sweep. Vacuum is the sweep alone: file deletes
    * plus one ledger write, zero Spark jobs, row content untouched.
    * Same single-compactor contract as compaction, and the same
    * VACUUM-vs-time-travel trade: versions superseded for at least
    * [[SuspectGraceMs]] stop being physically readable.
    */
  def vacuumStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, p) = StoreLayout.fsFor(spark, path)
    // fail fast BEFORE any ledger mutation: on a typo'd path this would
    // fabricate a lock + empty manifest skeleton, and on a hive-layout
    // ANN index the flat raw listing is EMPTY, so the sweep would
    // rewrite _gc_suspects without the recorded superseded list files —
    // resetting their erasure clocks (the same hazard
    // rewriteIndexScope's _centroids guard documents, mirrored)
    require(fs.exists(p),
      s"$path does not exist — vacuumStore maintains an existing store")
    require(!fs.exists(new Path(p, "_centroids")),
      s"$path is a persisted ANN index (_centroids sidecar); use " +
        "vacuumIvfIndex — the flat sweep cannot see hive-partitioned files")
    StoreLayout.acquireWriterLease(fs, p)
    if (StoreLayout.currentManifest(fs, p).isEmpty)
      StoreLayout.initManifest(spark, path)
    val (curVer, before) = StoreLayout.currentManifest(fs, p).get
    val tmp = new Path(p, "_compact_tmp")
    StoreLayout.gcSweep(fs, p, curVer, before.toSet,
      StoreLayout.rawDataFiles(fs, p), fs.exists(tmp),
      f"compact-v${curVer + 1}%08d-", SuspectGraceMs)
    if (fs.exists(tmp)) fs.delete(tmp, true) // a crashed attempt's marker
    StoreLayout.pruneManifests(fs, p, keep = 8)
  }

  // test seam (r15 crash-window style): "crash" after the drop's
  // manifest commit but before its supersession record + completion
  // marker land — the widest window the drop protocol has
  @volatile private[graft] var dropFault: () => Unit = () => ()

  /** Batch retraction — the RTBF verb for the flat sketch stores
    * (round-17 verdict #2: every other persisted artifact family had a
    * delete face; KMV/CMS/HLL/hist stores had none). Removes appended
    * batch `batchId`'s contribution by EXCLUDING its part files from
    * the manifest and refolding nothing: serving folds exactly the
    * surviving parts by the store's own merge identity (k-min union /
    * cell sum / register max / count sum), so after the one manifest
    * commit the store answers as if the batch had never been appended.
    * Works identically for all four store kinds because it never reads
    * a sketch row — it is manifest surgery. Returns the number of part
    * files dropped (0 for an idempotent retry of a completed drop).
    *
    * The retraction unit is the APPENDED BATCH: only appends that
    * passed a `batchId` are targetable (their part names are
    * deterministic in the id); the build's own parts and compacted
    * parts have no id. A batch already FOLDED by a compaction cannot
    * be excluded — its rows are merged into `compact-v*` parts — and
    * the call throws with the remediation: for the linear stores
    * (CMS/hist) retract by linearity ([[retractFromCmsStore]] /
    * [[retractFromHistStore]]) if the batch's source rows are still
    * available; for KMV/HLL (non-subtractable folds: k-min union and
    * register max discard per-batch evidence) rebuild without the
    * batch. Run compaction on a cadence SLOWER than the erasure-request
    * SLA, or route erasable data through the linear stores.
    *
    * PHYSICAL erasure follows the standard recipe: the dropped files
    * are recorded superseded at the commit (grace clock starts now), so
    * delete + ONE post-grace [[vacuumStore]] removes the bytes — same
    * contract as the band/IVF index deletes. The dropped id stays
    * PERMANENTLY CONSUMED ([[StoreLayout.appendRecorded]]'s contract is
    * unchanged): a late append-retry of the id no-ops on its marker —
    * it does not resurrect the batch.
    *
    * Crash windows: before the manifest commit — nothing changed,
    * retry re-drops. After the commit but before the completion marker
    * (`_drops/<id>`) — the batch is already excluded and its files'
    * supersession is re-derivable (they re-enter the ledger via the
    * next sweep's class-(a) path, one cycle slower), but a RETRY in
    * this narrow window cannot tell "dropped" from "folded" and throws
    * the folded-or-dropped error rather than guessing — loud, never
    * silent. A completed drop's retries return 0 forever (drop markers
    * are never pruned — [[StoreLayout.writeDropMarker]]).
    *
    * Concurrency: safe against racing APPENDS (the shrink commit
    * re-resolves and retries on version collisions, carrying their
    * names). A compaction racing the drop folds the batch mid-call;
    * the re-resolve then sees the parts gone and throws the folded
    * error — run drops and compactions from one maintenance writer
    * (the single-compactor contract this family already has).
    */
  def dropBatchFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: String): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, p) = StoreLayout.fsFor(spark, path)
    require(fs.exists(p),
      s"$path does not exist — dropBatchFromStore maintains an existing store")
    require(!fs.exists(new Path(p, "_centroids")),
      s"$path is a persisted ANN index (_centroids sidecar); use " +
        "deleteFromIvfIndex — the flat manifest surgery cannot see " +
        "hive-partitioned files")
    StoreLayout.acquireWriterLease(fs, p)
    if (StoreLayout.currentManifest(fs, p).isEmpty)
      StoreLayout.initManifest(spark, path)
    var dropped: Seq[String] = Seq.empty
    var committed = false
    var attempts = 0
    while (!committed) {
      attempts += 1
      if (attempts > 50)
        throw new java.io.IOException(
          s"dropBatchFromStore: could not commit a manifest for $p after " +
            "50 attempts (manifest versions kept advancing)")
      val (ver, cur) = StoreLayout.currentManifest(fs, p).get
      val (hit, keep) = cur.partition(StoreLayout.isBatchFile(_, batchId))
      if (hit.isEmpty) {
        // triage by the idempotence trails, loud in every ambiguous case
        if (StoreLayout.hasDropMarker(fs, p, batchId))
          return 0 // completed drop; retry is a no-op
        if (StoreLayout.hasBatchMarker(fs, p, batchId) ||
            StoreLayout.batchIdPruned(fs, p, batchId))
          throw new IllegalStateException(
            s"batch '$batchId' at $path was committed but its parts are " +
              "no longer individually present in the current manifest — " +
              "a compaction folded it into merged parts (or a prior drop " +
              "crashed between its commit and its completion marker; " +
              "check whether the store still serves the batch's rows). " +
              "Folded KMV/HLL batches are not subtractable (k-min union " +
              "/ register max discard per-batch evidence) — rebuild the " +
              "store without the batch. The linear stores can retract by " +
              "linearity instead: retractFromCmsStore / " +
              "retractFromHistStore with the batch's source rows.")
        throw new IllegalArgumentException(
          s"no evidence batch '$batchId' was ever appended to $path " +
            "(no live parts, no committed-batch marker, not in the " +
            "pruned-marker ledger) — only appends that passed a batchId " +
            "are targetable")
      }
      dropped = hit
      committed = StoreLayout.tryCommitManifest(fs, p, ver + 1, keep)
    }
    dropFault()
    // supersession clock starts at the drop commit: one post-grace
    // vacuum physically erases (same recipe as the index deletes)
    StoreLayout.recordSuperseded(fs, p, dropped)
    StoreLayout.writeDropMarker(fs, p, batchId)
    dropped.size
  }

  private[graft] def compactReplace(
      spark: org.apache.spark.sql.SparkSession, path: String,
      numFiles: Int = 1)(fold: DataFrame => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, p) = StoreLayout.fsFor(spark, path)
    StoreLayout.requireCommitSound(spark, path) // before the fold write
    // step 1: garbage collection — the vacuum face IS the compactor's
    // GC prelude (lease, legacy manifest bootstrap, the
    // three-evidence-class sweep shared with the ANN index compaction,
    // crashed-attempt cleanup, manifest pruning): one rule set, so a
    // grace/ledger fix can never land in only one of the two paths
    vacuumStore(spark, path)
    val tmp = new Path(p, "_compact_tmp")
    val (curVer, before) = StoreLayout.currentManifest(fs, p).get
    val nextVer = curVer + 1
    val nextPrefix = f"compact-v$nextVer%08d-"
    val curSet = before.toSet
    if (before.isEmpty) return
    // step 2: fold exactly the manifest's files
    fold(StoreLayout.readFiles(spark, fs, p, before))
      .coalesce(math.max(1, numFiles))
      .write.parquet(new Path(tmp, "data").toString)
    // step 3: move the folded parts in (invisible until the commit)
    val parts = fs.listStatus(new Path(tmp, "data")).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName.toString)
    val newNames = parts.indices.map(i => f"${nextPrefix}p$i%05d.parquet")
    parts.zip(newNames).foreach { case (src, name) =>
      val dst = new Path(p, name)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(
          s"compactReplace: rename $src -> $dst failed (returned false); " +
            "nothing was destroyed — the store still serves the current " +
            "manifest, and the next compaction call sweeps this attempt's " +
            "debris and retries the swap")
    }
    // before the commit erases their names from the manifest, make sure
    // every append batch being folded carries its committed-batch marker
    // (a batch whose manifest commit landed but whose marker-create
    // crashed would otherwise lose both idempotence trails here, and a
    // late same-batchId retry would double-append it)
    StoreLayout.markBatchesIn(fs, p, before)
    // re-acquire before committing: a fold outlasting the lease window
    // may have lost the lease to a takeover — fail loudly here, with the
    // old manifest still serving, rather than silently colliding with
    // the taker's commits (see the acquireWriterLease scaladoc)
    StoreLayout.acquireWriterLease(fs, p)
    // step 4: COMMIT — one atomic manifest create flips readers over,
    // carrying forward any batch appended while the fold ran (see
    // StoreLayout.commitCarryForward)
    StoreLayout.commitCarryForward(fs, p, newNames, curSet,
      "compactReplace")
    // stamp the replaced files' supersession time NOW: the grace clock
    // runs from this commit, so ONE post-grace vacuum erases them
    // (recording only at the next sweep would add a whole extra
    // maintenance cycle before physical erasure)
    StoreLayout.recordSuperseded(fs, p, before)
    fs.delete(tmp, true)
    // bound manifest-file growth (one per append): keep the newest 8;
    // refs that existed only in pruned manifests fall back to the
    // suspect grace path — sound, one cycle slower
    StoreLayout.pruneManifests(fs, p, keep = 8)
  }

  /** Files the store would serve right now (manifest-pinned when the
    * store has one) — the observability face of [[StoreLayout]], used
    * by tests and the read-amplification probe.
    */
  private[graft] def servedFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val (fs, p) = StoreLayout.fsFor(spark, path)
    StoreLayout.servingFiles(fs, p)
  }

  /** Minimum age before a GC suspect may be swept — generous on purpose:
    * any single sketch-store append write outlasting this is
    * pathological, and a crashed append's debris waiting an extra hour
    * costs only disk.
    */
  private[graft] val SuspectGraceMs: Long = 60L * 60 * 1000

  // fixed stripes (see StoreLayout.CommitLockStripes): bounded memory;
  // a cross-store false "busy" only delays a compaction the threshold
  // re-fires anyway
  private val AutoCompactStripes =
    Array.fill(64)(new java.util.concurrent.atomic.AtomicBoolean(false))

  /** The autoCompactParts trigger shared by every append face: compact
    * when the store serves more than `threshold` parts — UNLESS another
    * thread in this JVM is already compacting (skip: compaction is
    * single-compactor; concurrent appends with the valve on would
    * otherwise start two, and the threshold simply re-fires on a later
    * append). Cross-JVM single-compactor remains the caller's contract,
    * as for any direct compactXxxStore call. A compaction FAILURE is
    * logged and swallowed: by this point the append itself has durably
    * committed, and letting the advisory compaction's exception escape
    * would make the caller retry — double-counting the batch in the
    * linear stores.
    */
  private[graft] def maybeAutoCompact(
      spark: org.apache.spark.sql.SparkSession, path: String,
      threshold: Int)(compact: => Unit): Unit =
    autoCompactIf(path,
      threshold > 0 && servedFiles(spark, path).size > threshold)(compact)

  /** The guard half of the valve, shared with the ANN indexes (whose
    * trigger condition differs — excess over the one-file-per-list
    * floor): run `compact` when `cond` holds, UNLESS another thread in
    * this JVM is already compacting this path (skip: compaction is
    * single-compactor; the condition re-fires on a later append).
    * A failure is logged and swallowed — the append that triggered the
    * valve has already durably committed, and an escaping exception
    * would make the caller retry, double-counting the batch in the
    * linear stores.
    */
  private[graft] def autoCompactIf(path: String, cond: => Boolean)(
      compact: => Unit): Unit =
    if (cond) {
      val flag =
        AutoCompactStripes(math.floorMod(path.hashCode, 64))
      if (flag.compareAndSet(false, true))
        try compact
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"auto-compaction of $path failed (append already " +
                s"committed; threshold re-fires on a later append): $e")
        }
        finally flag.set(false)
    }

  /** Fold a KMV store's appended part sketches into one part per the
    * k-min merge identity ([[kmvMergeSketches]]) — serving reads one
    * part instead of one per appended batch, estimates unchanged.
    */
  def compactKmvStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (k, _, groupCols, _) = readKmvParams(spark, path)
    compactReplace(spark, path)(kmvMergeSketches(_, groupCols, k))
  }

  /** Fold a CMS store's per-batch grids into one grid (cell-wise sum —
    * CMS linearity, [[cmsMergeSketches]]).
    */
  def compactCmsStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    readCmsParams(spark, path) // fail fast on a non-store / foreign store
    compactReplace(spark, path)(cmsMergeSketches)
  }

  /** Fold an HLL store's register grids into one (per-bucket max,
    * [[hllMergeSketches]]).
    */
  def compactHllStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (_, groupCols, _) = readHllParams(spark, path)
    compactReplace(spark, path)(hllMergeSketches(_, groupCols))
  }

  /** Fold a histogram store's per-batch histograms into one (per-bucket
    * count sum, [[histMergeHistograms]]).
    */
  def compactHistStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (_, groupCols, _) = readHistParams(spark, path)
    compactReplace(spark, path)(histMergeHistograms(_, groupCols))
  }
}
