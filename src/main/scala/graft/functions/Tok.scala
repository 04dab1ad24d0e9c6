package graft.functions

/** THE lowercase-alnum tokenizer definition shared by every text kernel
  * (shingles, SimHash votes, bloom grams, BPE words, repetition stats) and
  * mirrored by `TextAnalysis.tokens` / the DuckDB oracle fragment: maximal
  * runs of anything that is not a Unicode letter or digit split the text.
  * ONE compiled Pattern so a flavor and its probes cannot desynchronize —
  * an edit here changes every kernel together, which is the only safe way
  * to change it (signatures, band keys, bloom positions and BPE counts all
  * assume the same token stream).
  */
object Tok {
  val PatternStr = "[^\\p{L}\\p{N}]+"
  val Pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(PatternStr)

  /** Version stamp of the (tokenizer, token-hash) family every text kernel
    * shares — "fnv1a64" names the per-token FNV-1a 64 hash
    * (`ShingleHash.h64`), "v2" counts family changes (v1 was the poly-31
    * chain). Persisted artifacts whose match keys derive from this family
    * (band indexes, band blooms, shingle blooms, NB models) stamp this
    * string at build time and loaders fail fast on mismatch: without the
    * stamp, probing a pre-change artifact passes every kind/params check
    * and silently matches NOTHING — every near-dup kept, zero errors. Bump
    * this whenever `h64`, the n-gram mix, or [[PatternStr]] changes, and
    * rebuild persisted artifacts.
    */
  val HashFamily = "fnv1a64-v2"

  /** Fail fast unless `row` (an artifact's parameter row) carries the
    * current [[HashFamily]]. A missing column means a pre-stamping
    * artifact whose hash family is UNKNOWABLE to the engine — rebuild,
    * or, when the operator knows the artifact was built by an engine
    * whose token hashes already were the current family (the
    * stamping-feature rollout case: the stamp landed after the hash
    * change, so immediately-prior artifacts are compatible but
    * unstamped), restamp it once with [[restampArtifact]].
    */
  def checkHashFamily(row: org.apache.spark.sql.Row, path: String): Unit = {
    if (row.schema == null || !row.schema.fieldNames.contains("hashFamily"))
      throw new IllegalArgumentException(
        s"$path predates hash-family stamping (expected hashFamily=" +
          s"$HashFamily); its token hashes are unknowable — rebuild the " +
          "artifact with the current engine, or (if it was built by an " +
          "engine already on this hash family) restamp it once with " +
          "Tok.restampArtifact")
    val got = row.getAs[String]("hashFamily")
    if (got != HashFamily)
      throw new IllegalArgumentException(
        s"$path was built with hash family $got but this engine uses " +
          s"$HashFamily; band/bloom/feature keys are incompatible — " +
          "rebuild the artifact")
  }

  /** One-time migration for an artifact that predates hash-family
    * stamping but whose token hashes the OPERATOR knows are the current
    * family — adds `hashFamily = ` [[HashFamily]] to the `_params`
    * sidecar in place, without the full rebuild `checkHashFamily` would
    * otherwise force (round-11 ADVICE: the stamp landed after the hash
    * change, so every immediately-prior artifact is a compatible false
    * positive). Idempotent on already-current artifacts. REFUSES an
    * artifact stamped with a DIFFERENT family: its keys really are
    * incompatible and no restamp can fix that — only a rebuild.
    */
  def restampArtifact(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.spark.sql.{functions => F}
    val params = graft.operators.StoreLayout.readSidecar(spark, path, "_params")
    if (params.columns.contains("hashFamily")) {
      val got = params.head().getAs[String]("hashFamily")
      if (got == HashFamily) return // already current
      throw new IllegalArgumentException(
        s"$path is stamped with hash family $got — its keys are truly " +
          s"incompatible with $HashFamily; restamping would corrupt " +
          "matching silently. Rebuild the artifact")
    }
    val stamped = params.withColumn("hashFamily", F.lit(HashFamily))
    // materialize before overwriting the path being read (1-row sidecar)
    val rows = stamped.collect().toSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), stamped.schema)
      .write.mode("overwrite").parquet(s"$path/_params")
  }
}
