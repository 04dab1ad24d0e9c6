package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Composed end-to-end pipelines — the shapes a training-data curation job
  * actually runs, built entirely from the operator modules so the whole
  * chain stays one lazy Catalyst plan until the sink.
  */
object Pipelines {

  /** Corpus cleaning: quality gate → exact dedup → near-dup dedup.
    *
    * One scan feeds the quality projection; the exact pass shuffles
    * 32-byte hashes; the near-dup pass runs banded LSH over the survivors
    * only. Returns the surviving rows of `df`.
    *
    * The gate tokenizes ONCE per row: the token array is materialized
    * behind a [[graft.plans.Hygiene.attributeBarrier]] (a Generate is a
    * predicate-pushdown barrier — a plain projection would be substituted
    * back into the pushed filter, re-running the tokenizer per predicate
    * per row in every scan stage of the composed plan; plan-pinned).
    */
  def cleanCorpus(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 10, minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0, nearDupThreshold: Double = 0.8): DataFrame = {
    require(!df.columns.contains("__ts"),
      "cleanCorpus uses __ts as a scratch column; rename the input's __ts")
    val t = F.col(textCol)
    val ts = F.col("__ts")
    val quality = df
      .select(df.columns.map(F.col) :+
        graft.plans.Hygiene.attributeBarrier(TextAnalysis.tokens(t)).as("__ts"): _*)
      .filter(TextAnalysis.tokenCountOf(ts) >= minTokens &&
        TextAnalysis.meanWordLenOf(ts).between(minMeanWordLen, maxMeanWordLen))
      .drop("__ts")
    val exact = Dedup.exact(quality, textCol, idCol)
    Dedup.minhashDedup(exact, idCol, textCol, threshold = nearDupThreshold)
  }

  /** The full training-data preparation chain: quality gate → exact dedup
    * → near-dup dedup → PII redaction → token-window chunking. Still ONE
    * lazy Catalyst plan end-to-end — redaction is a projection over the
    * survivors, chunking explodes token windows with no shuffle — so the
    * composite inherits every per-stage scale property (AQE stage reuse
    * across the dedup subtrees, banded LSH, bounded chunk arithmetic).
    * Output: (idCol, chunk_idx, chunk_text, n_tokens), training-ready.
    */
  def curateForTraining(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 100, overlap: Int = 50): DataFrame = {
    val clean = cleanCorpus(df, idCol, textCol)
    val redacted = clean.withColumn(textCol,
      TextAnalysis.redactPII(F.col(textCol)))
    TextAnalysis.chunkDocuments(redacted, idCol, textCol, chunkSize, overlap)
  }

  /** The LAST mile: curate → assign deterministic train/val/test splits →
    * pack into token-budget sequences within each split → write
    * split-partitioned parquet, and return the frame read back from the
    * written layout.
    *
    * Splits are assigned at DOCUMENT granularity ([[Selection.hashSplit]]
    * on the doc id) BEFORE packing, and packs are confined to one split
    * (`split` rides in [[Packing.packChunks]]' window partition key).
    * Both levels matter: adjacent chunks of one document share `overlap`
    * tokens verbatim, so any split drawn below document granularity
    * (the former pack-level draw included) routinely put the SAME token
    * span on both sides of a train/val boundary — contaminated held-out
    * loss; and packing within the split means no pack straddles a
    * boundary either. `pack_id` is unique within a split — key on
    * (split, pack_id). The write is directory-per-split
    * ([[graft.sources.Layout.writePartitioned]]): a reader filtering
    * `split = 'train'` scans only that directory (PartitionFilters —
    * plan-pinned in the test), which is the access pattern every epoch
    * runs. The whole chain before the sink remains ONE lazy plan;
    * `nBuckets` sizes the packing windows ([[Packing.packChunks]]'s
    * single-task-per-bucket contract). Documents with a null id are
    * dropped before chunking: a null id has no split (see
    * [[Selection.hashSplit]]), so it could only land in a null split
    * partition that no split filter reads.
    */
  def materializeTrainingSet(df: DataFrame, idCol: String, textCol: String,
      path: String, budget: Int = 2048, nBuckets: Int = 256,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
      chunkSize: Int = 100, overlap: Int = 50): DataFrame = {
    val chunks = curateForTraining(df.filter(F.col(idCol).isNotNull), idCol,
      textCol, chunkSize, overlap)
    val split = Selection.hashSplit(chunks, idCol, splits)
    val packed = Packing.packChunks(split, idCol, "chunk_idx", "n_tokens",
      budget, nBuckets, extraPartitionCols = Seq("split"))
    graft.sources.Layout.writePartitioned(packed, path, Seq("split"))
    df.sparkSession.read.parquet(path)
  }
}
