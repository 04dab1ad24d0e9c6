package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Selection, Similarity, Sketches}
import graft.streaming.Streams

/** store_lifecycle: an HLL store, a histogram store, a MinHash band index
  * and an IVF-PQ index, with writes interleaved with reads. Every round
  * ingests the same stream files into the HLL store (idempotent for its
  * max-fold), appends a batch to both stores, drops it from the HLL store
  * and retracts it from the histogram store, reads the current and a
  * pinned older version, compacts and vacuums, gates new docs against the
  * band index, probes the ANN index and scores the new docs with the NB
  * quality classifier. Each round starts from the same logical state and
  * returns the same results.
  */
object StoreLife extends Workload {
  private val StoredInputs = Seq("events_base.parquet", "stream",
    "index_docs.parquet", "vectors.parquet")

  override def storeRoot(ctx: Ctx): Option[String] = Some(s"${ctx.dir}/stores")

  override def storedInputBytes(ctx: Ctx): Long =
    StoredInputs.map(f => Bench.storeFiles(Some(s"${ctx.in}/$f")).values.sum).sum

  def setup(ctx: Ctx): Seq[Op] = {
    val spark = ctx.spark
    val load = (f: String) => spark.read.parquet(s"${ctx.in}/$f")
    val base = load("events_base.parquet")
    val batch = load("events_batch.parquet")
    val indexDocs = load("index_docs.parquet")
    val gateDocs = load("gate_docs.parquet")
    val vectors = load("vectors.parquet")
    val queries = load("queries.parquet")
    val labeled = load("labeled_docs.parquet")
    val (train, label, score) =
      (col("split") === "train", col("source") === "wiki", col("split") === "score")
    val streamDir = s"${ctx.in}/stream"
    val stream = spark.read.parquet(streamDir)
    val root = storeRoot(ctx).get
    val Seq(hll, hist, band, ivf) = Seq("hll", "hist", "band", "ivf").map(s => s"$root/$s")
    val reference = s"${ctx.dir}/reference/hll"   // outside the measured stores

    def streamIngest(tag: String): Seq[Seq[Any]] = {
      val ckpt = s"${ctx.dir}/ckpt/$tag"
      val src = spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir)
      val q = Streams.ingestToHllStoreStream(src, hll, ckpt)
      try q.processAllAvailable() finally q.stop()
      val commits = new File(s"$ckpt/commits").listFiles
        .count(f => !f.getName.startsWith("."))
      Seq(Seq(commits.toLong))
    }

    Sketches.buildHllStore(base, Seq("kind"), "user", hll)
    Sketches.buildHistStore(base, Seq("kind"), "size", hist, subBits = 3)
    Dedup.saveBandIndex(indexDocs, "doc_id", "text", band)
    ctx.timed("ann.build_s") {
      Similarity.buildIvfPqIndex(vectors, "vec_id", "vec", ivf, dim = 32,
        nCentroids = 16, m = 8, ksub = 16)
    }
    def rows(df: DataFrame) = df.collect().toSeq.map(Bench.rowValues)
    def readHll(path: String, v: Option[Long] = None) =
      Sketches.hllDistinctFromStore(spark, path, v)
    def readHist() = Sketches.histQuantilesFromStore(spark, hist, Seq(0.5, 0.9, 0.99))

    // once per run: a version that held the batch, read before the batch
    // was dropped (the reference for the time-travel read); a store built
    // from the base and stream rows alone (what the HLL store must read
    // after the round drops its batch); the histogram before any batch; the
    // exact top-k the ANN probe is scored against; and the two-frame NB
    // score the same-corpus form must equal
    Sketches.appendToHllStore(batch, hll, batchId = Some("pinned"))
    val pinned = Sketches.storeVersions(spark, hll).max
    ctx.record("hll_pinned", rows(readHll(hll)))
    Sketches.dropBatchFromStore(spark, hll, "pinned")
    Sketches.buildHllStore(base.unionByName(stream), Seq("kind"), "user", reference)
    ctx.record("hll_without_batch", rows(readHll(reference)))
    ctx.record("initial_hist", rows(readHist()))
    ctx.record("exact_topk",
      rows(Similarity.bruteForceTopK(queries, vectors, "vec_id", "vec", k = 10)))
    ctx.record("nb_two_frame",
      rows(Selection.nbClassifierScore(labeled.filter(train).withColumn("label", label),
        labeled.filter(score), "doc_id", "text", "label")))

    def write(name: String)(f: String => Unit) = Op(name, "store.write")(f)
    def read(name: String)(f: => Any) = Op(name, "store.read")(_ => f)
    Seq(
      Op("stream_ingest", "streaming")(t => streamIngest(t)),
      write("append_hll")(t => Sketches.appendToHllStore(batch, hll, batchId = Some(s"b-$t"))),
      write("append_hist")(t => Sketches.appendToHistStore(batch, hist, batchId = Some(s"b-$t"))),
      write("drop_hll") { t => Sketches.dropBatchFromStore(spark, hll, s"b-$t"); () },
      write("retract_hist")(t =>
        Sketches.retractFromHistStore(batch, hist, batchId = Some(s"r-$t"))),
      read("read_hll")(readHll(hll)),
      read("read_hll_at")(readHll(hll, Some(pinned))),
      read("read_hist")(readHist()),
      write("maintain") { _ =>
        Sketches.compactHllStore(spark, hll)
        Sketches.compactHistStore(spark, hist)
        Seq(hll, hist).foreach(Sketches.vacuumStore(spark, _))
      },
      read("gate")(Dedup.dedupAgainstIndex(gateDocs, "doc_id", "text", band)
        .select("doc_id")),
      Op("ivfpq_probe", "ann")(_ =>
        Similarity.probeIvfPqIndex(spark, ivf, queries, "vec_id", "vec", k = 10,
          nProbe = 4, shortlist = 50)),
      // the NB quality score of the new docs, trained on the indexed ones,
      // in the same-corpus form; it must equal the two-frame form
      Op("nb_within", "operators")(_ =>
        Selection.nbClassifierScoreWithin(labeled, "doc_id", "text",
          trainCond = train, labelCond = label, scoreCond = score)))
  }
}
