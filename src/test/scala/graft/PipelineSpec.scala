package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.{functions => F}

import graft.operators.{Dedup, Multimodal, Similarity, Sketches, TextAnalysis}
import graft.streaming.Streams
import graft.tools.FallbackAudit

/** Tests for the M8 pipeline operators (dedup, similarity, text analysis,
  * multimodal, streaming) on the sf0.001 driver testdata plus synthetic
  * micro-fixtures. The DuckDB oracle covers the SQL-expressible queries;
  * these tests pin the non-SQL-expressible behaviors: LSH recall against
  * the brute-force ground truth, streaming parity with the batch transform,
  * and the multimodal pack/decode round-trip.
  */
/** A LocalFileSystem wearing a non-allowlisted scheme, registered via
  * `fs.s3x.impl` — lets tests drive the unsound-substrate tripwire
  * through a real path-resolution flow without an object store.
  */
class FakeS3xFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def getScheme: String = "s3x"
  override def getUri: java.net.URI = java.net.URI.create("s3x:///")
}

class PipelineSpec extends AnyFunSuite with Matchers {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def docs = Tables.documents(spark, sf)
  def emb = Tables.embeddings(spark, sf)

  // ---- dedup -----------------------------------------------------------

  test("exact dedup keeps one survivor per text class, lowest key") {
    import spark.implicits._
    val df = Seq((3L, "aa"), (1L, "aa"), (2L, "bb"), (5L, "aa"))
      .toDF("id", "text")
    val out = Dedup.exact(df, "text", "id").select("id")
      .collect().map(_.getLong(0)).sorted
    out.toSeq shouldBe Seq(1L, 2L)
  }

  test("exact dedup never shuffles document text (losers-projection shape)") {
    import spark.implicits._
    val df = Seq((3L, "aa"), (1L, "aa"), (2L, "bb")).toDF("id", "text")
    val out = Dedup.exact(df, "text", "id")
    out.collect()
    // the window runs over the (hash, key) projection; the only node
    // carrying `text` downstream of an exchange must be the anti-join's
    // streamed (scan) side, so no Exchange's input schema contains text
    val plan = out.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      e.child.output.map(_.name) should not contain "text"
    }
    plan.toString should include("LeftAnti")
  }

  test("simhash pairs at maxHamming=0: full-sketch band, no degenerate bucket") {
    import spark.implicits._
    // regression: width=64 made the band mask (1L << 64) - 1 == 0 on the
    // JVM, putting EVERY doc in one bucket (the all-pairs join the
    // banding exists to avoid). With the mask fixed, the single band is
    // the whole sketch: only identical-sketch pairs surface.
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // identical -> same sketch
      (3L, "totally different words entirely here"),
      (4L, "yet another unrelated document body")).toDF("id", "text")
    val pairs = Dedup.simhashNearDupPairs(df, "id", "text", maxHamming = 0)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.toSet shouldBe Set((1L, 2L))
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDupPairs(df, "id", "text", maxHamming = -1)
  }

  test("BandBloomMd5.build fails loudly on a saturated bit budget") {
    // an undersized mBits would set most bits and the gate would then
    // silently drop nearly every incoming doc as a "near-dup"
    val ex = intercept[IllegalArgumentException] {
      Dedup.BandBloomMd5.build(docs.limit(200), "doc_id", "text",
        mBits = 64)
    }
    ex.getMessage should include("raise")
  }

  test("minhash_signature / minhash_perms: empty input → null, not sentinel garbage") {
    // both kernels are SQL-registered; a direct SQL caller handing an
    // empty hash array must get null (the when(size>0) guard semantics
    // internal callers use), never an array of Long.MaxValue sentinels
    // that would silently band every empty doc together
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  minhash_signature(cast(array() AS array<bigint>), 4, 42) AS a,
        |  minhash_perms(cast(array() AS array<bigint>),
        |    array(3L, 5L), array(1L, 2L), 2147483647L) AS b""".stripMargin)
      .head()
    r.isNullAt(0) shouldBe true
    r.isNullAt(1) shouldBe true
    // non-empty input still yields the full-width signature
    val ok = spark.sql(
      """SELECT minhash_signature(array(7L), 4, 42) AS a,
        |  minhash_perms(array(7L), array(3L, 5L), array(1L, 2L),
        |    2147483647L) AS b""".stripMargin).head()
    ok.getSeq[Long](0).length shouldBe 4
    ok.getSeq[Long](1) shouldBe Seq(22L, 37L) // (3·7+1, 5·7+2) mod P
  }

  test("minhash LSH pairs == brute-force Jaccard ground truth") {
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.jaccardPairsBruteForce(docs, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh shouldBe brute
    lsh should not be empty
  }

  test("inverted-index Jaccard pairs == brute-force, exactly") {
    val idx = Dedup.jaccardPairsIndex(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val brute = Dedup.jaccardPairsBruteForce(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    idx.keySet shouldBe brute.keySet
    idx should not be empty
    // same jaccard VALUES too: common/(sa+sb-common) over hashed shingles
    // must equal |intersect|/|union| over the arrays
    idx.foreach { case (k, j) => j shouldBe brute(k) +- 1e-12 }
    // the whole point: no all-pairs stage anywhere in the exact path
    val plan = Dedup.jaccardPairsIndex(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("inverted-index Jaccard docFreq cap only removes pairs (under-count)") {
    val exact = Dedup.jaccardPairsIndex(docs, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.jaccardPairsIndex(docs, "doc_id", "text",
        threshold = 0.8, maxDocFreq = Some(3))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    capped.subsetOf(exact) shouldBe true
  }

  test("cross-corpus near-dup pairs == brute-force cross ground truth") {
    val newBatch = docs.filter(F.col("doc_id") % 2 === 1)
    val existing = docs.filter(F.col("doc_id") % 2 === 0)
    val got = Dedup.minhashNearDupAgainst(newBatch, "doc_id", "text",
        existing, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: brute-force pairs over the whole corpus, keep those
    // crossing the split, re-orient as (odd new-batch id, even existing id)
    val brute = Dedup.jaccardPairsBruteForce(docs, "doc_id", "text",
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 2 != b % 2 }
      .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }.toSet
    got shouldBe brute
    got should not be empty
    // no cartesian anywhere; the only corpus scans are the two sides
    val plan = Dedup.minhashNearDupAgainst(newBatch, "doc_id", "text",
        existing, "doc_id", "text")
      .queryExecution.executedPlan.toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("dedupAgainst keeps exactly the unmatched new-batch docs") {
    val newBatch = docs.filter(F.col("doc_id") % 2 === 1)
    val existing = docs.filter(F.col("doc_id") % 2 === 0)
    val hitIds = Dedup.minhashNearDupAgainst(newBatch, "doc_id", "text",
        existing, "doc_id", "text", threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    val kept = Dedup.dedupAgainst(newBatch, "doc_id", "text",
        existing, "doc_id", "text", threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    val all = newBatch.collect().map(_.getLong(0)).toSet
    kept shouldBe (all -- hitIds)
    hitIds should not be empty
  }

  test("minhash LSH plan contains no cartesian product") {
    val plan = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("minhash LSH scans and shingle-hashes the corpus exactly once") {
    // The shingle table feeds banding + both verify sides; the explicit
    // repartition(id) materialization point makes all three consumers
    // reuse ONE exchange at runtime instead of re-scanning the corpus.
    val q = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    q.collect()
    val p = FallbackAudit.finalPlan(q).toString
    "FileScan parquet".r.findAllIn(p).size shouldBe 1
    p should include("ReusedExchange")
  }

  test("expensive kernels evaluate exactly ONCE per row in final plans") {
    // graft.plans.Hygiene contract: a bare explode(attribute) (or a
    // Filter over the defining projection) lets the optimizer push an
    // inferred predicate BELOW the projection with the kernel expression
    // substituted — the scan stage then evaluates the tokenizer / shingle
    // hasher 2-3x per row. The when-guard (explodeNonEmpty) and the
    // non-nullable size (sizeNonNull) opt out; pin the result: exactly one
    // kernel occurrence in each FINAL adaptive plan (scan metadata echoes
    // pushed filters, so a regression shows up as extra occurrences).
    def finalPlan(q: org.apache.spark.sql.DataFrame): String = {
      q.collect()
      FallbackAudit.finalPlan(q).toString
    }
    val shingleKernel = "shingle_hashes"
    val tokenizerKernel = "split(lower"
    shingleKernel.r.findAllIn(
      finalPlan(Dedup.jaccardPairsIndex(docs, "doc_id", "text"))
    ).size shouldBe 1
    shingleKernel.r.findAllIn(
      finalPlan(Dedup.minhashNearDupPairs(docs, "doc_id", "text"))
    ).size shouldBe 1
    java.util.regex.Pattern.quote(tokenizerKernel).r.findAllIn(
      finalPlan(TextAnalysis.chunkDocuments(docs, "doc_id", "text"))
    ).size shouldBe 1
    java.util.regex.Pattern.quote(tokenizerKernel).r.findAllIn(
      finalPlan(TextAnalysis.bm25(docs, "doc_id", "text"))
    ).size shouldBe 1
  }

  test("round-5 operators: kernel-once + no-cartesian plan pins") {
    import graft.operators.Selection
    def finalPlan(q: org.apache.spark.sql.DataFrame): String = {
      q.collect()
      FallbackAudit.finalPlan(q).toString
    }
    val tok = java.util.regex.Pattern.quote("split(lower")
    // bigram LM: ONE corpus scan, ONE tokenizer evaluation — every count
    // (c12, marginals, total) must hang off the shared bigram tf stage
    val biPlan = finalPlan(
      TextAnalysis.bigramLogLoss(docs, "doc_id", "text"))
    tok.r.findAllIn(biPlan).size shouldBe 1
    "FileScan parquet".r.findAllIn(biPlan).size shouldBe 1
    // ...and the sharing is pinned as REUSE COUNTS, not just scan counts:
    // the corpus-sized btf exchange feeds its second consumer (the c12
    // aggregate) via ReusedExchange, and the vocabulary-sized c12
    // exchange feeds the 1-row total the same way. The hand-maintained
    // exchange canonicalization (explicit superset filters + full-width
    // guards) is one refactor away from silently recomputing the corpus
    // tf per consumer — a split shows up here as a changed count.
    "ReusedExchange".r.findAllIn(biPlan).size shouldBe 2
    // marginals are the two window sums over c12 — never a btf re-scan
    "Window ".r.findAllIn(biPlan).size shouldBe 2
    // gopher battery: a pure scan-side projection — one scan, and since
    // round 6 NO tokenizer/HOF at all (whole-text regexp_count/rlike
    // formulation; the no-lambdafunction pin lives in SelectionSpec)
    val gPlan = finalPlan(Selection.gopherRules(docs, "text"))
    tok.r.findAllIn(gPlan).size shouldBe 0
    "FileScan parquet".r.findAllIn(gPlan).size shouldBe 1
    gPlan should not include "CartesianProduct"
    // DSIR (hashed): per corpus side, ONE projection with two fused
    // kernel calls (1-gram + 2-gram) — no Spark-side tokenizer at all
    val dPlan = finalPlan(Selection.dsirLogWeights(
      docs, docs.filter(F.col("lang") === "fr"), "doc_id", "text",
      numBuckets = 4096))
    "shingle_hashes_all".r.findAllIn(dPlan).size shouldBe 4
    tok.r.findAllIn(dPlan).size shouldBe 0
    dPlan should not include "CartesianProduct"
    // DSIR (exact): since round 9 the string features also come from a
    // fused kernel (gram_strings, 1-gram + 2-gram per corpus side) — no
    // Spark-side tokenizer at all, like the hashed flavor
    val dePlan = finalPlan(Selection.dsirLogWeights(
      docs, docs.filter(F.col("lang") === "fr"), "doc_id", "text",
      numBuckets = 0))
    "gram_strings".r.findAllIn(dePlan).size shouldBe 4
    tok.r.findAllIn(dePlan).size shouldBe 0
    dePlan should not include "CartesianProduct"
    // NB classifier (hashed): two fused kernel calls per feature side
    // (train + score = 4) — no Spark-side tokenizer; the 1-row stat/prior
    // broadcasts must not degrade to a CartesianProduct
    def nbPlan(buckets: Int) = finalPlan(Selection.nbClassifierScore(
      docs.withColumn("__lab", F.col("lang") === "en"),
      docs.filter(F.col("lang") =!= "fr"),
      "doc_id", "text", "__lab", numBuckets = buckets))
    val nhPlan = nbPlan(4096)
    "shingle_hashes_all".r.findAllIn(nhPlan).size shouldBe 4
    tok.r.findAllIn(nhPlan).size shouldBe 0
    nhPlan should not include "CartesianProduct"
    // NB classifier (exact): train + score sides tokenized once each
    val nePlan = nbPlan(0)
    "gram_strings".r.findAllIn(nePlan).size shouldBe 4
    tok.r.findAllIn(nePlan).size shouldBe 0
    nePlan should not include "CartesianProduct"
    // NB classifier, same-corpus Within form: the split filters are plain
    // predicates below the kernel, so on this disjoint split each kernel
    // site (1-gram + 2-gram call) tokenizes only its own branch's docs —
    // every doc once. Pinned on the final plan's nodes and SQL metrics:
    //  - no exchange keyed on the doc id below the final per-doc score
    //    aggregate (no per-document tf stage);
    //  - each kernel site reads exactly |train| or |score| filtered rows;
    //  - the class-counts exchange is reused by the 1-row stats consumer;
    //  - three FileScans: two tokenize scans and the label-only prior scan.
    locally {
      import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      def expand(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case q: QueryStageExec => expand(q.plan)
        case _ => p.children.flatMap(expand)
      })
      // a shuffle (or a reuse of one) hash-partitioned on `col`
      def keyedOn(p: SparkPlan, col: String): Boolean = p match {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.flatMap(_.references).exists(_.name == col)
          case _ => false
        }
        case r: ReusedExchangeExec => keyedOn(r.child, col)
        case _ => false
      }
      val trainCond = F.col("lang") =!= "fr"
      val scoreCond = F.col("lang") === "fr"
      val branchRows = Seq(docs.filter(trainCond).count(),
        docs.filter(scoreCond).count()).sorted
      branchRows.foreach(_ should be > 0L)
      for ((buckets, kernel) <- Seq(4096 -> "shingle_hashes_all",
          0 -> "gram_strings")) withClue(s"numBuckets=$buckets: ") {
        val q = Selection.nbClassifierScoreWithin(docs, "doc_id", "text",
          trainCond = trainCond, labelCond = F.col("lang") === "en",
          scoreCond = scoreCond, numBuckets = buckets)
        q.collect()
        val plan = FallbackAudit.finalPlan(q)
        val text = plan.toString
        val nodes = expand(plan)
        kernel.r.findAllIn(text).size shouldBe 4
        "FileScan parquet".r.findAllIn(text).size shouldBe 3
        tok.r.findAllIn(text).size shouldBe 0
        text should not include "CartesianProduct"
        // the only doc-keyed exchange is the final score aggregate's own
        val scoreAgg = nodes.collectFirst {
          case a: HashAggregateExec if a.output.exists(_.name == "nb_score") => a
        }.get
        val docKeyed = nodes.filter(keyedOn(_, "doc_id"))
        docKeyed.size shouldBe 1
        expand(scoreAgg).filter(keyedOn(_, "doc_id")) shouldBe docKeyed
        // each kernel site's input is its branch's split filter
        val siteRows = nodes.collect {
          case p: ProjectExec if p.projectList.exists(_.toString.contains(kernel)) =>
            expand(p).collectFirst { case f: FilterExec => f }.get
              .metrics("numOutputRows").value
        }
        siteRows.sorted shouldBe branchRows
        // the class-counts exchange feeds the stats aggregate as a reuse
        val statsAgg = nodes.collectFirst {
          case a: HashAggregateExec if a.output.exists(_.name == "__tp") => a
        }.get
        expand(statsAgg).exists {
          case r: ReusedExchangeExec => keyedOn(r.child, "feat")
          case _ => false
        } shouldBe true
      }
    }
    // duplicated passages (hashed): one scan, ONE fused native kernel call
    // (tokenize+hash inside shingle_hashes_all; no Spark-side tokenizer)
    val pPlan = finalPlan(TextAnalysis.duplicatedPassages(
      docs, "doc_id", "text", window = 8))
    "shingle_hashes_all".r.findAllIn(pPlan).size shouldBe 1
    tok.r.findAllIn(pPlan).size shouldBe 0
    "FileScan parquet".r.findAllIn(pPlan).size shouldBe 1
    // exact-string variant: window strings from ONE gram_strings kernel
    // call (round 9) — no Spark-side tokenizer either
    val pePlan = finalPlan(TextAnalysis.duplicatedPassages(
      docs, "doc_id", "text", window = 8, hashed = false))
    "gram_strings".r.findAllIn(pePlan).size shouldBe 1
    tok.r.findAllIn(pePlan).size shouldBe 0
    "FileScan parquet".r.findAllIn(pePlan).size shouldBe 1
    // semDedup: the within-cluster pair stage must be an equi-join on the
    // cluster key, never an all-pairs product
    val sPlan = finalPlan(Similarity.semDedup(emb, "vec_id", "embedding",
      nClusters = 4, threshold = 0.99))
    sPlan should not include "CartesianProduct"
    // random projection: a pure scan-side projection — outDim native dot
    // kernels, one scan, NO shuffle of any kind
    val rpPlan = finalPlan(Similarity.randomProject(
      emb, "vec_id", "embedding", inDim = 64, outDim = 8))
    "dot_product".r.findAllIn(rpPlan).size shouldBe 8
    "FileScan parquet".r.findAllIn(rpPlan).size shouldBe 1
    rpPlan should not include "Exchange"
  }

  test("randomProject preserves squared norms in expectation (JL unbiased)") {
    val emb = Tables.embeddings(spark, sf)
    def sq(c: org.apache.spark.sql.Column) =
      F.aggregate(c.cast("array<double>"), F.lit(0.0), (a, x) => a + x * x)
    val ratio = Similarity.randomProject(
        emb, "vec_id", "embedding", inDim = 64, outDim = 16)
      .join(emb, "vec_id")
      .select((sq(F.col("proj")) / sq(F.col("embedding"))).as("r"))
      .agg(F.avg("r")).head().getDouble(0)
    // E[r] = 1 exactly; the corpus mean over 500 vectors concentrates
    ratio shouldBe 1.0 +- 0.15
  }

  test("packing: pack totals land within one chunk of the budget") {
    import graft.operators.{Packing, TextAnalysis}
    val chunks = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
      size = 100, overlap = 50)
    val packed = Packing.packChunks(chunks, "doc_id", "chunk_idx",
      "n_tokens", budget = 256, nBuckets = 16)
    val maxChunk = chunks.agg(F.max("n_tokens")).head().getInt(0)
    val stats = Packing.packStats(packed, "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    stats should not be empty
    // every pack's total stays within the concat-then-split slop bound
    stats.foreach { case (_, _, toks) =>
      toks should be <= (256L + maxChunk)
    }
    // non-terminal packs of each bucket are at least budget - maxChunk full
    val byBucket = stats.groupBy(_._1 >> 40)
    byBucket.values.foreach { packs =>
      val lastPack = packs.map(_._1).max
      packs.filter(_._1 != lastPack).foreach { case (_, _, toks) =>
        toks should be >= (256L - maxChunk)
      }
    }
    // partition-count independence: same assignment at any parallelism
    val repacked = Packing.packChunks(chunks.repartition(3), "doc_id",
      "chunk_idx", "n_tokens", budget = 256, nBuckets = 16)
    repacked.select("doc_id", "chunk_idx", "pack_id").collect().toSet shouldBe
      packed.select("doc_id", "chunk_idx", "pack_id").collect().toSet
  }

  test("contamination: benchmark docs are flagged, decontaminate drops them") {
    import graft.operators.Contamination
    val bench = docs.filter(F.col("doc_id") % 50 === 0)
      .select(F.col("text").as("btext"))
    val hits = Contamination.contaminationHits(docs, "doc_id", "text",
      bench, "btext", n = 8)
    val flagged = hits.select("doc_id").collect().map(_.getLong(0)).toSet
    // every benchmark doc with >= 8 tokens overlaps itself
    val benchIds = docs.filter(F.col("doc_id") % 50 === 0)
      .filter(TextAnalysis.tokenCount(F.col("text")) >= 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    benchIds.subsetOf(flagged) shouldBe true
    // decontaminate removes exactly the flagged docs
    val kept = Contamination.decontaminate(docs, "doc_id", "text",
      bench, "btext", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept.intersect(flagged) shouldBe empty
    (kept.size + flagged.size).toLong shouldBe docs.count()
    // no cartesian in the plan
    val plan = hits.queryExecution.executedPlan.toString
    (plan should not).include("CartesianProduct")
  }

  test("bloom decontamination: no false negatives, agrees with exact path") {
    import graft.operators.Contamination
    val bench = docs.filter(F.col("doc_id") % 50 === 0)
      .select(F.col("text").as("btext"))
    val exact = Contamination.contaminationHits(docs, "doc_id", "text",
        bench, "btext", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Contamination.benchBloom(bench, "btext", n = 8)
    val approx = Contamination.contaminationHitsBloom(docs, "doc_id", "text",
        bloom, n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // NO FALSE NEGATIVES: every exact hit is a bloom hit, per doc
    exact.foreach { case (id, h) =>
      approx.getOrElse(id, 0L) should be >= h
    }
    // false positives are rare and bounded: probes are deterministic, and
    // at pin time this corpus drew exactly ONE spurious (doc, shingle) hit
    // out of ~24k probes (doc 170) — within the fpp contract; the excess
    // must stay tiny and per-doc excess must stay at FP-noise level
    val extraDocs = approx.keySet -- exact.keySet
    extraDocs.size should be <= 2
    approx.foreach { case (id, h) =>
      (h - exact.getOrElse(id, 0L)) should be <= 2L
    }
    // dropped sets: bloom drops ⊇ exact drops, excess bounded as above
    val keptExact = Contamination.decontaminate(docs, "doc_id", "text",
      bench, "btext").select("doc_id").collect().map(_.getLong(0)).toSet
    val keptBloom = Contamination.decontaminateBloom(docs, "doc_id", "text",
      bench, "btext").select("doc_id").collect().map(_.getLong(0)).toSet
    keptBloom.subsetOf(keptExact) shouldBe true
    (keptExact -- keptBloom).size should be <= 2
    // the whole point: the bloom path is a pure scan — no join, no
    // exchange, corpus shingles never leave their partitions
    val plan = Contamination.contaminationHitsBloom(docs, "doc_id", "text",
      bloom, n = 8).queryExecution.executedPlan.toString
    (plan should not).include("Exchange")
    (plan should not).include("Join")
    plan should include("bloom_count")
  }

  test("bloom decontamination keeps null-text docs like the exact path") {
    import spark.implicits._
    import graft.operators.Contamination
    // regression: NULL text -> NULL shingle array -> NULL bloom hits, and
    // a bare `NULL < minHits` silently dropped every failed-extraction
    // doc; the exact path keeps them (explode emits zero shingle rows)
    val bench = docs.limit(3).select(F.col("text").as("btext"))
    val corpus = docs.limit(20).select(F.col("doc_id"), F.col("text"))
      .unionByName(Seq((99999L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val keptExact = Contamination.decontaminate(corpus, "doc_id", "text",
      bench, "btext").select("doc_id").collect().map(_.getLong(0)).toSet
    val keptBloom = Contamination.decontaminateBloom(corpus, "doc_id",
      "text", bench, "btext").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    keptExact should contain(99999L)
    keptBloom should contain(99999L)
    // artifact face: same contract
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bloom-null").toString + "/bloom"
    Contamination.saveBenchBloom(bench, "btext", dir)
    Contamination.decontaminateFromArtifact(corpus, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet should
      contain(99999L)
  }

  test("md5_bloom_hits with an empty filter literal returns 0, never / by zero") {
    graft.plans.GraftExtensions.register(spark)
    // an empty reference corpus serializes to an empty word array; hits
    // must be 0 (nothing can be contaminated), not an ArithmeticException
    // from floorMod(x, mBits = 0) deep inside a task
    val r = spark.sql(
      "SELECT md5_bloom_hits('some document text here', 2, " +
        "CAST(array() AS ARRAY<BIGINT>), 4)").head()
    r.getLong(0) shouldBe 0L
  }

  test("md5 bloom flavor: no false negatives vs exact, deterministic") {
    import graft.operators.Contamination
    val bench = docs.filter(F.col("doc_id") % 50 === 0)
      .select(F.col("text").as("btext"))
    val exact = Contamination.contaminationHits(docs, "doc_id", "text",
        bench, "btext", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def md5Hits() = Contamination.contaminationHitsBloomMd5(docs, "doc_id",
        "text", bench, "btext", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = md5Hits()
    // NO FALSE NEGATIVES: every benchmark shingle's bits are set by
    // construction, so every exact hit is an md5-bloom hit, per doc
    exact.foreach { case (id, h) =>
      approx.getOrElse(id, 0L) should be >= h
    }
    // false positives stay at fpp-noise level (k=2 into 2^20 bits)
    (approx.keySet -- exact.keySet).size should be <= 2
    approx.foreach { case (id, h) =>
      (h - exact.getOrElse(id, 0L)) should be <= 2L
    }
    // deterministic: the filter and probes are md5-derived, not seeded RNG
    md5Hits() shouldBe approx
    // the fused md5_bloom_hits kernel == the exploded string formulation,
    // per doc, exactly (same filter words, same distinct-shingle count)
    val composed = Contamination.contaminationHitsBloomMd5Composed(docs,
        "doc_id", "text", bench, "btext", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    approx shouldBe composed
    // and the kernel face is zero-shuffle, like the production flavor
    Contamination.contaminationHitsBloomMd5(docs, "doc_id", "text",
        bench, "btext", n = 8)
      .queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("bloom kernel: serialize round-trip, zero false negatives on fuzz keys") {
    import graft.functions.BloomKernel
    val rnd = new scala.util.Random(7)
    val members = Array.fill(5000)(rnd.nextLong())
    val bloom = BloomKernel.build(members.iterator, members.length, 1e-4)
    val rt = BloomKernel.deserialize(BloomKernel.serialize(bloom))
    rt.k shouldBe bloom.k
    rt.words.toSeq shouldBe bloom.words.toSeq
    members.foreach(k => BloomKernel.mightContain(rt, k) shouldBe true)
    // false-positive rate on non-members lands near the configured fpp
    val nonMembers = Array.fill(20000)(rnd.nextLong())
      .filterNot(members.contains)
    val fp = nonMembers.count(BloomKernel.mightContain(rt, _))
    fp.toDouble / nonMembers.length should be < 1e-3
    an[IllegalArgumentException] should be thrownBy
      BloomKernel.deserialize(Array[Byte](1, 2, 3))
  }

  test("nearDupClusters: hub component collapses where the pair policy cannot") {
    import spark.implicits._
    // edges (1,9),(5,9): 1 and 5 never meet in a pair, but share component
    // {1,5,9}; plus an independent pair (20,21).
    val pairs = Seq((1L, 9L), (5L, 9L), (20L, 21L)).toDF("a_id", "b_id")
    val cl = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cl shouldBe Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 20L -> 20L, 21L -> 20L)
  }

  test("nearDupClusters: empty pair set yields an empty cluster table") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    Dedup.nearDupClusters(none).count() shouldBe 0L
  }

  test("nearDupClusters: 100-link chain converges (pointer jumping)") {
    import spark.implicits._
    // path 1-2-...-101: diameter 100. Pure neighbor propagation would need
    // 100 rounds; the label's-label hop makes reach double per round, so
    // this converges well inside the 48-round budget (or throws — never
    // silently splits the component). driverEdgeCap = 0 forces the
    // DISTRIBUTED loop (the r18 size-adaptive pick would otherwise route
    // a 100-edge graph to the driver union-find and leave the loop
    // untested).
    val pairs = (1L until 101L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val cl = Dedup.nearDupClusters(pairs, driverEdgeCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cl.keySet shouldBe (1L to 101L).toSet
    cl.values.toSet shouldBe Set(1L)
  }

  test("nearDupClusters: driver union-find path == distributed loop") {
    import spark.implicits._
    // the r18 size-adaptive strategy pick must be invisible in results:
    // same pair sets through both paths (cap below/above the edge count)
    // yield identical (id, cluster) maps — hubs, chains, singleton pairs,
    // and 64-bit-extreme ids together.
    val rnd = new scala.util.Random(7)
    val edges = Seq((1L, 9L), (5L, 9L), (20L, 21L),
        (Long.MaxValue - 1, Long.MaxValue)) ++
      (100L to 140L).map(i => (i, i + 1)) ++
      Seq.fill(30)((rnd.nextInt(40).toLong + 500L, rnd.nextInt(40).toLong + 500L))
        .filter { case (a, b) => a != b }
    val pairs = edges.toDF("a_id", "b_id")
    val viaDriver = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.nearDupClusters(pairs, driverEdgeCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaDriver shouldBe viaLoop
    // and the schema the two paths expose is identical
    Dedup.nearDupClusters(pairs).schema.map(f => (f.name, f.dataType)) shouldBe
      Dedup.nearDupClusters(pairs, driverEdgeCap = 0L).schema
        .map(f => (f.name, f.dataType))
  }

  test("nearDupClusters handles 64-bit hash ids (no ANSI sum overflow)") {
    import spark.implicits._
    // ids near Long.MaxValue: the old label-SUM fixpoint check overflowed
    // under ANSI; the changed-row probe must not.
    val a = Long.MaxValue - 2; val b = Long.MaxValue - 1; val c = Long.MaxValue
    val pairs = Seq((a, c), (b, c)).toDF("a_id", "b_id")
    val cl = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cl shouldBe Map(a -> a, b -> a, c -> a)
  }

  test("minhashDedupClusters keeps exactly one doc per component") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
    val clusters = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Dedup.minhashDedupClusters(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every non-representative member dropped, representatives kept
    clusters.foreach { case (id, rep) =>
      kept.contains(id) shouldBe (id == rep)
    }
    (kept.size + clusters.count { case (id, rep) => id != rep }) shouldBe docs.count()
  }

  test("minhashDedup drops the higher-id member of each pair") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("b_id").collect().map(_.getLong(0)).toSet
    val kept = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept.intersect(pairs) shouldBe empty
    (kept.size + pairs.size) shouldBe docs.count()
  }

  test("simhash finds most high-jaccard near-dups (hamming<=3 blocks)") {
    val truth = Dedup.jaccardPairsBruteForce(docs, "doc_id", "text", threshold = 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // SimHash is a coarser sketch than MinHash: require >=60% recall and
    // no explosion of false positives relative to the 0.8-jaccard truth.
    truth.intersect(sim).size.toDouble should be >= truth.size * 0.6
    sim.size should be <= truth.size * 3
    // the md5 sketch FLAVOR (the oracle-replayable registry face) is a
    // different token hash, so pair sets differ at the margin — but it
    // must hold the same recall bar against the same ground truth, and
    // at maxHamming=0 identical texts must still collide (sanity)
    val simMd5 = Dedup.simhashNearDupPairsMd5(docs, "doc_id", "text",
        maxHamming = 3)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.intersect(simMd5).size.toDouble should be >= truth.size * 0.6
    simMd5.size should be <= truth.size * 3
  }

  test("md5 simhash flavor: deterministic sketches, tf-weighted, two halves") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally different words here"), (4L, "Alpha  BETA gamma!"))
      .toDF("id", "text")
    val sk = Dedup.simhashMd5(d, "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // identical (and case/punct-equivalent: shared tokenizer) texts ->
    // identical sketches; both halves fit in 32 bits
    sk(1L) shouldBe sk(2L)
    sk(1L) shouldBe sk(4L)
    sk.values.foreach { case (hi, lo) =>
      hi should (be >= 0L and be < (1L << 32))
      lo should (be >= 0L and be < (1L << 32))
    }
    sk(1L) should not be sk(3L)
    // straddling band widths are rejected up front
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDupPairsMd5(d, "id", "text", maxHamming = 2)
  }

  test("simhash_md5 kernel == composed explode/tf/64-sum formulation, bit-for-bit") {
    import spark.implicits._
    // adversarial shapes: tf-weighting (repeats must flip votes exactly
    // like the tf groupBy did), unicode + case folding, punctuation
    // runs, single token, token-less rows (must be ABSENT, not zero)
    val fixtures = Seq(
      (100L, "alpha alpha alpha beta"), (101L, "beta alpha"),
      (102L, "Ünïcode Tökens mixed with ASCII"), (103L, "x"),
      (104L, "!!! ??? ..."), (105L, ""),
      (106L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"))
      .toDF("id", "text")
    val corpus = Tables.documents(spark, sf)
      .select(F.col("doc_id").as("id"), F.col("text"))
    for (df <- Seq(fixtures, corpus)) {
      val kernel = Dedup.simhashMd5(df, "id", "text").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val composed = Dedup.simhashMd5Composed(df, "id", "text").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      kernel shouldBe composed
    }
    // the kernel face is a pure projection: no aggregate, no exchange
    // before the sketch exists
    Dedup.simhashMd5(fixtures, "id", "text")
      .queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("shingle_hashes is SQL-callable via GraftExtensions registration") {
    graft.plans.GraftExtensions.register(spark)
    val n = spark.sql(
      "SELECT size(shingle_hashes('alpha beta gamma delta', 3)) AS n")
      .head().getInt(0)
    n shouldBe 2
    // null text -> null propagates (BinaryExpression null-intolerance)
    spark.sql("SELECT shingle_hashes(CAST(NULL AS STRING), 3) IS NULL AS z")
      .head().getBoolean(0) shouldBe true
  }

  test("MinHashSig native expression: SQL-callable, deterministic, permutation-correct") {
    graft.plans.GraftExtensions.register(spark)
    val sig = spark.sql(
      "SELECT minhash_signature(shingle_hashes('a b c d e f g', 3), 8, 42) AS s")
      .head().getSeq[Long](0)
    sig.length shouldBe 8
    // deterministic: same inputs -> same signature
    spark.sql(
      "SELECT minhash_signature(shingle_hashes('a b c d e f g', 3), 8, 42) AS s")
      .head().getSeq[Long](0) shouldBe sig
    // kernel equivalence: replicate one permutation by hand
    val hs = graft.functions.ShingleHashKernel
      .hashToArray("a b c d e f g", 3).map(_ & 0xffffffffL)
    val (as, bs) = graft.functions.MinHashSigKernel.perms(8, 42L)
    val want0 = hs.map(h => (as(0) * h + bs(0)) % graft.functions.MinHashSigKernel.Prime).min
    sig.head shouldBe want0
  }

  test("ShingleHash native expression survives codegen and matches kernel") {
    import spark.implicits._
    val texts = Seq("one two three four five", "x", "", "ONE two THREE four")
    val viaExpr = texts.toDF("text")
      .select(Dedup.hashedShingles(F.col("text")).as("h"))
      .collect().map(_.getSeq[Long](0).toSet)
    val direct = texts.map(t =>
      graft.functions.ShingleHashKernel.hashToArray(t, 3).toSet)
    viaExpr.toSeq shouldBe direct
    // case-insensitive: shingles of "ONE two THREE four" == "one two three four"
    direct(3) shouldBe graft.functions.ShingleHashKernel.hashToArray("one two three four", 3).toSet
  }

  test("SimHash64 native expression survives codegen and matches kernel") {
    import spark.implicits._
    val texts = Seq("one two three four five", "x", "", "ONE two THREE four",
      "the quick brown fox jumps over the lazy dog")
    val viaExpr = texts.toDF("text")
      .select(Dedup.simhash(F.col("text")).as("sk"))
      .collect().map(_.getLong(0))
    val direct = texts.map(graft.functions.SimHashKernel.simhashString)
    viaExpr.toSeq shouldBe direct
    // case-insensitive tokenizer: sketches of reordered case match
    direct(3) shouldBe graft.functions.SimHashKernel.simhashString("one two three four")
    // SQL-callable registration
    graft.plans.GraftExtensions.register(spark)
    spark.sql("SELECT simhash64('one two three four five') AS sk")
      .head().getLong(0) shouldBe direct.head
    // no UDF anywhere in the sketch plan
    val plan = texts.toDF("text").select(Dedup.simhash(F.col("text")))
      .queryExecution.executedPlan.toString
    (plan should not).include("BatchEvalPython")
    plan.toLowerCase should not include "scalaudf"
  }

  test("CosineSim/DotProduct native expressions match the composed forms") {
    // row-for-row equivalence on real embedding pairs: same values (same
    // accumulation order → bit-comparable, checked at 1e-12) and same
    // null-ness in both directions
    val a = emb.filter(F.col("vec_id") < 30)
      .select(F.col("embedding").cast("array<double>").as("va"))
    val b = emb.filter(F.col("vec_id").between(30, 59))
      .select(F.col("embedding").cast("array<double>").as("vb"))
    val cols = a.crossJoin(b).select(
      Similarity.cosine(F.col("va"), F.col("vb")).as("n"),
      Similarity.cosineComposed(F.col("va"), F.col("vb")).as("c"),
      Similarity.dot(F.col("va"), F.col("vb")).as("nd"),
      Similarity.dotComposed(F.col("va"), F.col("vb")).as("cd"))
    cols.count() should be > 0L
    cols.filter(
      (F.col("n").isNull =!= F.col("c").isNull) ||
      (F.col("nd").isNull =!= F.col("cd").isNull) ||
      F.abs(F.col("n") - F.col("c")) > 1e-12 ||
      F.abs(F.col("nd") - F.col("cd")) > 1e-12).count() shouldBe 0L
  }

  test("native vector ops: null sentinel, SQL registration, kernel, no UDF") {
    import spark.implicits._
    val df = Seq(
      (Seq(0.0, 0.0), Seq(1.0, 2.0)),        // zero norm
      (Seq(1.0, 2.0), Seq(1.0)),             // length mismatch
      (Seq(Double.NaN, 1.0), Seq(1.0, 1.0))  // NaN element folds into NULL
    ).toDF("a", "b")
    val out = df.select(Similarity.cosine(F.col("a"), F.col("b")).as("c"),
      Similarity.dot(F.col("a"), F.col("b")).as("d")).collect()
    out(0).isNullAt(0) shouldBe true   // zero-norm cosine -> null
    out(0).getDouble(1) shouldBe 0.0   // zero-vector dot is a real 0.0
    out(1).isNullAt(0) shouldBe true   // mismatch -> null (both ops)
    out(1).isNullAt(1) shouldBe true
    out(2).isNullAt(0) shouldBe true   // NaN element -> null (both ops)
    out(2).isNullAt(1) shouldBe true
    // SQL-callable registration
    graft.plans.GraftExtensions.register(spark)
    spark.sql("SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
      .head().getDouble(0) shouldBe 1.0 +- 1e-15
    spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0) shouldBe 11.0
    // interpreted kernel path (what nullSafeEval calls)
    val ga = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(3.0, 4.0))
    graft.functions.VectorKernel.cosine(ga, ga) shouldBe 1.0 +- 1e-15
    graft.functions.VectorKernel.dot(ga, ga) shouldBe 25.0
    // stays native — no UDF in the scoring plan
    val plan = df.select(Similarity.cosine(F.col("a"), F.col("b")))
      .queryExecution.executedPlan.toString
    plan.toLowerCase should not include "scalaudf"
    // public dot/norm accept raw float embeddings (cast internally, like
    // cosine) — the strict native type-check must never surface to callers
    val r = emb.limit(1).select(
      Similarity.dot(F.col("embedding"), F.col("embedding")).as("d"),
      Similarity.norm(F.col("embedding")).as("n")).head()
    r.getDouble(1) shouldBe math.sqrt(r.getDouble(0)) +- 1e-12
  }

  test("hashed shingles match string shingles' set cardinality semantics") {
    val both = docs.select(
      F.size(Dedup.shingles(F.col("text"))).as("s"),
      F.size(Dedup.hashedShingles(F.col("text"))).as("h"))
      .filter(F.col("s") =!= F.col("h")).count()
    both shouldBe 0
  }

  test("shingles of too-short text are empty, not garbage") {
    import spark.implicits._
    val tiny = Seq("one two", "a", "").toDF("text")
    tiny.select(F.size(Dedup.shingles(F.col("text"))).as("n"))
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(0, 0, 0)
    tiny.select(F.size(Dedup.hashedShingles(F.col("text"))).as("n"))
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(0, 0, 0)
  }

  test("cleanCorpus: quality gate + exact dedup + near-dup dedup compose") {
    import graft.operators.Pipelines
    val kept = Pipelines.cleanCorpus(docs, "doc_id", "text")
    val total = docs.count()
    val nearDups = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("b_id").distinct().count()
    kept.count() should be <= (total - nearDups)
    kept.count() should be > 0L
    // survivors contain no near-dup pair among themselves
    Dedup.minhashNearDupPairs(kept, "doc_id", "text", threshold = 0.8)
      .count() shouldBe 0
  }

  test("fluent KFrame syntax chains pipeline ops with core operators") {
    import graft.core.{Agg, KFrame}
    import graft.extras.syntax._
    val kf = KFrame.wrap(docs)
    val out = kf.analyzeText("text")
      .dedupExact("text", "doc_id")
      .nearDupDedup("doc_id", "text")
      .groupby("lang_pred")
      .aggregate(Agg.count, "doc_id")
    val counts = out.toOrderedDF.collect()
    counts.map(_.getDouble(1)).sum shouldBe
      graft.operators.Dedup.minhashDedup(docs, "doc_id", "text").count().toDouble
  }

  test("fluent syntax: cluster dedup and in-place PII redaction") {
    import graft.core.KFrame
    import graft.extras.syntax._
    import spark.implicits._
    val kf = KFrame.wrap(docs)
    kf.nearDupDedupClusters("doc_id", "text").height shouldBe
      Dedup.minhashDedupClusters(docs, "doc_id", "text").count()
    val pii = KFrame.wrap(Seq((1L, "mail me: a@b.io")).toDF("id", "text"))
    pii.redactPII("text").toDF.head().getString(1) shouldBe "mail me: <EMAIL>"
  }

  test("fluent syntax: selection ops match their operator forms") {
    import graft.core.KFrame
    import graft.extras.syntax._
    import graft.operators.{Selection, TextAnalysis}
    val kf = KFrame.wrap(docs)
    kf.gopherFilter("text").height shouldBe
      Selection.gopherFilter(docs, "text").count()
    kf.gopherRules("text").toDF.columns should contain("gopher_pass")
    val split = kf.hashSplit("doc_id", Seq("a" -> 0.5, "b" -> 0.5))
    split.toDF.groupBy("split").count().count() shouldBe 2
    val fr = KFrame.wrap(docs.filter(F.col("lang") === "fr"))
    val picked = kf.dsirResample("doc_id", "text", fr, k = 50,
      numBuckets = 4096)
    picked.height shouldBe 50L
    picked.toDF.columns.toSeq shouldBe docs.columns.toSeq // all cols ride
    val dropped = kf.dropDuplicatedPassages("doc_id", "text",
      window = 8, maxDupFrac = 0.9)
    dropped.height should be <= docs.count()
    dropped.toDF.columns.toSeq shouldBe docs.columns.toSeq
  }

  test("cleanCorpus plan contains no cartesian product") {
    import graft.operators.Pipelines
    val plan = Pipelines.cleanCorpus(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    (plan should not).include("CartesianProduct")
  }

  test("cleanCorpus runtime plan reuses the exact-dedup shuffle stage") {
    // The STATIC plan duplicates the scan + quality-filter + dedup-window
    // subtree 5x (one per consumer); the scale contract is that AQE's
    // runtime stage cache collapses the duplicates, so the corpus is
    // scanned at most twice (once pruned for the anti-join survivor side,
    // once with text for the shingle branches) and the window shuffle is
    // computed at most twice then reused. A change that breaks subtree
    // canonical equality (e.g. a branch-specific filter) would silently
    // multiply full-corpus scans at 100 TB — this pins it.
    import graft.operators.Pipelines
    val q = Pipelines.cleanCorpus(docs, "doc_id", "text")
    q.collect()
    val finalPlan = FallbackAudit.finalPlan(q).toString
    finalPlan should include("ReusedExchange")
    "FileScan parquet".r.findAllIn(finalPlan).size should be <= 2
  }

  test("curateForTraining: two corpus scans max, no text through exchanges") {
    // quality → exact dedup → near-dedup → redact → chunk. The exact-dedup
    // stage deliberately reads the corpus twice (losers projection + the
    // anti-join's streamed side) so that NO exchange ever carries document
    // text — the former one-scan shape pushed every text body through the
    // dedup window's shuffle, the worse trade at corpus scale. Everything
    // else still reuses stages (ReusedExchange present).
    import graft.operators.Pipelines
    val q = Pipelines.curateForTraining(docs, "doc_id", "text")
    q.collect()
    val plan = FallbackAudit.finalPlan(q)
    val p = plan.toString
    "FileScan parquet".r.findAllIn(p).size should be <= 2
    p should include("ReusedExchange")
    plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach(_.child.output.map(_.name) should not contain "text")
  }

  test("approx sketches land within tolerance of exact answers") {
    import graft.extras.Approx
    val ev = Tables.events(spark, sf)
    val exact = ev.select("user_id").distinct().count().toDouble
    val approx = Approx.countDistinct(ev, Nil, "user_id")
      .head().getLong(0).toDouble
    math.abs(approx - exact) / exact should be < 0.15
    val med = Approx.quantiles(ev, "value", Seq(0.5))(0.5)
    val exactMed = ev.stat.approxQuantile("value", Array(0.5), 0.0).head
    math.abs(med - exactMed) should be < 1.0
  }

  // ---- similarity ------------------------------------------------------

  test("brute-force topk: self excluded, k rows per query, sim descending") {
    val out = Similarity.bruteForceTopK(
      emb.filter(F.col("vec_id") < 3), emb, "vec_id", "embedding", k = 5)
      .collect()
    out.length shouldBe 15
    out.foreach(r => r.getLong(0) should not be r.getLong(1))
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      rows.length shouldBe 5
      sims.foreach(s => s should (be >= -1.0001 and be <= 1.0001))
    }
  }

  test("LSH topk recall vs brute force is reasonable") {
    val queries = emb.filter(F.col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
      k = 5, dim = 64)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // SRP-LSH on near-uniform random vectors is the hard case; require
    // non-trivial recall (the approximate contract), not equality.
    exact.intersect(approx).size.toDouble should be >= exact.size * 0.2
    // the md5 sparse-plane FLAVOR (the oracle-replayable registry face)
    // is a different plane family, so results differ at the margin — but
    // it must hold the same recall bar, and be deterministic run-to-run
    val md5a = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
        k = 5, dim = 64, planesFn = "md5")
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.intersect(md5a).size.toDouble should be >= exact.size * 0.2
    val md5b = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
        k = 5, dim = 64, planesFn = "md5")
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    md5b shouldBe md5a
    // unknown plane family errors instead of silently hashing differently
    an[Exception] should be thrownBy
      Similarity.lshTopK(queries, emb, "vec_id", "embedding",
        k = 5, dim = 64, planesFn = "sha1")
  }

  test("PQ: codes are m bytes; encode is deterministic") {
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16)
    cb.length shouldBe 8
    cb.foreach { sub => sub.length shouldBe 16; sub.foreach(_.length shouldBe 8) }
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    codes.size shouldBe 500
    codes.values.foreach { c =>
      c.length shouldBe 8
      c.foreach { x => x.toInt should be >= 0; x.toInt should be < 16 }
    }
    // deterministic under repartitioning (codebooks are literals)
    val again = Similarity.pqEncode(emb.repartition(7), "vec_id",
      "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    again shouldBe codes
    // native kernel == composed struct/array_min formulation, row for row
    val composed = Similarity.pqEncodeComposed(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    composed shouldBe codes
    // SQL-callable through the registered extension; codes are BYTES —
    // m bytes per vector is the compression contract
    graft.plans.GraftExtensions.register(spark)
    val sqlRow = spark.sql(
      "SELECT pq_codes(array(0.0D, 1.0D), array(array(array(0.0D), array(9.0D)), " +
        "array(array(5.0D), array(1.5D)))) AS c")
    sqlRow.schema("c").dataType.simpleString shouldBe "array<tinyint>"
    sqlRow.head().getSeq[Byte](0) shouldBe Seq(0.toByte, 1.toByte)
  }

  test("PQ with ksub > 128: unsigned byte codes round-trip through ADC") {
    // forces code ids above 127 (negative signed bytes) — the unsigned
    // encoding path: native == composed, lookups undo the wrap, and an
    // all-covering shortlist + exact rerank still equals brute force
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 200)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    // unsigned decode lands in [0, 200); the wrap actually occurs
    val decoded = codes.values.flatMap(_.map(b => b.toInt & 0xFF))
    decoded.foreach { x => x should be >= 0; x should be < 200 }
    decoded.exists(_ > 127) shouldBe true
    val composed = Similarity.pqEncodeComposed(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    composed shouldBe codes
    val queries = emb.filter(F.col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopKRerank(queries, emb, "vec_id", "embedding",
        k = 5, cb, shortlist = 600)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pq shouldBe exact
  }

  test("PQ ADC + exact rerank recovers most of the true top-k") {
    val queries = emb.filter(F.col("vec_id") < 50)
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 32)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding",
        k = 10)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopKRerank(queries, emb, "vec_id", "embedding",
        k = 10, cb, shortlist = 50)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pq.groupBy(_._1).values.foreach(_.size should be <= 10)
    // measured 0.96 mean recall at these knobs on this data; pin with
    // margin — the approximate contract, not equality
    exact.intersect(pq).size.toDouble should be >= exact.size * 0.85
    // raw ADC (no rerank) is strictly weaker but still non-trivial
    val raw = Similarity.pqTopK(queries, emb, "vec_id", "embedding",
        k = 10, cb)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.intersect(raw).size.toDouble should be >= exact.size * 0.3
  }

  test("fixed-point PQ: kernel == composed integers; top-k tracks float ADC") {
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 32)
    val qcb = Similarity.quantizeCodebooks(cb)
    // quantization is floor(x·2^20) — exact power-of-two scaling
    qcb(0)(0)(0) shouldBe math.floor(cb(0)(0)(0) * (1L << 20).toDouble).toLong
    // native kernel encode == composed struct/array_min formulation
    val kcodes = Similarity.pqEncodeFixed(emb, "vec_id", "embedding", qcb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    kcodes.size shouldBe 500
    val ccodes = Similarity.pqEncodeFixedComposed(emb, "vec_id", "embedding",
        qcb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    ccodes shouldBe kcodes
    // the int64 quantization at 2^20 is fine enough that fixed codes
    // almost never disagree with the float argmin (boundary rows only)
    val fcodes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).map(b => b.toInt & 0xFF))
      .toMap
    val agree = kcodes.count { case (id, ks) => fcodes(id) == ks }
    agree.toDouble should be >= 0.99 * kcodes.size
    // the discrete top-k is a faithful ADC ranking: ≥85% overlap with
    // the exact cosine ground truth via shortlist-style containment
    val queries = emb.filter(F.col("vec_id") < 50)
    val fixed = Similarity.pqTopKFixed(queries, emb, "vec_id", "embedding",
        k = 10, qcb)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = Similarity.pqTopK(queries, emb, "vec_id", "embedding",
        k = 10, cb)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixed ADC ranks by L2 distance, float ADC by approx cosine — on
    // unit-scale embeddings the two orderings agree on most of the set
    fixed.intersect(raw).size.toDouble should be >= raw.size * 0.6
    // malformed (wrong-length) vectors drop instead of erroring
    import spark.implicits._
    val bad = Seq((1L, Array.fill(64)(0.5)), (2L, Array.fill(7)(0.5)))
      .toDF("vec_id", "embedding")
    Similarity.pqEncodeFixed(bad, "vec_id", "embedding", qcb)
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
  }

  test("fixed-point IVF-PQ: probing ALL lists == full fixed ADC; partial probe recalls") {
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 32)
    val qcb = Similarity.quantizeCodebooks(cb)
    val cents = Similarity.trainCoarseCentroids(emb, "vec_id", "embedding",
      nCentroids = 16)
    val qcents = Similarity.quantizeCodebooks(Array(cents))(0)
    val queries = emb.filter(F.col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // discrete identity: probing every list scores every candidate, so
    // the result must EQUAL the full fixed ADC scan — same integers,
    // same ties
    val all = rows(Similarity.ivfPqTopKFixed(queries, emb, "vec_id",
      "embedding", k = 10, qcents, qcb, nProbe = 16))
    val full = rows(Similarity.pqTopKFixed(queries, emb, "vec_id",
      "embedding", k = 10, qcb))
    all shouldBe full
    // partial probe: half the lists still recover most of the full ADC
    // top-k (the IVF recall/efficiency trade)
    val half = rows(Similarity.ivfPqTopKFixed(queries, emb, "vec_id",
      "embedding", k = 10, qcents, qcb, nProbe = 8))
    half.intersect(full).size.toDouble should be >= full.size * 0.6
  }

  test("nearest_centroids kernel == composed literal scoring, row for row") {
    // centroids from real embedding rows, cids deliberately NOT in index
    // order so tie-breaks/ordering are exercised on the id, not the slot
    val centVecs = emb.orderBy("vec_id")
      .select(F.col("vec_id"), F.col("embedding").cast("array<double>"))
      .limit(10).collect()
      .map(_.getSeq[Double](1).toArray)
    val cents = centVecs.zipWithIndex.map { case (v, i) => ((i * 7) % 10, v) }
    val centsLit = F.typedLit(cents.toSeq.map { case (c, v) => (c, v.toSeq) })
    val k3 = graft.plans.GraftExtensions.callNative("nearest_centroids",
      F.col("embedding").cast("array<double>"), centsLit, F.lit(3))
    val got = emb.select(F.col("vec_id"), k3.as("nn")).collect().map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
    }.toMap
    got.values.foreach(_.length shouldBe 3)
    // composed baseline: array_sort over per-centroid literal structs
    val composed = emb.select(F.col("vec_id"),
        F.slice(F.array_sort(Similarity.l2ScoredComposed(cents,
          F.col("embedding"))), 1, 3).as("nn"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
      }.toMap
    got.keySet shouldBe composed.keySet
    got.foreach { case (id, nn) =>
      nn.map(_.getInt(1)) shouldBe composed(id).map(_.getInt(1))
      // d is the SAME metric in the same FP evaluation order: exact equality
      nn.map(_.getDouble(0)) shouldBe composed(id).map(_.getDouble(0))
    }
    // csim field == the cosine kernel against the winning centroid
    val byCid = cents.toMap
    val vecs = emb
      .select(F.col("vec_id"), F.col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def refCos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    got.foreach { case (id, nn) =>
      nn.foreach { s =>
        s.getDouble(2) shouldBe refCos(vecs(id), byCid(s.getInt(1)))
      }
    }
  }

  test("nearest_centroids at k=4096: constant-size plan, codegen, parity") {
    // the scale gate the literal path fails: 4096 centroids × 64 dims as
    // per-centroid literals is a multi-MB plan that trips janino's 64 KB
    // method limit (logged CodegenFallback); the kernel must plan small
    // and stay compiled. codegen.fallback=false turns any silent
    // interpreted fallback of the expression into a hard error.
    val dim = 64
    val cents = Array.tabulate(4096) { i =>
      (i, Array.tabulate(dim) { j =>
        (((i.toLong * 1315423911L + j * 2654435761L) % 1000L).toDouble /
          250.0) - 2.0
      })
    }
    val centsLit = F.typedLit(cents.toSeq.map { case (c, v) => (c, v.toSeq) })
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val q = emb.select(F.col("vec_id"),
        F.element_at(graft.plans.GraftExtensions.callNative(
          "nearest_centroids", F.col("embedding").cast("array<double>"),
          centsLit, F.lit(1)), 1).getField("cid").as("cid"))
      val got = q.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      got.size shouldBe 500
      // the plan must NOT grow with k: a literal-path plan at this k is
      // tens of MB; the kernel's is a constant-size call
      val plan = q.queryExecution.executedPlan.toString
      plan.length should be < 65536
      // the starred prefix is executedPlan.toString's whole-stage-codegen
      // marker; with codegen.fallback=false above, a janino failure would
      // have thrown instead of silently interpreting
      "\\*\\(\\d+\\) Project".r.findFirstIn(plan) should not be empty
      // brute-force argmin parity on a sample of rows
      val vecs = emb.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id"), F.col("embedding").cast("array<double>"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      vecs.foreach { case (id, v) =>
        val best = cents.minBy { case (cid, cv) =>
          val d = cv.map(x => x * x).sum -
            2.0 * v.zip(cv).map { case (a, b) => a * b }.sum
          (d, cid)
        }._1
        got(id) shouldBe best
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("nearest_centroids: SQL face, tie-breaks, null/edge semantics") {
    graft.plans.GraftExtensions.register(spark)
    // two equidistant centroids: lowest cid wins, in slot order
    val tie = spark.sql(
      "SELECT nearest_centroids(array(0.0D, 0.0D), " +
        "array(struct(7, array(1.0D, 0.0D)), struct(2, array(0.0D, 1.0D))), " +
        "3) AS nn").head().getSeq[org.apache.spark.sql.Row](0)
    tie.map(_.getInt(1)) shouldBe Seq(2, 7) // m > k → k entries
    tie.foreach(_.getDouble(0) shouldBe 1.0) // d = |c|² − 2·0
    // zero-norm vector: assignment still total (d = |c|²), csim null
    val z = spark.sql(
      "SELECT nearest_centroids(array(0.0D, 0.0D), " +
        "array(struct(0, array(3.0D, 4.0D))), 1) AS nn")
      .head().getSeq[org.apache.spark.sql.Row](0)
    z.head.getInt(1) shouldBe 0
    z.head.isNullAt(2) shouldBe true
    // null vector → null; wrong-length vector → null (whole result)
    spark.sql("SELECT nearest_centroids(CAST(NULL AS ARRAY<DOUBLE>), " +
        "array(struct(0, array(1.0D))), 1) IS NULL AS n")
      .head().getBoolean(0) shouldBe true
    spark.sql("SELECT nearest_centroids(array(1.0D, 2.0D, 3.0D), " +
        "array(struct(0, array(1.0D))), 1) IS NULL AS n")
      .head().getBoolean(0) shouldBe true
    // non-literal centroid argument is an analysis error, not silence
    an[Exception] should be thrownBy
      spark.sql("SELECT nearest_centroids(array(1.0D), " +
        "array(struct(CAST(rand()*0 AS INT), array(1.0D))), 1)").collect()
    // non-finite vector elements (NaN or ±Inf) → whole-result null: an Inf
    // element times a 0.0 centroid element would otherwise put NaN in the
    // surrogate distances, where every comparison is false and the top-m
    // order diverges from the composed baseline's NaN-last sort
    for (bad <- Seq("double('NaN')", "double('Infinity')",
        "double('-Infinity')")) {
      spark.sql(s"SELECT nearest_centroids(array(1.0D, $bad), " +
          "array(struct(0, array(0.0D, 0.0D))), 1) IS NULL AS n")
        .head().getBoolean(0) shouldBe true
    }
    // non-finite CENTROID element is a build-time error, not NaN poison
    an[Exception] should be thrownBy
      spark.sql("SELECT nearest_centroids(array(1.0D), " +
        "array(struct(0, array(double('Infinity')))), 1)").collect()
    // foldable-NULL m would unbox to 0 and silently return empty arrays —
    // it must error with the same strictness as the centroid checks
    an[Exception] should be thrownBy
      spark.sql("SELECT nearest_centroids(array(1.0D), " +
        "array(struct(0, array(1.0D))), CAST(NULL AS INT))").collect()
  }

  test("nearest_centroids: content equality restores CSE/canonicalization") {
    // CentroidSet holds Arrays; without a content-based equals two calls
    // built from the SAME centroid literal would compare by reference and
    // defeat the subexpression elimination the old all-literal form got
    // for free
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import graft.functions.{NearestCentroids, QuantizerKernel}
    // two CentroidSets built from semantically identical but physically
    // DISTINCT arrays (e.g. the same centroid seq passed through typedLit
    // twice): without content-based equals, case-class equality over
    // Array fields is reference equality and CSE/canonicalized plan
    // matching — free under the old all-literal form — silently dies
    def centData(head: Double): GenericArrayData =
      new GenericArrayData(Array[Any](
        new GenericInternalRow(Array[Any](0,
          new GenericArrayData(Array(head, 2.0)))),
        new GenericInternalRow(Array[Any](1,
          new GenericArrayData(Array(3.0, 4.0))))))
    def build(head: Double): NearestCentroids = NearestCentroids(
      Literal.create(Seq(1.0, 0.0), ArrayType(DoubleType, containsNull = false)),
      QuantizerKernel.fromLiteral(centData(head)), 1)
    val (a, b) = (build(1.0), build(1.0))
    (a.cs eq b.cs) shouldBe false // distinct instances, same content
    a.cs shouldBe b.cs
    a.cs.hashCode shouldBe b.cs.hashCode
    a shouldBe b
    a.hashCode shouldBe b.hashCode
    a.semanticEquals(b) shouldBe true
    // and a DIFFERENT centroid payload must not compare equal
    (a == build(9.0)) shouldBe false
  }

  test("malformedVectors audits exactly the rows the kernel null-assigns") {
    import spark.implicits._
    val dim = 2
    val rows = Seq(
      (1L, Some(Seq(Some(1.0), Some(2.0)))),            // clean
      (2L, None),                                       // null vector
      (3L, Some(Seq(Some(1.0)))),                       // wrong length
      (4L, Some(Seq(Some(1.0), None))),                 // null element
      (5L, Some(Seq(Some(Double.NaN), Some(0.0)))),     // NaN
      (6L, Some(Seq(Some(Double.PositiveInfinity), Some(0.0))))) // Inf
    val df = rows.toDF("id", "vec")
    val audit = Similarity.malformedVectors(df, "id", "vec", dim)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    audit shouldBe Map(2L -> "null_vector", 3L -> "wrong_length",
      4L -> "null_element", 5L -> "non_finite_element",
      6L -> "non_finite_element")
    // contract cross-check: the audited ids are EXACTLY the ids the kernel
    // maps to a null assignment (the silently-survives-dedup set)
    graft.plans.GraftExtensions.register(spark)
    val cents = F.typedLit(Seq((0, Seq(0.0, 0.0))))
    val nullAssigned = df.select(F.col("id"),
        graft.plans.GraftExtensions.callNative("nearest_centroids",
          F.col("vec").cast("array<double>"), cents, F.lit(1)).as("nn"))
      .filter(F.col("nn").isNull)
      .collect().map(_.getLong(0)).toSet
    nullAssigned shouldBe audit.keySet
    // the audit is one scan-side projection: no shuffle in the plan
    Similarity.malformedVectors(df, "id", "vec", dim)
      .queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("semDedupAudited: dirty rows neither crash training nor vanish silently") {
    import spark.implicits._
    val dim = 8
    // a near-dup pair + distinct rows, so the dedup has real work to do
    val clean = (1 to 10).map { i =>
      (i.toLong, Some(Seq.tabulate(dim)(j =>
        Option(if (j == i % dim) 1.0 else 0.01 * i))))
    }
    val dup = Seq(
      (21L, Some(Seq.tabulate(dim)(j => Option(if (j == 0) 1.0 else 0.001)))),
      (22L, Some(Seq.tabulate(dim)(j => Option(if (j == 0) 1.0 else 0.0011)))))
    val dirty = Seq[(Long, Option[Seq[Option[Double]]])](
      (101L, None),                                   // null vector
      (102L, Some(Seq(Option(1.0)))),                 // wrong length
      (103L, Some(Seq.tabulate(dim)(j =>
        Option(if (j == 0) Double.NaN else 1.0)))))   // NaN element
    val df = (clean ++ dup ++ dirty).toDF("id", "vec")
    // training must survive the dirty rows (the screen in hashSample),
    // and the audit frame must name exactly them
    val (kept, malformed) = Similarity.semDedupAudited(df, "id", "vec",
      nClusters = 2, threshold = 0.999)
    malformed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      .keySet shouldBe Set(101L, 102L, 103L)
    val keptIds = kept.select("id").collect().map(_.getLong(0)).toSet
    // the documented contract: malformed rows pass through UNEXAMINED
    Set(101L, 102L, 103L).subsetOf(keptIds) shouldBe true
    // the dup pair lost exactly one member; clean singletons survive
    keptIds.intersect(Set(21L, 22L)).size shouldBe 1
    (1 to 10).foreach(i => keptIds should contain(i.toLong))
    // serving-face twin agrees on the audit set
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audit-cents").toString + "/c"
    Similarity.saveSemDedupCentroids(df, "id", "vec", dir, nClusters = 2)
    val (_, malformed2) = Similarity.semDedupWithCentroidsAudited(
      spark, dir, df, "id", "vec", threshold = 0.999)
    malformed2.collect().map(_.getLong(0)).toSet shouldBe Set(101L, 102L, 103L)
  }

  test("pq_codes: null and ragged vectors both yield NULL codes") {
    graft.plans.GraftExtensions.register(spark)
    spark.sql("SELECT pq_codes(CAST(NULL AS ARRAY<DOUBLE>), " +
        "array(array(array(0.0D)))) IS NULL AS z")
      .collect()(0).getBoolean(0) shouldBe true
    // a ragged vector is a DATA condition (one bad embedding row must
    // not kill a 100 TB job): NULL codes, matching pq_codes_fixed and
    // nearest_centroids — it used to throw here
    spark.sql("SELECT pq_codes(array(1.0D), " +
        "array(array(array(0.0D, 0.0D)))) IS NULL AS z")
      .collect()(0).getBoolean(0) shouldBe true
  }

  test("topKPerKey: rank-limit pushdown keeps k per key before the shuffle") {
    import graft.extras.Relational
    val top = Relational.topKPerKey(
      Tables.customer(spark, sf).select("c_mktsegment", "c_custkey", "c_acctbal"),
      Seq("c_mktsegment"), "c_acctbal", "c_custkey", k = 3)
    val rows = top.collect()
    val bySeg = rows.groupBy(_.getString(0))
    bySeg.values.foreach(_.length should be <= 3)
    bySeg.size should be > 1
    // the pre-shuffle per-partition limit is what makes this scale: the
    // exchange carries O(k·keys) rows, not the corpus
    top.queryExecution.executedPlan.toString should include("WindowGroupLimit")
  }

  test("zero vectors (NaN cosine) never enter top-k or near-dup results") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val good = (0L until 10L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val zero = (99L, Array.fill(8)(0.0f))
    val df = (good :+ zero).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df.filter(F.col("vec_id") < 3), df,
      "vec_id", "embedding", k = 3)
      .select("cand_id").collect().map(_.getLong(0)).toSet
    // without the isnan guard, NaN sorts above every real score and 99
    // would be rank 1 for EVERY query
    (top should not).contain(99L)
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
      dim = 8, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (x, y) => x should not be 99L; y should not be 99L }
  }

  test("LSH topk scans each vector table once, regardless of nTables") {
    // All 8 tables' bucket keys come from ONE projection per side (explode
    // of (table, bucket) structs) and the repartition materialization
    // points let the scoring joins reuse the same exchanges — the N-branch
    // join-per-table formulation scanned each side once per table.
    val q = Similarity.lshTopK(emb.filter(F.col("vec_id") < 10), emb,
      "vec_id", "embedding", k = 5, dim = 64)
    q.collect()
    val p = FallbackAudit.finalPlan(q).toString
    "FileScan parquet".r.findAllIn(p).size should be <= 2
    p should include("ReusedExchange")
  }

  test("IVF topk probes centroid lists and achieves nontrivial recall") {
    val queries = emb.filter(F.col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCentroids = 8, nProbe = 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ivf.groupBy(_._1).values.foreach(_.size should be <= 5)
    exact.intersect(ivf).size.toDouble should be >= exact.size * 0.2
  }

  test("persisted IVF index: partition-pruned probe == inline ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCentroids = 8)
    val queries = emb.filter(F.col("vec_id") < 10)
    val probe = Similarity.probeIvfIndex(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
    // same quantizer knobs -> byte-identical centroid set -> same results
    val inline = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCentroids = 8, nProbe = 4)
    val a = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = inline.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    a shouldBe b
    a should not be empty
    // the probe reads ONLY probed list directories: the list predicate
    // must be INSIDE the scan's PartitionFilters (pruning at planning
    // time), not a post-scan Filter
    val scan = probe.queryExecution.executedPlan.toString
    scan should include regex """PartitionFilters: \[[^\]]*__list"""
  }

  test("centroid training above the Lloyd sample cap: k centroids train " +
    "and serve (saveSemDedupCentroids, semDedup, semDedupAuto)") {
    // k = n distinct points: every point seeds its own centroid, Lloyd
    // keeps it there, every cluster is a singleton and nothing dedups
    val n = Similarity.CentroidSampleCap + 1
    val pts = spark.range(n).select(F.col("id").as("vec_id"),
      F.array(F.col("id").cast("double") + 1.0, F.lit(1.0)).as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cap").toString
    Similarity.saveSemDedupCentroids(pts, "vec_id", "embedding", dir,
      nClusters = n)
    spark.read.parquet(s"$dir/_centroids").count() shouldBe n
    Similarity.semDedup(pts, "vec_id", "embedding", nClusters = n)
      .count() shouldBe n
    // semDedupAuto's derived count: ceil(n / 1) = n clusters
    Similarity.semDedupAuto(pts, "vec_id", "embedding",
      maxRowsPerCluster = 1).count() shouldBe n
  }

  test("persisted IVF-PQ index: exhaustive probe == pqTopKRerank; pruned plans") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", dir, dim = 64,
      nCentroids = 8, m = 16, ksub = 32)
    val queries = emb.filter(F.col("vec_id") < 10)
    // nProbe == nCentroids -> every list probed -> identical candidate set
    // and identical codebooks (same seed) -> same results as the inline path
    val exhaustive = Similarity.probeIvfPqIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 8, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cbs = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 32)
    val inline = Similarity.pqTopKRerank(queries, emb, "vec_id", "embedding",
        k = 5, cbs, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exhaustive shouldBe inline
    exhaustive should not be empty
    // pruned probe: partition filter in the scan, and the ADC shortlist
    // subtree reads codes WITHOUT the full vector column (column pruning
    // keeps the vector bytes on disk until the rerank)
    val pruned = Similarity.probeIvfPqIndex(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 4, shortlist = 50)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    plan should include regex """PartitionFilters: \[[^\]]*__list"""
    val codesOnlyScan = """ReadSchema: struct<cand_id:bigint,codes:array<tinyint>>"""
    plan should include(codesOnlyScan)
    // pruned probe still achieves non-trivial recall vs the exact path
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pruned.select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.intersect(got).size.toDouble should be >= exact.size * 0.2
  }

  test("index append: frozen quantizer, probes see the union immediately") {
    val evens = emb.filter(F.col("vec_id") % 2 === 0)
    val odds = emb.filter(F.col("vec_id") % 2 === 1)
    val queries = emb.filter(F.col("vec_id") < 10)
    // IVF: build on half, append the other half; an exhaustive probe
    // exact-scores every stored row, so it must equal brute force over
    // the FULL set even though the quantizer never saw the appended half
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.buildIvfIndex(evens, "vec_id", "embedding", dir, nCentroids = 8)
    Similarity.appendToIvfIndex(odds, "vec_id", "embedding", dir)
    val probed = Similarity.probeIvfIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding",
        k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    probed shouldBe exact
    // IVF-PQ: same, with an all-covering shortlist so the exact rerank
    // decides everything (codebook quality cannot matter)
    val dirPq = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString
    Similarity.buildIvfPqIndex(evens, "vec_id", "embedding", dirPq, dim = 64,
      nCentroids = 8, m = 8, ksub = 16)
    Similarity.appendToIvfPqIndex(odds, "vec_id", "embedding", dirPq)
    spark.read.parquet(dirPq).count() shouldBe emb.count()
    val probedPq = Similarity.probeIvfPqIndex(spark, dirPq, queries,
        "vec_id", "embedding", k = 5, nProbe = 8, shortlist = 600)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    probedPq shouldBe exact
    // wrong-flavor appends fail fast instead of silently corrupting the
    // index (codes-less rows would be invisible to ADC probes)
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendToIvfIndex(odds, "vec_id", "embedding", dirPq)
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendToIvfPqIndex(odds, "vec_id", "embedding", dir)
  }

  test("index append crash story: a batchId retry converges a partially " +
    "landed batch to exactly one copy (no duplicates, recall exact); " +
    "re-appends of a committed id are no-ops") {
    import graft.operators.StoreLayout
    import org.apache.hadoop.fs.Path
    val evens = emb.filter(F.col("vec_id") % 2 === 0)
    val odds = emb.filter(F.col("vec_id") % 2 === 1)
    val queries = emb.filter(F.col("vec_id") < 10)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-crash").toString
    Similarity.buildIvfIndex(evens, "vec_id", "embedding", dir,
      nCentroids = 8)
    val nEven = evens.count()
    val nAll = emb.count()
    Similarity.appendToIvfIndex(odds, "vec_id", "embedding", dir,
      batchId = Some("b1"))
    spark.read.parquet(dir).count() shouldBe nAll
    def probe() = Similarity.probeIvfIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def brute(cands: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(queries, cands, "vec_id", "embedding",
          k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    probe() shouldBe brute(emb)
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    // reconstruct the crash-mid-rename state: SOME of the batch's parts
    // renamed in, neither the manifest extension nor the marker written
    fs.delete(new Path(p, "_appends/b1"), false) shouldBe true
    val vers = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_manifest-")).sorted
    vers should have size 2 // v1 = build, v2 = the append
    fs.delete(new Path(p, vers.last), false) shouldBe true
    val landed = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__list="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq.map(_.getPath))
      .filter(_.getName.startsWith("append-b1-"))
    landed should not be empty
    fs.delete(landed.head, false)
    // raw disk holds a partial batch, but probes are manifest-pinned:
    // they serve the pre-append snapshot, never the torn state
    val partial = spark.read.parquet(dir).count()
    partial should be < nAll
    partial should be >= nEven
    probe() shouldBe brute(evens)
    // retry with the SAME id: sweeps the leftovers, lands the batch once
    Similarity.appendToIvfIndex(odds, "vec_id", "embedding", dir,
      batchId = Some("b1"))
    spark.read.parquet(dir).count() shouldBe nAll
    spark.read.parquet(dir).select("cand_id").distinct()
      .count() shouldBe nAll // duplicate-free
    // probes are exact again (exhaustive probe == brute force)
    Similarity.probeIvfIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a committed id re-appended is a full no-op
    Similarity.appendToIvfIndex(odds, "vec_id", "embedding", dir,
      batchId = Some("b1"))
    spark.read.parquet(dir).count() shouldBe nAll
    // same protocol on the PQ flavor: duplicate-free retry
    val dirPq = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-crash").toString
    Similarity.buildIvfPqIndex(evens, "vec_id", "embedding", dirPq,
      dim = 64, nCentroids = 8, m = 8, ksub = 16)
    Similarity.appendToIvfPqIndex(odds, "vec_id", "embedding", dirPq,
      batchId = Some("pq1"))
    Similarity.appendToIvfPqIndex(odds, "vec_id", "embedding", dirPq,
      batchId = Some("pq1"))
    spark.read.parquet(dirPq).count() shouldBe nAll
  }

  test("index compaction: one file per list, probes identical, reader " +
    "isolation by grace, pinned versions readable, markers survive") {
    import graft.operators.StoreLayout
    import org.apache.hadoop.fs.Path
    val third0 = emb.filter(F.col("vec_id") % 3 === 0)
    val third1 = emb.filter(F.col("vec_id") % 3 === 1)
    val third2 = emb.filter(F.col("vec_id") % 3 === 2)
    val queries = emb.filter(F.col("vec_id") < 10)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-compact").toString
    Similarity.buildIvfIndex(third0, "vec_id", "embedding", dir,
      nCentroids = 8)
    Similarity.appendToIvfIndex(third1, "vec_id", "embedding", dir,
      batchId = Some("b1"))
    Similarity.appendToIvfIndex(third2, "vec_id", "embedding", dir,
      batchId = Some("b2"))
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    def served() = StoreLayout.servingFiles(fs, p)
    def probe() = Similarity.probeIvfIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val beforeFiles = served()
    val beforeProbe = probe()
    beforeProbe shouldBe Similarity.bruteForceTopK(queries, emb,
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // build + 2 appends -> every populated list holds >= 2 files overall
    beforeFiles.size should be > 8
    val preVersions = Similarity.indexVersions(spark, dir)
    preVersions shouldBe Seq(1L, 2L, 3L)
    Similarity.compactIvfIndex(spark, dir)
    // folded: exactly one file per populated list, all compact-stamped
    val after = served()
    after.foreach(n => n.split('/').last should startWith("compact-v"))
    after.map(_.split('/').head).distinct.size shouldBe after.size
    after.size should be <= 8
    // probe identical through the swap; the plan still partition-prunes
    val compacted = Similarity.probeIvfIndex(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 8)
    compacted.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet shouldBe beforeProbe
    compacted.queryExecution.executedPlan.toString should
      include regex """PartitionFilters: \[[^\]]*__list"""
    // reader isolation: the superseded parts are still on disk (deferred
    // age-gated GC), so a probe PINNED to the pre-compaction version
    // still serves -- time travel within the grace window
    beforeFiles.foreach(n => fs.exists(new Path(p, n)) shouldBe true)
    Similarity.probeIvfIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 8, version = Some(preVersions.last))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet shouldBe beforeProbe
    // pinning the BUILD-only version serves the build-only rows
    Similarity.probeIvfIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 8, version = Some(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet shouldBe Similarity.bruteForceTopK(queries, third0,
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a pruned/never-existed version fails with the retention story
    val err = intercept[IllegalArgumentException] {
      Similarity.probeIvfIndex(spark, dir, queries, "vec_id",
        "embedding", k = 5, nProbe = 8, version = Some(99L))
    }
    err.getMessage should include("no manifest version 99")
    // idempotence markers survived the fold: a re-append of a folded
    // batch is a no-op (no duplicates)
    val nAll = emb.count()
    spark.read.parquet(dir).select("cand_id").distinct()
      .count() shouldBe nAll
    Similarity.appendToIvfIndex(third1, "vec_id", "embedding", dir,
      batchId = Some("b1"))
    probe() shouldBe beforeProbe
    // GC cadence: compaction #1's COMMIT recorded these as superseded
    // (supersession-time recording, r16); this compaction re-reads the
    // ledger keeping first timestamps; backdating it past the grace
    // lets the next maintenance call sweep exactly them (the flat
    // stores' churn-test recipe)
    Similarity.compactIvfIndex(spark, dir)
    val aged = StoreLayout.readSuspects(fs, p).map { case (n, _) =>
      n -> (System.currentTimeMillis() - 2 * Sketches.SuspectGraceMs)
    }
    aged.keySet should contain allElementsOf beforeFiles.toSet
    StoreLayout.writeSuspects(fs, p, aged)
    Similarity.compactIvfIndex(spark, dir)
    beforeFiles.foreach(n => fs.exists(new Path(p, n)) shouldBe false)
    probe() shouldBe beforeProbe
  }

  test("index compaction crash: a squatting target fails LOUDLY with " +
    "the old manifest serving; the retry sweeps debris and succeeds") {
    import graft.operators.StoreLayout
    import org.apache.hadoop.fs.Path
    val evens = emb.filter(F.col("vec_id") % 2 === 0)
    val odds = emb.filter(F.col("vec_id") % 2 === 1)
    val queries = emb.filter(F.col("vec_id") < 10)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-compact-crash").toString
    Similarity.buildIvfIndex(evens, "vec_id", "embedding", dir,
      nCentroids = 8)
    Similarity.appendToIvfIndex(odds, "vec_id", "embedding", dir,
      batchId = Some("b1"))
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    def probe() = Similarity.probeIvfIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    // squat on the next version's first target name in some populated
    // list: local-FS rename onto an existing target returns false
    val (curVer, files) = StoreLayout.currentManifest(fs, p).get
    val listDir = files.head.split('/').head
    val squatter = new Path(p,
      f"$listDir/compact-v${curVer + 1}%08d-p00000.parquet")
    fs.create(squatter, false).close()
    val ex = intercept[java.io.IOException] {
      Similarity.compactIvfIndex(spark, dir)
    }
    ex.getMessage should include("nothing was destroyed")
    // the index still serves the current manifest, untouched
    probe() shouldBe before
    // the failed attempt left `_compact_tmp` as its marker; the retry
    // sweeps the squatter (this attempt's own debris class) and lands
    fs.exists(new Path(p, "_compact_tmp")) shouldBe true
    Similarity.compactIvfIndex(spark, dir)
    probe() shouldBe before
    StoreLayout.servingFiles(fs, p)
      .foreach(n => n.split('/').last should startWith("compact-v"))
  }

  test("index append valve: autoCompactParts keeps the served file " +
    "count bounded across a stream of appends; probes stay exact") {
    val queries = emb.filter(F.col("vec_id") < 10)
    val base = emb.filter(F.col("vec_id") % 8 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-valve").toString
    Similarity.buildIvfIndex(base, "vec_id", "embedding", dir,
      nCentroids = 4)
    (1 to 7).foreach { i =>
      Similarity.appendToIvfIndex(
        emb.filter(F.col("vec_id") % 8 === i), "vec_id", "embedding",
        dir, batchId = Some(s"v$i"), autoCompactParts = 8)
    }
    val (fs, p) = graft.operators.StoreLayout.fsFor(spark, dir)
    // raw appends would serve ~8 batches x populated lists files; the
    // valve folds once the count passes 8, so the bound is threshold +
    // one un-compacted tail of appends (each append adds <= nLists files)
    graft.operators.StoreLayout.servingFiles(fs, p).size should be <= 16
    Similarity.probeIvfIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet shouldBe Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("index valve counts EXCESS over the per-list floor: a threshold " +
    "below nLists no longer rewrites the index on every append; " +
    "compactIvfIndex refuses a non-index path before touching its GC " +
    "ledger") {
    import graft.operators.StoreLayout
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-floor").toString
    Similarity.buildIvfIndex(emb.filter(F.col("vec_id") % 4 === 0),
      "vec_id", "embedding", dir, nCentroids = 8)
    Similarity.compactIvfIndex(spark, dir)
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    val floor = StoreLayout.servingFiles(fs, p).size // one per populated list
    // threshold = floor: under the OLD raw-count rule (served > floor
    // triggers immediately) this append would fold the whole index; the
    // excess rule leaves the appended files in place
    Similarity.appendToIvfIndex(emb.filter(F.col("vec_id") % 4 === 1),
      "vec_id", "embedding", dir, batchId = Some("fl1"),
      autoCompactParts = floor)
    val afterOne = StoreLayout.servingFiles(fs, p)
    afterOne.count(_.split('/').last.startsWith("append-")) should be > 0
    // keep appending: once the EXCESS passes the threshold the valve
    // folds back to the floor
    Similarity.appendToIvfIndex(emb.filter(F.col("vec_id") % 4 === 2),
      "vec_id", "embedding", dir, batchId = Some("fl2"),
      autoCompactParts = floor)
    Similarity.appendToIvfIndex(emb.filter(F.col("vec_id") % 4 === 3),
      "vec_id", "embedding", dir, batchId = Some("fl3"),
      autoCompactParts = floor)
    val served = StoreLayout.servingFiles(fs, p)
    served.size should be <= floor + floor
    // kind guard: pointed at a flat sketch store, the compactor throws
    // BEFORE mutating the store's suspects ledger
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft-ivf-floor-kmv").toString + "/store"
    Sketches.buildKmvStore(Tables.orders(spark, sf),
      Seq("o_orderstatus"), "o_custkey", k = 16, storeDir)
    val (sfs, sp) = StoreLayout.fsFor(spark, storeDir)
    StoreLayout.writeSuspects(sfs, sp, Map("sentinel.parquet" -> 123L))
    val err = intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, storeDir)
    }
    err.getMessage should include("_centroids")
    StoreLayout.readSuspects(sfs, sp) shouldBe Map("sentinel.parquet" -> 123L)
  }

  test("band-index snapshot pinning: a (shingle, bands) pair resolved " +
    "once reproduces the probe exactly while appends land") {
    val corpus = docs.filter(F.col("doc_id") % 3 === 0)
    val growth = docs.filter(F.col("doc_id") % 3 === 1).limit(15)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-band-snap").toString + "/idx"
    Dedup.saveBandIndex(corpus, "doc_id", "text", idx)
    val snap = Dedup.bandIndexSnapshot(spark, idx)
    snap shouldBe ((1L, 1L))
    val before = Dedup.dedupAgainstIndex(growth, "doc_id", "text", idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // grow the index with the probe batch itself: every probe doc now
    // near-dups its indexed self, so the CURRENT probe drops everything
    Dedup.appendToBandIndex(growth, "doc_id", "text", idx,
      batchId = Some("snap-b1"))
    Dedup.dedupAgainstIndex(growth, "doc_id", "text", idx)
      .count() shouldBe 0L
    // ...but the PINNED probe reproduces the pre-append result exactly
    Dedup.dedupAgainstIndex(growth, "doc_id", "text", idx,
        snapshot = Some(snap))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe before
    // a fresh snapshot resolves the post-append pair (both advanced)
    val snap2 = Dedup.bandIndexSnapshot(spark, idx)
    snap2._1 should be > snap._1
    snap2._2 should be > snap._2
    Dedup.dedupAgainstIndex(growth, "doc_id", "text", idx,
      snapshot = Some(snap2)).count() shouldBe 0L
  }

  test("index appenders racing the compactor: 4 threads x distinct " +
    "batches with interleaved compactions lose nothing, duplicate " +
    "nothing; the final probe is exact") {
    import graft.operators.StoreLayout
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-race").toString + "/index"
    Similarity.buildIvfIndex(emb.filter(F.col("vec_id") % 5 === 0),
      "vec_id", "embedding", dir, nCentroids = 4)
    // 4 concurrent appenders, each its own batch id; a compactor thread
    // folds twice while they run (carry-forward commits must republish
    // batches landed mid-fold; single concurrent COMPACTOR per the
    // contract — appends are free)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appenders = (1 to 4).map { i =>
      new Thread(() =>
        try Similarity.appendToIvfIndex(
          emb.filter(F.col("vec_id") % 5 === i), "vec_id", "embedding",
          dir, batchId = Some(s"race-$i"))
        catch { case t: Throwable => errs.add(t) })
    }
    val compactor = new Thread(() =>
      try (1 to 2).foreach { _ =>
        Similarity.compactIvfIndex(spark, dir); Thread.sleep(50)
      } catch { case t: Throwable => errs.add(t) })
    appenders.foreach(_.start()); compactor.start()
    appenders.foreach(_.join()); compactor.join()
    if (!errs.isEmpty) throw errs.peek() // fail loudly on any thread error
    // exactly one copy of every vector, whatever the interleaving
    val nAll = emb.count()
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    val served = spark.read.option("basePath", dir).parquet(
      StoreLayout.servingFiles(fs, p)
        .map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
    served.count() shouldBe nAll
    served.select("cand_id").distinct().count() shouldBe nAll
    // one more compaction folds whatever the race left; probe == brute
    Similarity.compactIvfIndex(spark, dir)
    val queries = emb.filter(F.col("vec_id") < 10)
    Similarity.probeIvfIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("index delete: scope-limited rewrite erases exactly the target " +
    "ids, untouched lists' files survive byte-identically, re-delete " +
    "is a no-op; band-index delete revives near-dup survivors") {
    import graft.operators.StoreLayout
    import spark.implicits._
    val evens = emb.filter(F.col("vec_id") % 2 === 0)
    val odds = emb.filter(F.col("vec_id") % 2 === 1)
    val queries = emb.filter(F.col("vec_id") < 10)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-del").toString + "/index"
    Similarity.buildIvfIndex(evens, "vec_id", "embedding", dir,
      nCentroids = 8)
    Similarity.appendToIvfIndex(odds, "vec_id", "embedding", dir,
      batchId = Some("d1"))
    Similarity.compactIvfIndex(spark, dir)
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    val beforeFiles = StoreLayout.servingFiles(fs, p).toSet
    // delete ONE id: exactly its list is rewritten, every other list's
    // files ride the carry-forward commit untouched
    val one = Seq(42L).toDF("vec_id")
    Similarity.deleteFromIvfIndex(spark, dir, one, "vec_id")
    val afterOne = StoreLayout.servingFiles(fs, p).toSet
    (beforeFiles intersect afterOne) should not be empty
    val changedLists = (beforeFiles diff afterOne).map(_.split('/').head)
    changedLists should have size 1
    // manifest-pinned serving (the raw listing still holds the
    // grace-retained superseded files, by design)
    def servedIvf() = spark.read.option("basePath", dir).parquet(
      StoreLayout.servingFiles(fs, p)
        .map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
    servedIvf().filter(F.col("cand_id") === 42L).count() shouldBe 0L
    // bulk delete: exhaustive probe == brute force over the survivors
    val dropIds = emb.filter(F.col("vec_id") % 7 === 3).select("vec_id")
    Similarity.deleteFromIvfIndex(spark, dir, dropIds, "vec_id")
    val kept = emb.filter(F.col("vec_id") % 7 =!= 3 &&
      F.col("vec_id") =!= 42L)
    Similarity.probeIvfIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Similarity.bruteForceTopK(queries, kept, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // idempotent: a re-run touches nothing (no list holds the ids)
    val manifestBefore = StoreLayout.currentManifest(fs, p).get._1
    Similarity.deleteFromIvfIndex(spark, dir, dropIds, "vec_id")
    StoreLayout.currentManifest(fs, p).get._1 shouldBe manifestBefore
    // band index: deleting the indexed near-dups revives the batch docs
    val corpus = docs.filter(F.col("doc_id") % 3 === 0)
    val batch = docs.filter(F.col("doc_id") % 3 === 1).limit(15)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-band-del").toString + "/idx"
    Dedup.saveBandIndex(corpus, "doc_id", "text", idx)
    Dedup.appendToBandIndex(batch, "doc_id", "text", idx,
      batchId = Some("bd1"))
    // every batch doc now near-dups its indexed self
    Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx)
      .count() shouldBe 0L
    Dedup.deleteFromBandIndex(spark, idx, batch.select("doc_id"), "doc_id")
    // the erased docs no longer gate the batch; survivors = the
    // pre-append result (their only hits were against the corpus)
    val preAppend = Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val freshIdx = java.nio.file.Files
      .createTempDirectory("graft-band-del2").toString + "/idx"
    Dedup.saveBandIndex(corpus, "doc_id", "text", freshIdx)
    preAppend shouldBe Dedup.dedupAgainstIndex(batch, "doc_id", "text",
        freshIdx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // erased ids are gone from BOTH tables
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    StoreLayout.readStore(spark, idx)
      .filter(F.col("id").isin(batchIds.toSeq: _*)).count() shouldBe 0L
    StoreLayout.readStore(spark, s"$idx/_bands")
      .filter(F.col("id").isin(batchIds.toSeq: _*)).count() shouldBe 0L
  }

  test("IVF with k-means refinement: deterministic, centroids move, recall holds") {
    val queries = emb.filter(F.col("vec_id") < 10)
    val init = emb.select(F.col("embedding").cast("array<double>"))
      .sample(withReplacement = false, 0.5, 42L).limit(8)
      .collect().zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
    val refinedA = Similarity.kmeansRefine(emb, "vec_id", "embedding", init, iters = 3)
    val refinedB = Similarity.kmeansRefine(emb, "vec_id", "embedding", init, iters = 3)
    // deterministic across invocations (same seed, same sample)
    refinedA.map(_._2.toSeq) shouldBe refinedB.map(_._2.toSeq)
    // refinement actually moves centroids off the raw sample
    refinedA.map(_._2.toSeq) should not be init.map(_._2.toSeq)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCentroids = 8, nProbe = 4, refineIters = 2)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.intersect(ivf).size.toDouble should be >= exact.size * 0.2
  }

  test("hash sampling is deterministic, partition-independent, ~fraction-sized") {
    import graft.operators.Sampling
    val a = Sampling.byHash(docs, "doc_id", 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.byHash(docs.repartition(7), "doc_id", 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    a shouldBe b // partitioning must not change the sample
    a.size.toDouble shouldBe (docs.count() * 0.3) +- docs.count() * 0.15
    // different salt -> different (independent) sample
    val c = Sampling.byHash(docs, "doc_id", 0.3, salt = 9).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    c should not be a
  }

  test("stratified sampling keeps per-class fractions; perKey keeps exactly k") {
    import graft.operators.Sampling
    val strat = Sampling.stratified(docs, "lang", "doc_id",
      Map("en" -> 1.0, "de" -> 0.0))
    strat.filter(F.col("lang") === "en").count() shouldBe
      docs.filter(F.col("lang") === "en").count()
    strat.filter(F.col("lang") === "de").count() shouldBe 0
    strat.filter(F.col("lang") === "fr").count() shouldBe 0 // absent class

    val pk = Sampling.perKey(docs, "source", "doc_id", k = 3)
    pk.groupBy("source").count().collect().foreach(_.getLong(1) shouldBe 3)
  }

  test("mixture tags sources and applies weights independently") {
    import graft.operators.Sampling
    val m = Sampling.mixture(Seq(docs -> 1.0, docs -> 0.2), "doc_id")
    m.filter(F.col("source_id") === 0).count() shouldBe docs.count()
    val w1 = m.filter(F.col("source_id") === 1).count().toDouble
    w1 shouldBe (docs.count() * 0.2) +- docs.count() * 0.12
  }

  test("temperatureMixture: alpha interpolates natural -> equal shares") {
    import graft.operators.Sampling
    // three "corpora" of very different sizes from one table
    val big = docs                                        // 500 docs
    val mid = docs.filter(F.col("doc_id") % 5 === 0)      // ~100
    val small = docs.filter(F.col("doc_id") % 50 === 0)   // ~10
    val sizes = Seq(big, mid, small).map(_.count().toDouble)
    // alpha=1: natural proportions — every source keeps ~outFraction
    val nat = Sampling.temperatureMixture(Seq(big, mid, small), "doc_id",
      alpha = 1.0, outFraction = 0.5)
    val natBySrc = nat.groupBy("source_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
    sizes.zipWithIndex.foreach { case (n, i) =>
      natBySrc(i) shouldBe (n * 0.5) +- math.max(6.0, n * 0.3)
    }
    // alpha=0: equal target shares; the small corpus saturates (cap at 1,
    // down-sampling only) and contributes everything it has
    val eq = Sampling.temperatureMixture(Seq(big, mid, small), "doc_id",
      alpha = 0.0, outFraction = 0.3)
    val eqBySrc = eq.groupBy("source_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
    val target = 0.3 * sizes.sum / 3
    eqBySrc(0) shouldBe target +- math.max(6.0, target * 0.35)
    eqBySrc(2) shouldBe sizes(2) // saturated: all ~10 rows kept
    // deterministic under repartitioning
    val again = Sampling.temperatureMixture(
      Seq(big.repartition(7), mid, small), "doc_id",
      alpha = 0.0, outFraction = 0.3)
    again.select("source_id", "doc_id").collect().toSet shouldBe
      eq.select("source_id", "doc_id").collect().toSet
  }

  test("epochShuffle: deterministic total order, epoch-dependent, complete") {
    import graft.operators.Sampling
    val e0 = Sampling.epochShuffle(docs, "doc_id", epoch = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    // same epoch, different input partitioning -> identical order
    val e0again = Sampling.epochShuffle(docs.repartition(7), "doc_id", 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    e0again shouldBe e0
    // different epoch -> different permutation of the SAME rows
    val e1 = Sampling.epochShuffle(docs, "doc_id", epoch = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    e1 should not be e0
    e1.sorted shouldBe e0.sorted
    // total order via range exchange, not a single-partition sort
    val plan = Sampling.epochShuffle(docs, "doc_id", 0L)
      .queryExecution.executedPlan.toString
    plan should include("rangepartitioning")
  }

  test("chunkDocuments: windows cover all tokens with the stated overlap") {
    import spark.implicits._
    val words = (1 to 230).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, words), (2L, "short doc"), (3L, "")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(d, "doc_id", "text",
      size = 100, overlap = 50).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    // 230 tokens, stride 50: ceil((230-100)/50)+1 = 4 chunks
    byDoc(1L).length shouldBe 4
    val texts = byDoc(1L).sortBy(_.getLong(1)).map(_.getString(2))
    texts.head should startWith("w1 ")
    texts(1) should startWith("w51 ") // 50-token overlap
    texts.last should endWith(" w230") // full coverage
    byDoc(2L).length shouldBe 1
    byDoc(2L).head.getString(2) shouldBe "short doc"
    byDoc.contains(3L) shouldBe false // empty doc -> no chunks
  }

  test("tf-idf: common terms score low, rare terms high") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "apple durian durian durian")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // 'apple' appears in all 3 docs -> df=3, idf = ln(4/4)+1 = 1
    out((1L, "apple")) shouldBe ((2L, 3L, 2.0))
    // 'durian' df=1 -> idf = ln(4/2)+1; tf=3
    val (tfD, dfD, scoreD) = out((3L, "durian"))
    tfD shouldBe 3L
    dfD shouldBe 1L
    scoreD shouldBe 3 * (math.log(2.0) + 1) +- 1e-9
  }

  test("tf-idf's only broadcast hint is the 1-row corpus-size aggregate") {
    import spark.implicits._
    val d = Seq((1L, "apple banana"), (2L, "apple cherry")).toDF("doc_id", "text")
    val analyzed = TextAnalysis.tfIdf(d, "doc_id", "text")
      .queryExecution.analyzed.toString
    // No hint may ever touch term-keyed data: a forced broadcast of an
    // unbounded vocabulary is the 100TB OOM mode (df now rides a window,
    // so there is no term join at all to mis-hint).
    "ResolvedHint".r.findAllIn(analyzed).size shouldBe 1
  }

  test("tf-idf scans and tokenizes the corpus exactly once") {
    // The docFreq branch references the tf value (count of when(tf >= 1))
    // precisely so column pruning cannot specialize its copy of the tf
    // aggregate — both branches stay canonically identical and AQE's stage
    // cache computes tf once (the ReusedExchange below). One Generate
    // (tokenize+explode) + one text-bearing scan is the 100 TB contract;
    // the join itself stays AQE-skew-splittable (a window-based df would
    // funnel a stop-word's rows through one task).
    val q = TextAnalysis.tfIdf(docs, "doc_id", "text")
    q.collect()
    val p = FallbackAudit.finalPlan(q).toString
    "Generate explode".r.findAllIn(p).size shouldBe 1
    "FileScan parquet \\[doc_id".r.findAllIn(p).size shouldBe 1
    p should include("ReusedExchange")
  }

  test("bm25: hand-computed scores, length normalization, rare-term boost") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple banana apple"),          // dl=3
      (2L, "apple cherry"),                // dl=2
      (3L, "apple durian durian durian"))  // dl=4
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getInt(3), r.getLong(4), r.getDouble(5))).toMap
    // N=3, avgdl=3
    val (tfA, dlA, dfA, sA) = out((2L, "apple"))
    tfA shouldBe 1L; dlA shouldBe 2; dfA shouldBe 3L
    val idfApple = math.log(0.5 / 3.5 + 1)
    sA shouldBe idfApple * (1 * 2.2) /
      (1 + 1.2 * (0.25 + 0.75 * 2.0 / 3.0)) +- 1e-9
    val (tfD, dlD, dfD, sD) = out((3L, "durian"))
    tfD shouldBe 3L; dlD shouldBe 4; dfD shouldBe 1L
    val idfDurian = math.log(2.5 / 1.5 + 1)
    sD shouldBe idfDurian * (3 * 2.2) /
      (3 + 1.2 * (0.25 + 0.75 * 4.0 / 3.0)) +- 1e-9
    // same doc, same tf: the rarer term outscores the stop-word
    out((2L, "cherry"))._4 should be > sA
  }

  test("bm25 scans and tokenizes the corpus exactly once (shared tf stage)") {
    // tf feeds THREE consumers (scoring join, docFreq, docLens→stats);
    // every auxiliary consumer references every tf column inside a no-op
    // guard so pruning can't break canonical identity — same contract as
    // tf-idf, one text-bearing scan, one Generate, ReusedExchange for the
    // shared tf shuffle.
    val q = TextAnalysis.bm25(docs, "doc_id", "text")
    q.collect()
    val p = FallbackAudit.finalPlan(q).toString
    "Generate explode".r.findAllIn(p).size shouldBe 1
    "FileScan parquet \\[doc_id".r.findAllIn(p).size shouldBe 1
    p should include("ReusedExchange")
    // no hint ever touches term-keyed data (vocabulary broadcast = the
    // 100TB OOM mode); the only hint is the 1-row stats aggregate
    val analyzed = TextAnalysis.bm25(docs, "doc_id", "text")
      .queryExecution.analyzed.toString
    "ResolvedHint".r.findAllIn(analyzed).size shouldBe 1
  }

  test("unigramLogLoss matches the hand-computed MLE cross-entropy") {
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
    val out = TextAnalysis.unigramLogLoss(d, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus counts: a=2, b=2, c=1; T=5
    val t = 5.0
    out(1L)._1 shouldBe 3L
    out(1L)._2 shouldBe (math.log(t) -
      (2 * math.log(2.0) + math.log(2.0)) / 3.0) +- 1e-9
    out(2L)._1 shouldBe 2L
    out(2L)._2 shouldBe (math.log(t) -
      (math.log(2.0) + math.log(1.0)) / 2.0) +- 1e-9
  }

  test("unigramLogLoss scans and tokenizes the corpus exactly once") {
    // Same stage-sharing contract as bm25: tf feeds the scoring join and
    // the corpus-frequency aggregate, ctf feeds the join and the 1-row
    // total; the pruning-defeating guards keep every consumer canonically
    // identical so AQE computes tf ONCE. The only hint is the 1-row total.
    val q = TextAnalysis.unigramLogLoss(docs, "doc_id", "text")
    q.collect()
    val p = FallbackAudit.finalPlan(q).toString
    "Generate explode".r.findAllIn(p).size shouldBe 1
    "FileScan parquet \\[doc_id".r.findAllIn(p).size shouldBe 1
    p should include("ReusedExchange")
    val analyzed = TextAnalysis.unigramLogLoss(docs, "doc_id", "text")
      .queryExecution.analyzed.toString
    "ResolvedHint".r.findAllIn(analyzed).size shouldBe 1
  }

  test("topNgrams counts every occurrence; ties break n-gram ascending") {
    import spark.implicits._
    val d = Seq((1L, "x y x y z"), (2L, "x y q")).toDF("id", "text")
    // bigrams: doc1 = [x y, y x, x y, y z], doc2 = [x y, y q]
    val out = TextAnalysis.topNgrams(d, "text", n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    out shouldBe Seq(("x y", 3L), ("y q", 1L), ("y x", 1L))
  }

  test("perplexityBand keeps exactly the docs inside the corpus quantiles") {
    val scored = TextAnalysis.unigramLogLoss(docs, "doc_id", "text")
      .select(F.col("doc_id"), F.round(F.col("xent"), 6).as("x"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver-side mirror of exact-percentile linear interpolation
    // (lower + (higher - lower) * frac, the same arithmetic Spark uses)
    val vs = scored.values.toArray.sorted
    def q(p: Double): Double = {
      val pos = p * (vs.length - 1); val i = pos.toInt; val g = pos - i
      if (i + 1 < vs.length) vs(i) + (vs(i + 1) - vs(i)) * g else vs(i)
    }
    val (lo, hi) = (q(0.05), q(0.95))
    val kept = TextAnalysis.perplexityBand(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    kept shouldBe scored.collect { case (id, x) if x >= lo && x <= hi => id }.toSet
    kept.size should be < scored.size // both tails actually trimmed
  }

  test("bm25Search: top-k retrieval, distributed TakeOrdered plan") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "apple durian durian durian"))
      .toDF("doc_id", "text")
    val hits = TextAnalysis.bm25Search(d, "doc_id", "text",
      "durian cherry", k = 2).collect()
    hits.length shouldBe 2
    // durian: tf=3 in doc3 beats cherry: tf=1 in doc2 (same df=1)
    hits(0).getLong(0) shouldBe 3L
    hits(1).getLong(0) shouldBe 2L
    hits(0).getDouble(1) should be > hits(1).getDouble(1)
    // scalable top-k: sort+limit compiles to TakeOrderedAndProject, never
    // a single-partition global window
    val plan = TextAnalysis.bm25Search(docs, "doc_id", "text", "data", k = 5)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.bm25Search(d, "doc_id", "text", "!!!", k = 1)
  }

  test("salted join equals plain join") {
    import graft.extras.Relational
    import graft.core.KFrame
    val orders = KFrame.wrap(Tables.orders(spark, sf))
    val cust = KFrame.wrap(Tables.customer(spark, sf)
      .withColumnRenamed("c_custkey", "o_custkey"))
    val plain = Relational.join(orders, cust, Seq("o_custkey"))
      .toOrderedDF.select("o_orderkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Relational.saltedJoin(orders, cust, Seq("o_custkey"))
      .toOrderedDF.select("o_orderkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    salted shouldBe plain
  }

  test("events nanos handling is read-scoped, not session-wide") {
    // the read itself works and yields a microsecond timestamp
    val ev = Tables.events(spark, sf)
    ev.select("ts").head().get(0) shouldBe a[java.sql.Timestamp]
    // ts decodes into the generator's 2024 range whichever encoding this
    // testdata generation used (driver generations have flipped between
    // TIMESTAMP(NANOS) and plain micros): a nanos division misapplied to
    // a micros file would land the dates in 1970
    ev.select(F.year(F.col("ts"))).head().getInt(0) shouldBe 2024
    // the session conf was never mutated…
    spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .getOrElse("false") shouldBe "false"
    // …and IF the file is nanos-encoded, an unscoped read of the same
    // parquet still gets the default-mode rejection (the scoped read
    // option must not leak session-wide). On a micros generation there is
    // nothing to scope and the plain read just works. Encoding detection
    // is isolated in its own try so an assertion failure in the micros
    // branch cannot be swallowed and re-asserted as a nanos message.
    val rawErr =
      try { spark.read.parquet(s"$sf/events.parquet").schema; None }
      catch { case e: Exception => Some(e) }
    rawErr match {
      case Some(e) => // nanos generation: scoped option must not leak
        e.getMessage.toLowerCase should include("nanos")
      case None => // micros generation: plain and scoped reads agree
        Tables.events(spark, sf).count() shouldBe
          spark.read.parquet(s"$sf/events.parquet").count()
    }
  }

  test("events read is session-timezone independent (micros/NTZ generation)") {
    // a library caller need not run UTC sessions: the NTZ-encoded micros
    // generation must decode to the SAME instants under any session tz
    // (the former NTZ→TIMESTAMP cast shifted them by the session offset)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-events-tz").toString
    spark.sql(
      "SELECT CAST(1 AS BIGINT) event_id, " +
        "TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' ts, " +
        "CAST(2 AS BIGINT) user_id, 'click' event_type, " +
        "CAST(1.0 AS DOUBLE) value, '{}' props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val expected = java.time.Instant
      .parse("2024-01-02T03:04:05.123456Z").toEpochMilli * 1000L + 456L
    def readMicros(): Long = Tables.events(spark, dir)
      .select(F.unix_micros(F.col("ts"))).head().getLong(0)
    val underUtc = readMicros()
    underUtc shouldBe expected
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      readMicros() shouldBe underUtc // +9h shift would be 32400s of drift
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("mapGroupsWithState running totals match a plain aggregate (batch)") {
    val ev = Tables.events(spark, sf)
    val got = Streams.runningUserTotals(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = ev.groupBy("user_id")
      .agg(F.count(F.lit(1)).as("n"), F.round(F.sum("value"), 2).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    got shouldBe want
  }

  test("mapGroupsWithState accumulates across streaming micro-batches") {
    val ev = Tables.events(spark, sf).limit(200)
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    // two files -> two micro-batches; state must carry totals across them
    val split = ev.randomSplit(Array(0.5, 0.5), seed = 7)
    split(0).write.mode("overwrite").parquet(dir)
    split(1).write.mode("append").parquet(dir)
    val stream = Streams.readEventStream(spark, dir, ev.schema)
    val q = Streams.runningUserTotals(stream)
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // last update per user must equal the full batch totals
    val want = ev.groupBy("user_id")
      .agg(F.count(F.lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val table = spark.table("state_test").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val lastPerUser = table.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    lastPerUser shouldBe want
  }

  test("stateful HLL face == column sketch estimates bit-for-bit (batch)") {
    val ev = Tables.events(spark, sf).filter(F.col("user_id").isNotNull)
    val got = graft.streaming.Streams
      .runningApproxDistinct(ev, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = graft.operators.Sketches
      .hllDistinct(ev, Seq("event_type"), "user_id")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    got shouldBe want
  }

  test("stateful HLL face accumulates registers across micro-batches") {
    val ev = Tables.events(spark, sf).filter(F.col("user_id").isNotNull)
    val dir = java.nio.file.Files.createTempDirectory("graft-hllstate")
      .toString
    val split = ev.randomSplit(Array(0.5, 0.5), seed = 11)
    split(0).write.mode("overwrite").parquet(dir)
    split(1).write.mode("append").parquet(dir)
    val stream = graft.streaming.Streams
      .readEventStream(spark, dir, ev.schema)
    val q = graft.streaming.Streams
      .runningApproxDistinct(stream, "event_type", "user_id")
      .writeStream.format("memory").queryName("hll_state_test")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // after the final batch the per-key estimate equals the batch face
    // over ALL rows — max-fold state is order-insensitive
    val want = graft.operators.Sketches
      .hllDistinct(ev, Seq("event_type"), "user_id")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = spark.table("hll_state_test").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    // the memory sink appends one row per (key, batch) in batch order;
    // the LAST row per key is the final accumulated estimate
    val lastPerKey = rows.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1._2).toMap
    lastPerKey shouldBe want
  }

  test("stateful quantile face == column histogram quantiles (batch); " +
    "negative and bad-q refusals") {
    val docs = Tables.documents(spark, sf)
      .select(F.col("lang"),
        F.size(graft.operators.TextAnalysis.tokens(F.col("text")))
          .cast("long").as("ntok"))
    val qs = Seq(0.5, 0.9, 0.99)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getDouble(1)) -> (r.getLong(2), r.getLong(3))
    val got = graft.streaming.Streams
      .runningQuantiles(docs, "lang", "ntok", qs)
      .collect().map(key).toMap
    val want = graft.operators.Sketches
      .logHistQuantiles(docs, Seq("lang"), "ntok", qs)
      .collect().map(key).toMap
    got shouldBe want
    an[IllegalArgumentException] should be thrownBy
      graft.streaming.Streams.runningQuantiles(docs, "lang", "ntok",
        Seq(0.0))
    import spark.implicits._
    val neg = Seq(("a", -3L)).toDF("k", "v")
    val e = intercept[Exception] {
      graft.streaming.Streams.runningQuantiles(neg, "k", "v", qs).collect()
    }
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ") should
      include("negative value")
  }

  test("stateful quantile face accumulates histograms across " +
    "micro-batches") {
    val ev = Tables.events(spark, sf).filter(F.col("user_id").isNotNull)
      .select(F.col("event_type"), F.col("user_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft-histstate")
      .toString
    val split = ev.randomSplit(Array(0.5, 0.5), seed = 13)
    split(0).write.mode("overwrite").parquet(dir)
    split(1).write.mode("append").parquet(dir)
    val stream = graft.streaming.Streams
      .readEventStream(spark, dir, ev.schema)
    val qs = Seq(0.5, 0.99)
    val q = graft.streaming.Streams
      .runningQuantiles(stream, "event_type", "user_id", qs)
      .writeStream.format("memory").queryName("hist_state_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val want = graft.operators.Sketches
      .logHistQuantiles(ev, Seq("event_type"), "user_id", qs)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // rows arrive in batch order; the LAST row per (key, q) is final
    val rows = spark.table("hist_state_test").collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3)))
    val lastPerKey = rows.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1._2).toMap
    lastPerKey shouldBe want
  }

  test("cosineNearDupPairs finds planted near-identical embedding pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0L until 40L).map(i => (i, vec()))
    // plant a near-duplicate of vector 3 as id 100 (tiny perturbation)
    val nearDup = (100L, base(3)._2.map(x => x + 1e-4f))
    val df = (base :+ nearDup).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
      dim = 16, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((3L, 100L))
    // random 16-dim gaussians essentially never hit cosine >= 0.999
    pairs.size should be <= 2
    // cluster dedup keeps the lower id of the planted pair
    val kept = Similarity.cosineDedupClusters(df, "vec_id", "embedding",
      dim = 16, threshold = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    kept should contain(3L)
    (kept should not).contain(100L)
  }

  test("LSH band tuner: S-curve math pins and recall-constrained band " +
    "choice (MMDS ch. 3)") {
    // closed-form pin
    Dedup.lshCatchProbability(0.97, 64, 16) shouldBe
      (1.0 - math.pow(1 - math.pow(0.97, 4), 16)) +- 1e-12
    // the engine defaults catch s = 0.8 near-certainly
    Dedup.lshCatchProbability(0.8, 64, 16) should be > 0.999
    // tuner reproduces the defaults for the default threshold...
    val (b8, r8, p8) = Dedup.bandsForThreshold(64, 0.8)
    (b8, r8) shouldBe ((16, 4))
    p8 should be > 0.999
    // ...and affords fewer bands (cheaper candidates) at 0.95
    val (b95, r95, p95) = Dedup.bandsForThreshold(64, 0.95)
    (b95, r95) shouldBe ((8, 8))
    p95 should be > 0.999
    // the returned probability is honest when the width can't deliver
    val (bHard, _, pHard) = Dedup.bandsForThreshold(4, 0.05,
      minRecall = 0.999)
    bHard shouldBe 4
    pHard should be < 0.999
    // guards
    an[IllegalArgumentException] should be thrownBy
      Dedup.lshCatchProbability(0.5, 64, 3) // non-divisor
    an[IllegalArgumentException] should be thrownBy
      Dedup.bandsForThreshold(64, 1.5)
  }

  test("duplicatedPassages: hashed keys match exact-string keys row-for-row") {
    def run(h: Boolean) = TextAnalysis
      .duplicatedPassages(docs, "doc_id", "text", window = 8, hashed = h)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = run(false)
    run(true) shouldBe exact
    exact.map(_._3).sum should be > 0L // the corpus genuinely shares spans
    // an intra-doc repetition counts as duplicated even with one doc
    import spark.implicits._
    val solo = Seq((1L, ("a b c d e f g h " * 2) + "tail words here now"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.duplicatedPassages(solo, "doc_id", "text",
      window = 8, hashed = true).collect().head
    r.getLong(2) should be > 0L
  }

  test("exactSubstrDedup: planted shared span is spliced out, unique " +
    "context survives, short/clean/all-covered/null docs behave") {
    import spark.implicits._
    // span = 9 tokens shared by docs 1 and 2 at different offsets; at
    // k = 8 its two interior windows repeat, covering exactly the span
    val span = "one two three four five six seven eight nine"
    val fx = Seq(
      (1L, s"alpha beta $span gamma delta epsilon zeta eta theta"),
      (2L, s"totally different opening words here $span closing words"),
      // intra-doc repeat: the same 8-token run twice in ONE doc
      (3L, ("p q r s t u v w " * 2) + "unique tail words"),
      (4L, "short doc"), // < k tokens: whitespace-normalized passthrough
      (5L, "Mixed CASE   and, punctuation! tokens survive normalization"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(fx, "doc_id", "text", k = 8,
        hashed = false)
      .collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.getString(3))).toMap
    // doc 1: 2 + 9 + 6 = 17 tokens, the 9-token span removed
    out(1L) shouldBe ((17L, 9L,
      "alpha beta gamma delta epsilon zeta eta theta"))
    // doc 2: context before AND after the span survives
    out(2L) shouldBe ((16L, 9L,
      "totally different opening words here closing words"))
    // doc 3: the intra-doc repeat covers both copies of the run (16
    // tokens) — every window inside "p..w p..w" occurs twice
    out(3L)._1 shouldBe 19L
    out(3L)._2 shouldBe 16L
    out(3L)._3 shouldBe "unique tail words"
    // doc 4: too short for any window; normalized passthrough, 0 removed
    out(4L) shouldBe ((2L, 0L, "short doc"))
    // doc 5: no duplicated span; lowercased/punct-split normalization
    out(5L) shouldBe ((7L, 0L,
      "mixed case and punctuation tokens survive normalization"))
    // doc 6: null text stays null end-to-end (never fabricated empty)
    out(6L)._3 shouldBe null
    // splice_tokens is SQL-registered, so hand-assembled arrays are
    // supported input: a NULL element names no span (ignored), it must
    // NOT be read as position 0 (review-caught hazard)
    graft.plans.GraftExtensions.register(spark)
    spark.sql("SELECT splice_tokens('a b c d e', " +
        "array(CAST(NULL AS INT), 3), 2) AS s")
      .head().getString(0) shouldBe "a b c"
    // an entirely-duplicated doc comes back EMPTY, not null
    val dup = Seq((1L, span), (2L, span)).toDF("doc_id", "text")
    val d = Dedup.exactSubstrDedup(dup, "doc_id", "text", k = 8,
        hashed = false)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    d(1L) shouldBe ""
    d(2L) shouldBe ""
  }

  test("exactSubstrDedupAgainst: corpus spans are spliced from the " +
    "batch, batch-internal repeats survive (membership, not frequency), " +
    "and flavors match row-for-row") {
    import spark.implicits._
    val span = "one two three four five six seven eight nine"
    val corpus = Seq(
      (100L, s"curated doc containing $span inside it"),
      (101L, "other curated material with nothing shared"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"new doc alpha $span omega"),
      // batch-internal repeat of an 8-token run NOT in the corpus: the
      // against-face must KEEP it (compose with exactSubstrDedup for
      // within-batch dedup)
      (2L, ("j k l m n o p q " * 2) + "tail"),
      (3L, "entirely novel content with no overlap at all"))
      .toDF("doc_id", "text")
    def run(h: Boolean) = Dedup
      .exactSubstrDedupAgainst(batch, "doc_id", "text", corpus, "text",
        k = 8, hashed = h)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val out = run(false)
    out(1L) shouldBe ((13L, 9L, "new doc alpha omega"))
    out(2L)._2 shouldBe 0L // internal repeat kept: not in the corpus
    out(3L) shouldBe ((8L, 0L,
      "entirely novel content with no overlap at all"))
    run(true) shouldBe out // hashed flavor row-identical
  }

  test("exactSubstrDedup: hashed keys match exact-string keys " +
    "row-for-row (production shuffle shape == oracle face)") {
    val stamped = docs.select(F.col("doc_id"),
      F.concat_ws(" ", F.col("text"),
        F.lit("standard footer navigation links copyright terms " +
          "privacy contact about sitemap home")).as("text"))
    def run(h: Boolean) = Dedup
      .exactSubstrDedup(stamped, "doc_id", "text", k = 8, hashed = h)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val exact = run(false)
    run(true) shouldBe exact
    // the stamped tail really is removed from every doc
    exact.foreach { case (_, _, nRemoved, text) =>
      nRemoved should be >= 11L
      (text should not).include("sitemap")
    }
  }

  test("exactSubstrDedup splice tail: fused stats kernel runs ONCE " +
    "(no triple tokenization), and the SQL face agrees with splice_tokens") {
    // r17 verdict finding: n_tokens / n_removed as separate tokenCount
    // columns re-ran the tokenizer twice over the corpus-sized final
    // projection. The fused splice_tokens_stats struct must appear in
    // the executed plan EXACTLY once (the struct is projected to an
    // attribute, then field-extracted — CollapseProject must not inline
    // a non-cheap expression three times), and the legacy splice_tokens
    // kernel must not appear at all.
    val q = Dedup.exactSubstrDedup(docs, "doc_id", "text", k = 8,
      hashed = true)
    q.collect()
    val plan = FallbackAudit.finalPlan(q).toString
    "splice_tokens_stats".r.findAllIn(plan).size shouldBe 1
    "splice_tokens\\(".r.findAllIn(plan).size shouldBe 0
    "tokenCount".r.findAllIn(plan).size shouldBe 0
    // SQL face: the struct's text_dedup equals the legacy scalar kernel,
    // and the counts are consistent with it (n_tokens - n_removed =
    // tokens surviving in text_dedup)
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT splice_tokens_stats('A b c d e f', array(1), 3) AS st, " +
        "splice_tokens('A b c d e f', array(1), 3) AS legacy").head()
    val st = r.getStruct(0)
    st.getString(0) shouldBe r.getString(1)
    st.getString(0) shouldBe "a e f"
    st.getLong(1) shouldBe 6L
    st.getLong(2) shouldBe 3L
    // null element ignored; null text -> null struct (parity with the
    // scalar kernel's null-in/null-out)
    val r2 = spark.sql(
      "SELECT splice_tokens_stats('a b c d e', array(CAST(NULL AS INT), 3), 2) AS st, " +
        "splice_tokens_stats(CAST(NULL AS STRING), array(0), 2) AS nl").head()
    r2.getStruct(0).getString(0) shouldBe "a b c"
    r2.isNullAt(1) shouldBe true
  }

  test("exactSubstrDedupChars: catches tokenizer-blind duplicates " +
    "(unsegmented CJK span) that the token face provably misses; raw " +
    "text preserved; null/short/all-covered edges") {
    import spark.implicits._
    // An unsegmented CJK passage is ONE letter-run "token" to the engine
    // tokenizer — the token-window face yields no windows over it and is
    // structurally blind to its duplication (r17 verdict missing #3).
    val cjk = "深度学习模型的训练数据需要大规模去重处理流程保证质量"
    val fx = Seq(
      (1L, s"alpha unique opening $cjk trailing words one"),
      (2L, s"different beginning text $cjk other ending two"),
      (3L, "no duplication at all in this one document"),
      (4L, null.asInstanceOf[String]),
      (5L, "Short, DOC!")) // < k chars: raw passthrough, case preserved
      .toDF("doc_id", "text")
    // token face at k=8: docs 1/2 share only [cjk] as a token sequence
    // (length 1 < 8) — NOTHING is removed
    Dedup.exactSubstrDedup(fx, "doc_id", "text", k = 8, hashed = true)
      .collect().foreach(r =>
        if (!r.isNullAt(2)) r.getLong(2) shouldBe 0L)
    // char face at k=12: the shared " cjk " span (cjk + both spaces) is
    // covered in both docs — windows fully inside it repeat corpus-wide,
    // straddling windows don't (unique context survives)
    val sharedLen = cjk.length + 2L
    val out = Dedup.exactSubstrDedupChars(fx, "doc_id", "text", k = 12,
        hashed = false)
      .collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.getString(3))).toMap
    out(1L) shouldBe ((("alpha unique opening  trailing words one".length
      + cjk.length).toLong, sharedLen,
      "alpha unique openingtrailing words one"))
    out(2L)._2 shouldBe sharedLen
    out(2L)._3 shouldBe "different beginning textother ending two"
    // clean doc: UNCHANGED — the char flavor has no normalization
    out(3L) shouldBe ((42L, 0L,
      "no duplication at all in this one document"))
    out(4L)._3 shouldBe null // null in, null out
    out(5L) shouldBe ((11L, 0L, "Short, DOC!")) // case/punct preserved
    // hashed rolling-polynomial flavor is row-identical to exact strings
    val hashed = Dedup.exactSubstrDedupChars(fx, "doc_id", "text", k = 12,
        hashed = true)
      .collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.getString(3))).toMap
    hashed shouldBe out
    // an entirely-duplicated doc comes back EMPTY, not null
    val dup = Seq((1L, cjk), (2L, cjk)).toDF("doc_id", "text")
    Dedup.exactSubstrDedupChars(dup, "doc_id", "text", k = 12,
        hashed = false)
      .collect().foreach(r => r.getString(3) shouldBe "")
  }

  test("exactSubstrDedupCharsAgainst: corpus char-spans spliced from " +
    "the batch, batch-internal repeats survive; fused splice_chars " +
    "kernel runs ONCE in the plan") {
    import spark.implicits._
    val span = "0sharedboilerplateblock0" // single token, 24 chars
    val corpus = Seq(
      (100L, s"curated doc containing $span inside it"),
      (101L, "other curated material with nothing shared"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"new doc alpha $span omega"),
      // batch-internal repeat NOT in the corpus: membership, not
      // frequency — the against-face must KEEP it
      (2L, "xyzzyplughxyzq xyzzyplughxyzq tail"),
      (3L, "entirely novel content with no overlap at all"))
      .toDF("doc_id", "text")
    def run(h: Boolean) = Dedup
      .exactSubstrDedupCharsAgainst(batch, "doc_id", "text", corpus,
        "text", k = 12, hashed = h)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val out = run(false)
    // batch doc 1 shares " span " (26 chars) with the corpus doc
    out(1L) shouldBe ((44L, 26L, "new doc alphaomega"))
    out(2L)._2 shouldBe 0L // internal repeat kept: not in the corpus
    out(3L) shouldBe ((45L, 0L,
      "entirely novel content with no overlap at all"))
    run(true) shouldBe out // hashed flavor row-identical
    // plan pin: fused kernel once, no legacy splice, no tokenizer
    val q = Dedup.exactSubstrDedupChars(docs, "doc_id", "text", k = 12,
      hashed = true)
    q.collect()
    val plan = FallbackAudit.finalPlan(q).toString
    "splice_chars".r.findAllIn(plan).size shouldBe 1
    // the window-key kernel runs once per consumer of the position rows
    // (the occurrence-count aggregate and the semi-join) — the same
    // documented scan-per-consumer trade as the token face; a third
    // occurrence would mean the splice tail regrew a tokenizer pass
    "char_gram_hashes".r.findAllIn(plan).size shouldBe 2
    (plan should not).include("splice_tokens")
  }

  test("char-gram kernels share one code-point coordinate system, " +
    "including malformed UTF-8") {
    // gramStrings / gramHashes / spliceChars must count positions in the
    // SAME units or hashed-window start positions splice the wrong
    // characters (r18: the hash kernel briefly counted via UTF-16 decode
    // while the splice counted via the raw byte walk — they disagreed
    // exactly on invalid UTF-8, e.g. a truncated lead byte)
    import graft.functions.CharGramKernel
    import org.apache.spark.unsafe.types.UTF8String
    val cases = Seq(
      UTF8String.fromString("hello world"),
      UTF8String.fromString("汉字文本の混合 abc"),
      UTF8String.fromBytes(Array[Byte](
        'a', 'b', 0xE2.toByte, 'A', 'c', 0xF0.toByte)), // invalid UTF-8
      UTF8String.fromBytes(Array[Byte](0xC3.toByte))) // truncated tail
    for (t <- cases; k <- Seq(1, 2, 3)) withClue(s"text=$t k=$k: ") {
      val nStr = CharGramKernel.gramStrings(t, k).numElements()
      val nHash = CharGramKernel.gramHashes(t, k).numElements()
      nHash shouldBe nStr // same window count == same coordinates
      val row = CharGramKernel.spliceChars(t,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](0)), k)
      // splicing the window at 0 removes exactly min(k, n) code points
      // in the SAME units the window kernels counted
      val n = row.getLong(1)
      if (nStr > 0) n shouldBe (nStr + k - 1)
      row.getLong(2) shouldBe math.min(k.toLong, n)
    }
    // valid-UTF-8 hash values are unchanged by the byte-walk decode: the
    // rolling polynomial sees the exact code points
    val ascii = UTF8String.fromString("abcd")
    CharGramKernel.gramHashes(ascii, 2).toLongArray() should have length 3
  }

  test("exactSubstrDedupChars: hashed keys match exact-string keys " +
    "row-for-row over the corpus, and the single-token boilerplate " +
    "tail — invisible to the token face — is removed from every doc") {
    val tail = "0boilerplate0footer0unsubscribe0allrightsreserved0"
    val stamped = docs.select(F.col("doc_id"),
      F.concat_ws(" ", F.col("text"), F.lit(tail)).as("text"))
    def run(h: Boolean) = Dedup
      .exactSubstrDedupChars(stamped, "doc_id", "text", k = 12, hashed = h)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val exact = run(false)
    run(true) shouldBe exact
    // the stamped tail (one 50-char token + its joining space) really is
    // removed from every doc — the TOKEN face at k=8 cannot see it
    exact.foreach { case (_, _, nRemoved, text) =>
      nRemoved should be >= 51L
      (text should not).include("unsubscribe")
    }
    val tokenFace = Dedup.exactSubstrDedup(stamped, "doc_id", "text",
        k = 8, hashed = true)
      .collect().map(r => r.getString(3))
    // token windows never key inside the single-token tail: it SURVIVES
    tokenFace.foreach(t => t should include("0unsubscribe0"))
  }

  test("exactSubstr deployment rule #1: bucketing the corpus by id " +
    "removes every doc_id exchange from the splice join-back (the " +
    "SCALING.md r18 post-transition mitigation, plan-pinned)") {
    // Past the broadcast threshold (SCALING.md r18 decade: >~500k docs)
    // the join-back becomes a SortMergeJoin and the corpus TEXT crosses
    // an exchange. Deployment rule #1 says bucketing the corpus by id
    // removes that exchange. Pin it: force the SMJ regime (broadcast
    // off), run the operator over an unbucketed frame vs a
    // CLUSTERED BY (doc_id) table, and count doc_id exchanges in the
    // executed plans.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.ShuffledJoin
    def finalPlanOf(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      df.collect()
      FallbackAudit.finalPlan(df)
    }
    // QueryStageExec nodes are LEAVES to TreeNode traversal (Spark 4's
    // final plan roots in ResultQueryStageExec) — expand through their
    // inner plans by hand
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: QueryStageExec => p +: expand(q.plan)
      case _ => p +: p.children.flatMap(expand)
    }
    // shuffles in the CORPUS-TEXT (streamed/left) subtree of the outer
    // splice join-back; each shuffle appears exactly once as the
    // ShuffleExchangeLike inside its stage
    def textSideShuffles(p: SparkPlan): Int = {
      val outer = expand(p).collectFirst {
        case j: ShuffledJoin
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter =>
          j
      }.getOrElse(fail("no shuffled LeftOuter join in the plan — the " +
        "broadcast-off regime did not engage"))
      expand(outer.left).count(_.isInstanceOf[ShuffleExchangeLike])
    }
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = finalPlanOf(Dedup.exactSubstrDedup(docs, "doc_id",
        "text", k = 8, hashed = true))
      val plainDocEx =
        "Exchange hashpartitioning\\(doc_id".r.findAllIn(plain.toString).size
      plainDocEx should be >= 2 // text side + starts-aggregate side
      textSideShuffles(plain) should be >= 1 // unbucketed: text shuffles
      docs.write.mode("overwrite").bucketBy(4, "doc_id")
        .sortBy("doc_id").saveAsTable("substr_bucketed_docs")
      try {
        val bucketed = finalPlanOf(Dedup.exactSubstrDedup(
          spark.table("substr_bucketed_docs"), "doc_id", "text",
          k = 8, hashed = true))
        // the bucketed scan satisfies hashpartitioning(doc_id) for the
        // join-back: the corpus TEXT side feeds the SortMergeJoin with
        // no exchange (a local sort only). The ONE doc_id exchange left
        // is the starts aggregate's own — its input just crossed the
        // __wkey semi-join shuffle, so re-partitioning its (id, pos)
        // rows back to doc_id is inherent and carries ~12 bytes/row,
        // never text. That is deployment rule #1's actual claim.
        textSideShuffles(bucketed) shouldBe 0
        "Exchange hashpartitioning\\(doc_id".r
          .findAllIn(bucketed.toString).size shouldBe (plainDocEx - 1)
        // same answer either way
        Dedup.exactSubstrDedup(spark.table("substr_bucketed_docs"),
            "doc_id", "text", k = 8, hashed = true)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet shouldBe
          Dedup.exactSubstrDedup(docs, "doc_id", "text", k = 8,
              hashed = true)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .toSet
      } finally spark.sql("DROP TABLE IF EXISTS substr_bucketed_docs")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("bigramLogLoss matches the hand-computed interpolated model") {
    import spark.implicits._
    // corpus: d1 = "x y x y x", d2 = "x z"; c12: xy=2 yx=2 xz=1;
    // cl: x=3 y=2; cr: y=2 x=2 z=1; T=5
    val df = Seq((1L, "x y x y x"), (2L, "x z"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogLoss(df, "doc_id", "text", lambda = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    out.keySet shouldBe Set(1L, 2L) // <2-token docs drop
    val pyx = 0.9 * (2.0 / 3) + 0.1 * (2.0 / 5) // p(y|x) = .64
    val pxy = 0.9 * (2.0 / 2) + 0.1 * (2.0 / 5) // p(x|y) = .94
    val pzx = 0.9 * (1.0 / 3) + 0.1 * (1.0 / 5) // p(z|x) = .32
    out(1L)._1 shouldBe 5L
    out(1L)._2 shouldBe -(2 * math.log(pyx) + 2 * math.log(pxy)) / 4 +- 1e-9
    out(2L)._1 shouldBe 2L
    out(2L)._2 shouldBe -math.log(pzx) / 1 +- 1e-9
  }

  test("semDedup keeps the lowest-centroid-similarity member of a dup group") {
    import spark.implicits._
    val dim = 16
    // 12 mutually-distinct "singletons" near e0 (pairwise cos ≈ 0.978 <
    // 0.995) + a duplicate trio along e1 whose members differ only in
    // their e0 component (pairwise cos ≈ 0.9998 >= 0.995). With one
    // cluster the refined centroid is the corpus mean (≈ 0.82·e0 +
    // 0.2·e1), so cosine-to-centroid grows with the e0 coefficient and
    // the keep-lowest policy must keep 103 (smallest e0 component).
    val singles = (1 to 12).map { i =>
      (i.toLong, Array.tabulate(dim)(j =>
        (if (j == 0) 1.0f else 0.0f) + (if (j == i + 1) 0.15f else 0.0f)))
    }
    val trio = Seq(0.10f -> 101L, 0.09f -> 102L, 0.08f -> 103L).map {
      case (c, id) =>
        (id, Array.tabulate(dim)(j =>
          (if (j == 1) 1.0f else 0.0f) + (if (j == 0) c else 0.0f)))
    }
    val df = (singles ++ trio).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(df, "vec_id", "embedding",
      nClusters = 1, threshold = 0.995, refineIters = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    kept.size shouldBe 13
    (1 to 12).foreach(i => kept should contain(i.toLong))
    kept.intersect(Set(101L, 102L, 103L)) shouldBe Set(103L)
  }

  test("semDedup with clusters drops exactly one member of each planted pair") {
    val emb = Tables.embeddings(spark, sf) // 500 rows, no natural cos>=0.99
    val planted = emb.filter(F.col("vec_id") < 20)
      .select((F.col("vec_id") + 10000L).as("vec_id"),
        F.transform(F.col("embedding"), x => x + F.lit(1e-4f)).as("embedding"),
        F.col("label"))
    val kept = Similarity.semDedup(emb.unionByName(planted), "vec_id",
      "embedding", nClusters = 8, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    kept.size shouldBe 500 // 520 in, one of each of the 20 pairs dropped
    (0L until 20L).foreach { i =>
      kept(i) ^ kept(i + 10000) shouldBe true // exactly one survivor per pair
    }
  }

  test("IVF list assignment is L2: stored lists ARE the centroid Voronoi cells") {
    import spark.implicits._
    // wildly varying norms (0.5x to 40x): under max-inner-product
    // assignment the large-norm centroids swallow most rows; under L2 the
    // stored lists must equal each row's argmin-L2 centroid exactly
    val rnd = new scala.util.Random(11)
    val df = (0L until 300L).map { i =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      val scale = (if (i % 29 == 0) 40.0 else 0.5 + (i % 7) * 0.5).toFloat
      (i, base.map(_ * scale))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-l2").toString
    Similarity.buildIvfIndex(df, "vec_id", "embedding", dir, nCentroids = 8,
      refineIters = 2)
    val cents = spark.read.parquet(s"$dir/_centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val rows = spark.read.parquet(dir)
      .select("cand_id", "__cv", "__list").collect()
    rows.length shouldBe 300
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val best = cents.minBy { case (_, c) =>
        v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      }._1
      r.getInt(2) shouldBe best
    }
    // balance: with L2 cells over 8 refined centroids no list may swallow
    // the corpus (max-IP assignment concentrates large-norm cells)
    val sizes = rows.groupBy(_.getInt(2)).map(_._2.length)
    sizes.max should be < 200
  }

  test("semDedup serving face: frozen centroids reproduce the inline path") {
    val emb = Tables.embeddings(spark, sf)
    val planted = emb.filter(F.col("vec_id") < 20)
      .select((F.col("vec_id") + 10000L).as("vec_id"),
        F.transform(F.col("embedding"), x => x + F.lit(1e-4f)).as("embedding"),
        F.col("label"))
    val corpus = emb.unionByName(planted)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semdedup").toString + "/centroids"
    Similarity.saveSemDedupCentroids(corpus, "vec_id", "embedding", dir,
      nClusters = 8)
    val served = Similarity.semDedupWithCentroids(spark, dir, corpus,
        "vec_id", "embedding", threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // same knobs -> same trained centroids -> identical kept set
    val inline = Similarity.semDedup(corpus, "vec_id", "embedding",
        nClusters = 8, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    served shouldBe inline
    served.size shouldBe 500
  }

  test("semDedup planted-pair semantics hold across cluster counts; auto derives") {
    val emb = Tables.embeddings(spark, sf)
    val planted = emb.filter(F.col("vec_id") < 20)
      .select((F.col("vec_id") + 10000L).as("vec_id"),
        F.transform(F.col("embedding"), x => x + F.lit(1e-4f)).as("embedding"),
        F.col("label"))
    val corpus = emb.unionByName(planted)
    // near-identical pairs share a nearest centroid under ANY clustering,
    // so the one-survivor-per-pair contract is cluster-count-independent
    for (nc <- Seq(4, 16)) {
      val kept = Similarity.semDedup(corpus, "vec_id", "embedding",
          nClusters = nc, threshold = 0.99)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      kept.size shouldBe 500
      (0L until 20L).foreach { i =>
        kept(i) ^ kept(i + 10000) shouldBe true
      }
    }
    val auto = Similarity.semDedupAuto(corpus, "vec_id", "embedding",
        threshold = 0.99, maxRowsPerCluster = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    auto.size shouldBe 500
  }

  test("semDedupFixed: planted pairs collapse, out-of-universe rows survive, deterministic") {
    import spark.implicits._
    val emb2 = emb.select(F.col("vec_id"),
      F.col("embedding").cast("array<double>").as("embedding"))
    val planted = emb2.filter(F.col("vec_id") < 20)
      .select((F.col("vec_id") + 10000L).as("vec_id"),
        F.transform(F.col("embedding"), x => x + F.lit(1e-4)).as("embedding"))
    // a wrong-length vector is outside the fixed universe: NULL kernel
    // assignment, no pairs, survives unexamined (the documented contract)
    val malformed = Seq((99999L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val corpus = emb2.unionByName(planted).unionByName(malformed)
    val qcents = Similarity.quantizeCodebooks(Array(
      Similarity.trainCoarseCentroids(corpus, "vec_id", "embedding",
        nCentroids = 8)))(0)
    def run(): Set[Long] =
      Similarity.semDedupFixed(corpus, "vec_id", "embedding", qcents)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = run()
    kept.size shouldBe 501 // 500 + the unexamined malformed row
    kept(99999L) shouldBe true
    (0L until 20L).foreach { i => kept(i) ^ kept(i + 10000) shouldBe true }
    run() shouldBe kept // every branch integer-discrete => repeatable
  }

  test("semDedupFixed is idempotent under fixed centroids") {
    // survivors of one pass have no qualifying pair left inside any cell
    // (such a pair would have been one component with one keeper), so a
    // second pass under the SAME quantized centroids must be identity —
    // the recurring-curation-cadence contract
    val emb2 = emb.select(F.col("vec_id"),
      F.col("embedding").cast("array<double>").as("embedding"))
    val planted = emb2.filter(F.col("vec_id") < 20)
      .select((F.col("vec_id") + 10000L).as("vec_id"),
        F.transform(F.col("embedding"), x => x + F.lit(1e-4)).as("embedding"))
    val corpus = emb2.unionByName(planted)
    val qcents = Similarity.quantizeCodebooks(Array(
      Similarity.trainCoarseCentroids(corpus, "vec_id", "embedding",
        nCentroids = 8)))(0)
    val once = Similarity.semDedupFixed(corpus, "vec_id", "embedding", qcents)
    val twice = Similarity.semDedupFixed(once, "vec_id", "embedding", qcents)
    val a = once.select("vec_id").collect().map(_.getLong(0)).toSet
    val b = twice.select("vec_id").collect().map(_.getLong(0)).toSet
    b shouldBe a
    a.size shouldBe 500
  }

  test("int_dot kernel == composed zip_with/aggregate form (incl. edges)") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val q = F.transform(F.col("embedding").cast("array<double>"),
      x => F.floor(x * F.lit(1048576.0)))
    val pairs = emb.select(F.col("vec_id").as("a"), q.as("qa")).crossJoin(
      emb.select(F.col("vec_id").as("b"), q.as("qb")).limit(5))
    val both = pairs.select(
      graft.plans.GraftExtensions.callNative("int_dot",
        F.col("qa"), F.col("qb")).as("k"),
      Similarity.intDotComposed(F.col("qa"), F.col("qb")).as("c"))
    both.filter(F.col("k") =!= F.col("c") ||
      (F.col("k").isNull !== F.col("c").isNull)).count() shouldBe 0L
    // length mismatch and null element -> null, both forms
    val edge = Seq(
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L)),
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L))
    ).toDF("a", "b").select(
      graft.plans.GraftExtensions.callNative("int_dot",
        F.col("a"), F.col("b")).as("k"))
    edge.collect().foreach(_.isNullAt(0) shouldBe true)
  }

  test("scale smoke: semDedupAuto at >=64 derived clusters on full sf0.1") {
    // VERDICT r9 §5: execute the bucket-math that carries the 100 TB claim
    // at a realistic cluster count instead of the registry's nClusters=8 —
    // the auto-derivation must produce >= 64 clusters on the full sf0.1
    // embeddings and the planted-pair recall contract must hold there.
    val emb01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val planted = emb01.filter(F.col("vec_id") < 20)
      .select((F.col("vec_id") + 100000L).as("vec_id"),
        F.transform(F.col("embedding"), x => x + F.lit(1e-4f)).as("embedding"),
        F.col("label"))
    val corpus = emb01.unionByName(planted)
    val n = corpus.count() // 2000 + 20
    val maxRows = 31L
    val derived = math.max(
      spark.sparkContext.defaultParallelism.toLong,
      (n + maxRows - 1) / maxRows)
    derived should be >= 64L // the semDedupAuto formula at these knobs
    val t0 = System.nanoTime()
    val kept = Similarity.semDedupAuto(corpus, "vec_id", "embedding",
        threshold = 0.99, maxRowsPerCluster = maxRows)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    // recall: every planted twin pair collapses to exactly one survivor
    kept.size shouldBe n.toInt - 20
    (0L until 20L).foreach { i => kept(i) ^ kept(i + 100000) shouldBe true }
    // runtime: the 66-cluster pair stage is ~n*maxRows comparisons; far
    // under a minute at sf0.1 — a quadratic regression would blow this
    secs should be < 90.0
  }

  test("scale smoke: IVF-PQ at 64 coarse centroids on full sf0.1") {
    val emb01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq64").toString
    val t0 = System.nanoTime()
    Similarity.buildIvfPqIndex(emb01, "vec_id", "embedding", dir, dim = 64,
      nCentroids = 64, m = 16, ksub = 32)
    val queries = emb01.filter(F.col("vec_id") < 10)
    // probe half the lists (the existing 8-centroid pins also probe 50%)
    val got = Similarity.probeIvfPqIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 32, shortlist = 100)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    val exact = Similarity.bruteForceTopK(queries, emb01, "vec_id",
        "embedding", k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.intersect(got).size.toDouble should be >= exact.size * 0.2
    secs should be < 90.0
  }

  test("centroid artifacts without an assignment-metric stamp fail fast") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-meta").toString + "/centroids"
    // a pre-metric-stamp artifact: _centroids present, no _meta — its lists
    // were assigned by max inner product, not this version's L2 cells
    Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cid", "vec")
      .write.parquet(s"$dir/_centroids")
    val df = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    an[IllegalArgumentException] should be thrownBy
      Similarity.semDedupWithCentroids(spark, dir, df, "vec_id", "embedding")
    an[IllegalArgumentException] should be thrownBy
      Similarity.probeIvfIndex(spark, dir, df, "vec_id", "embedding", k = 1)
  }

  test("multimodal feature stub emits fixed-dim deterministic vectors") {
    val packed = Multimodal.withFakeMedia(docs.limit(5), "text")
    val f1 = packed.select(Multimodal.featuresStub(F.col("payload")).as("f"))
      .collect().map(_.getSeq[Float](0))
    f1.foreach(_.length shouldBe 8)
    val f2 = packed.select(Multimodal.featuresStub(F.col("payload")).as("f"))
      .collect().map(_.getSeq[Float](0))
    f1.toSeq shouldBe f2.toSeq // deterministic
    f1.foreach(_.foreach(v => v should (be >= -1.0f and be <= 1.0f)))
  }

  test("cosine of identical vectors is 1") {
    import spark.implicits._
    val v = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(v.filter(F.col("vec_id") === 1), v,
      "vec_id", "embedding", k = 1).collect()
    out.head.getDouble(2) shouldBe 1.0 +- 1e-12
  }

  // ---- text analysis ---------------------------------------------------

  test("token count and quality signals on a known sentence") {
    import spark.implicits._
    val d = Seq("The quick brown fox, jumps over the lazy dog!").toDF("text")
    val r = d.select(
      TextAnalysis.tokenCount(F.col("text")).as("n"),
      TextAnalysis.stopwordRatio(F.col("text")).as("sr"),
      TextAnalysis.punctRatio(F.col("text")).as("pr"),
      TextAnalysis.langId(F.col("text")).as("lang")).head()
    r.getAs[Int]("n") shouldBe 9
    r.getAs[Double]("sr") should be > 0.0
    r.getAs[Double]("pr") should be > 0.0
    r.getAs[String]("lang") shouldBe "en"
  }

  test("stopwordRatio is the token-frequency ratio, not distinct types") {
    import spark.implicits._
    // "the" appears twice among 9 tokens -> 2/9; the former distinct
    // formulation gave 1/|distinct| and capped the numerator at the
    // stopword-list size, flooring long prose at ~0
    val d = Seq("The quick brown fox, jumps over the lazy dog!").toDF("text")
    d.select(TextAnalysis.stopwordRatio(F.col("text"))).head()
      .getDouble(0) shouldBe (2.0 / 9.0) +- 1e-12
  }

  test("shingle token hashes have no trivial short-token collisions") {
    graft.plans.GraftExtensions.register(spark)
    // poly-31 collided "an" with "c0" (97*31+110 = 99*31+48), so two
    // docs differing only in those tokens shared every window key; the
    // FNV-1a token hash separates them
    val r = spark.sql(
      "SELECT shingle_hashes('alpha an omega', 3)[0] AS a, " +
        "shingle_hashes('alpha c0 omega', 3)[0] AS b").head()
    r.getLong(0) should not be r.getLong(1)
  }

  test("langId picks marker languages and falls back to und") {
    import spark.implicits._
    val d = Seq(
      ("de", "der Hund und die Katze ist nicht mit ein"),
      ("fr", "le chat et la maison est pour une pas"),
      ("es", "el perro que es por con una los la"),
      ("und", "zzz qqq www")).toDF("want", "text")
    d.select(F.col("want"), TextAnalysis.langId(F.col("text")).as("got"))
      .collect().foreach(r => r.getString(1) shouldBe r.getString(0))
  }

  test("repetition signals: max word frequency and duplicate lines") {
    import spark.implicits._
    val d = Seq(
      ("loop", "spam spam spam eggs"),                 // 3/4 top token
      ("flat", "one two three four"),                  // 1/4
      ("dup", "nav bar\ncontent here\nnav bar"),       // 1 of 3 lines dup
      ("empty", "")).toDF("id", "text")
    val out = d.select(F.col("id"),
      TextAnalysis.maxWordFrequency(F.col("text")).as("mwf"),
      TextAnalysis.dupLineFraction(F.col("text")).as("dlf"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    out("loop")._1 shouldBe 0.75 +- 1e-9
    out("flat")._1 shouldBe 0.25 +- 1e-9
    out("dup")._2 shouldBe (1.0 / 3.0) +- 1e-9
    out("empty") shouldBe ((0.0, 0.0))
  }

  test("PII: counts and redaction with typed placeholders") {
    import spark.implicits._
    val d = Seq(
      ("a", "write to bob.smith+x@example.co.uk or call +1 (555) 123-4567"),
      ("b", "server at 10.0.255.1 and 192.168.1.77, no mail"),
      ("c", "clean text, nothing here")).toDF("id", "text")
    val out = d.select(F.col("id"),
      TextAnalysis.emailCount(F.col("text")).as("e"),
      TextAnalysis.ipv4Count(F.col("text")).as("i"),
      TextAnalysis.redactPII(F.col("text")).as("r"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    out("a")._1 shouldBe 1L
    out("a")._3 should include("<EMAIL>")
    out("a")._3 should include("<PHONE>")
    (out("a")._3 should not).include("555")
    out("b")._2 shouldBe 2L
    out("b")._3 shouldBe "server at <IP> and <IP>, no mail"
    out("c")._3 shouldBe "clean text, nothing here"
  }

  test("fingerprint is whitespace/punctuation-insensitive") {
    import spark.implicits._
    val d = Seq(("a", "Hello,  World!"), ("b", "hello world"), ("c", "hello worlds"))
      .toDF("id", "text")
    val fps = d.select(F.col("id"), TextAnalysis.fingerprint(F.col("text")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fps("a") shouldBe fps("b")
    fps("a") should not be fps("c")
  }

  // ---- multimodal ------------------------------------------------------

  test("pack/decode round-trip recovers metadata from payload bytes") {
    val packed = Multimodal.withFakeMedia(docs, "text")
    val bad = packed.select(
      F.col("meta"),
      Multimodal.decodeStub(F.col("payload")).as("dec"))
      .filter(F.col("meta.width") =!= F.col("dec.width") ||
        F.col("meta.height") =!= F.col("dec.height") ||
        F.col("meta.n_bytes") =!= F.col("dec.n_bytes") ||
        F.col("meta.mime") =!= F.col("dec.mime"))
      .count()
    bad shouldBe 0
  }

  test("metadata filter prunes payload column from the scan") {
    val packed = Multimodal.withFakeMedia(docs, "text")
    packed.filter(F.col("meta.width") > 512).count() should be > 0L
  }

  test("batched decode (mapPartitions) matches the projection decode") {
    val packed = Multimodal.withFakeMedia(docs, "text")
    val viaBatch = Multimodal.decodeBatched(packed, "payload", batchSize = 7)
      .select("doc_id", "mime", "width", "height", "n_bytes").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4))))
      .toMap
    val viaProj = packed.select(F.col("doc_id"),
        Multimodal.decodeStub(F.col("payload")).as("d"))
      .select("doc_id", "d.mime", "d.width", "d.height", "d.n_bytes").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4))))
      .toMap
    viaBatch shouldBe viaProj
  }

  test("real PNG/JPEG payloads decode via JDK ImageIO; resize re-encodes") {
    import spark.implicits._
    // real image bytes, written by the JDK's own encoders: dimensions come
    // from actual pixel buffers, not any fake header
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, buf)
      buf.toByteArray
    }
    val png = imageBytes(37, 21, "png")
    val jpg = imageBytes(64, 48, "jpeg")
    val corrupt = Array[Byte](1, 2, 3, 4, 5)
    // fake magic but a malformed header (non-digit / multi-byte bytes
    // where the dimensions belong): must quarantine, never throw
    val fakeCorrupt = "FAKE".getBytes("UTF-8") ++
      Array.fill[Byte](12)(0xC3.toByte)
    val df = Seq((1L, png), (2L, jpg), (3L, corrupt),
      (4L, null.asInstanceOf[Array[Byte]]), (5L, fakeCorrupt))
      .toDF("id", "payload")
    val got = Multimodal.decodeBatched(df, "payload")
      .select("id", "mime", "width", "height", "n_bytes").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    got(1L) shouldBe (("image/png", 37, 21, png.length.toLong))
    got(2L) shouldBe (("image/jpeg", 64, 48, jpg.length.toLong))
    // corrupt bytes and NULL payloads quarantine as unknown — never an
    // exception/NPE that kills the stage
    got(3L) shouldBe (("unknown", 0, 0, 5L))
    got(4L) shouldBe (("unknown", 0, 0, 0L))
    got(5L) shouldBe (("unknown", 0, 0, 16L))
    // resize: real images re-encode at the target dims (decode them back
    // to prove it), corrupt payloads pass through untouched
    val resized = Multimodal.resizeBatched(df, "payload", w = 10, h = 5)
    val redec = Multimodal.decodeBatched(resized, "payload")
      .select("id", "mime", "width", "height").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    redec(1L) shouldBe (("image/png", 10, 5))
    redec(2L) shouldBe (("image/png", 10, 5)) // re-encoded as PNG
    redec(3L) shouldBe (("unknown", 0, 0))
    redec(4L) shouldBe (("unknown", 0, 0)) // null passes through resize
    // resize rewrites a fake-magic header even over a garbled body (no
    // digit parse on that path), so the result decodes at the new dims
    redec(5L) shouldBe (("image/fake", 10, 5))
    // fake payloads keep their deterministic header path through the SAME
    // kernels (mixed batches are the production case)
    val fake = Multimodal.withFakeMedia(docs.limit(3), "text")
    val fakeResized = Multimodal.resizeBatched(fake, "payload", w = 9, h = 4)
    Multimodal.decodeBatched(fakeResized, "payload")
      .select("mime", "width", "height").collect().foreach { r =>
        r.getString(0) shouldBe "image/fake"
        r.getInt(1) shouldBe 9
        r.getInt(2) shouldBe 4
      }
  }

  test("featuresBatched: REAL pixel luma features; ANN finds the planted " +
    "visually-nearest image; fake/corrupt payloads get null features") {
    import spark.implicits._
    def png(paint: (Int, Int) => Int, w: Int = 32, h: Int = 32): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val v = math.max(0, math.min(255, paint(x, y)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val base = png((x, _) => x * 8) // left-dark -> right-bright ramp
    val twin = png((x, _) => x * 8 + 12) // same ramp, slightly brighter
    val inverted = png((x, _) => 248 - x * 8)
    val checker = png((x, y) => if ((x + y) % 2 == 0) 0 else 255)
    val solid = png((_, _) => 40)
    val fake = ("FAKE" + "000032" + "000032" + "not pixels").getBytes("UTF-8")
    val corrupt = Array[Byte](9, 9, 9)
    val df = Seq(0L -> base, 1L -> twin, 2L -> inverted, 3L -> checker,
      4L -> solid, 5L -> fake, 6L -> corrupt).toDF("vec_id", "payload")
    val feat = Multimodal.featuresBatched(df, "payload")
    val rows = feat.select("vec_id", "features").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Float](1))).toMap
    // REALNESS: the base image's feature vector reflects its pixels —
    // row-major 8x8 mean-luma rises monotonically left to right
    val f0 = rows(0L).get
    f0.size shouldBe 64
    (0 until 7).foreach(i => f0(i) should be < f0(i + 1))
    f0.foreach(v => (v >= 0.0f && v <= 1.0f) shouldBe true)
    // fake and corrupt payloads are observable nulls, never fabricated
    rows(5L) shouldBe None
    rows(6L) shouldBe None
    // the features feed the existing ANN path unchanged: querying with
    // the base image returns the planted brighter twin as nearest
    val corpus = feat.filter(F.col("features").isNotNull)
    val top = Similarity.bruteForceTopK(
      corpus.filter(F.col("vec_id") === 0L), corpus, "vec_id", "features",
      k = 1)
    top.select("cand_id").head().getLong(0) shouldBe 1L
    // and the stub remains fake-only: featuresStub is a projection for
    // fake plumbing payloads, not the real-image path
    val stubbed = df.withColumn("sf", Multimodal.featuresStub(F.col("payload")))
    stubbed.select("sf").head().getSeq[Float](0).size shouldBe 8
  }

  test("resize preserves transparency; decodeBatched rejects column clashes") {
    import spark.implicits._
    // a 4x4 PNG whose left half is transparent, right half opaque red
    val src = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 4; x <- 2 until 4) src.setRGB(x, y, 0xFFFF0000)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", buf)
    val df = Seq((1L, buf.toByteArray)).toDF("id", "payload")
    val out = Multimodal.resizeBatched(df, "payload", w = 4, h = 4)
      .select("payload").head().getAs[Array[Byte]](0)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out))
    // regression: an RGB raster composited transparent pixels onto
    // uninitialized black; the ARGB raster keeps alpha = 0
    ((back.getRGB(0, 0) >>> 24) & 0xFF) shouldBe 0
    ((back.getRGB(3, 0) >>> 24) & 0xFF) shouldBe 255
    // appending mime/width/height/n_bytes over a clashing input schema
    // must fail fast, not produce duplicate-name columns
    val clash = Seq((1L, Array[Byte](1), 9)).toDF("id", "payload", "width")
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeBatched(clash, "payload")
  }

  test("flatMapGroupsWithState emits running high-value alerts (batch + stream)") {
    val ev = Tables.events(spark, sf)
    val batchOut = Streams.highValueAlerts(ev, threshold = 0.9).collect()
    val expectedCount = ev.filter(F.col("value") > 0.9).count()
    batchOut.length.toLong shouldBe expectedCount
    // per user, running counts are 1..n in event-id order
    batchOut.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.sortBy(_.getLong(1)).map(_.getLong(3)).toSeq shouldBe
        (1L to rows.length.toLong)
    }

    // streaming: two micro-batches, counts must carry across them
    val dir = java.nio.file.Files.createTempDirectory("graft-alerts").toString
    val split = ev.limit(500).randomSplit(Array(0.5, 0.5), seed = 11)
    split(0).write.mode("overwrite").parquet(dir)
    split(1).write.mode("append").parquet(dir)
    val stream = Streams.readEventStream(spark, dir, ev.schema)
    val q = Streams.highValueAlerts(stream, threshold = 0.9)
      .writeStream.format("memory").queryName("alerts_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("alerts_test").collect()
    streamed.length.toLong shouldBe ev.limit(500).filter(F.col("value") > 0.9).count()
    streamed.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.map(_.getLong(3)).sorted.toSeq shouldBe (1L to rows.length.toLong)
    }
  }

  test("resize rewrites header dims, frame sampling multiplies rows") {
    val packed = Multimodal.withFakeMedia(docs.limit(10), "text")
    val resized = packed.withColumn("payload",
      Multimodal.resizeStub(F.col("payload"), 64, 64))
    val dims = resized.select(Multimodal.decodeStub(F.col("payload")).as("d"))
      .select("d.width", "d.height").distinct().collect()
    dims.length shouldBe 1
    dims.head.getInt(0) shouldBe 64
    val frames = Multimodal.sampleFramesStub(packed, "payload", 4)
    frames.count() shouldBe 40
  }

  // ---- streaming -------------------------------------------------------

  test("streaming tumbling stats == batch tumbling stats (end-to-end readStream)") {
    val batchEvents = Tables.events(spark, sf)
    val expected = Streams.tumblingStats(batchEvents).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    // Stage the events as a parquet dir (micro-batch file source), stream
    // it through the SAME transform, collect from a memory sink.
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val stream = Streams.readEventStream(spark, dir,
      batchEvents.schema)
    val q = Streams.streamingTumblingStats(stream)
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("tumbling_test").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    got shouldBe expected
  }

  test("gopher gate streams unmodified: readStream result == batch result") {
    import graft.operators.Selection
    // pure projection + filter — the SAME call must run under readStream
    val batchKept = Selection.gopherFilter(docs, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-gopher").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = Selection.gopherFilter(stream, "text")
      .select("doc_id")
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("gopher_stream").collect().map(_.getLong(0)).toSet
    got shouldBe batchKept
  }

  test("materializeTrainingSet writes split-partitioned packs; probes prune") {
    import graft.operators.{Packing, Pipelines, Selection}
    val dir = java.nio.file.Files.createTempDirectory("graft-trainset").toString
    val out = Pipelines.materializeTrainingSet(docs, "doc_id", "text",
      s"$dir/set", budget = 256, nBuckets = 8)
    // written rows == the curated+split+packed plan replayed directly
    // (split at DOCUMENT granularity, packs confined within a split)
    val chunks = Pipelines.curateForTraining(docs, "doc_id", "text")
    val expect = Packing.packChunks(
      Selection.hashSplit(chunks, "doc_id",
        Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01)),
      "doc_id", "chunk_idx", "n_tokens", budget = 256, nBuckets = 8,
      extraPartitionCols = Seq("split"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotBySplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    gotBySplit shouldBe expect
    gotBySplit.values.sum should be > 0L
    // THE leak guard: all chunks of one document share ONE split — a
    // finer-grained draw would put the chunkSize-overlap token span on
    // both sides of a train/val boundary (contaminated held-out loss)
    out.groupBy("doc_id")
      .agg(F.countDistinct("split").as("ns"))
      .filter(F.col("ns") > 1).count() shouldBe 0L
    // packs are keyed (split, pack_id): formed within one split partition
    // by construction, so no pack's CONTENT can straddle a boundary; the
    // ordinal space repeats across splits (documented — pack_id alone is
    // not a global key), which is what the doc-level invariant above plus
    // the per-split window guarantee together replace the old pack-level
    // split draw with
    // epoch access pattern: a split filter prunes directories
    val trainScan = spark.read.parquet(s"$dir/set")
      .filter(F.col("split") === "train")
    trainScan.collect()
    trainScan.queryExecution.executedPlan.toString should include("PartitionFilters: [isnotnull(split")
  }

  test("materializeTrainingSet drops null-id documents: no null split is " +
    "written or read back") {
    import spark.implicits._
    import graft.operators.Pipelines
    val rnd = new scala.util.Random(7)
    def text: String = Seq.fill(60)(
      Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
      .mkString(" ")
    val nullDocs = Seq.fill(4)((Option.empty[Long], text))
      .toDF("doc_id", "text")
    val corpus = docs.select(F.col("doc_id"), F.col("text"))
      .unionByName(nullDocs)
    // the null-id docs survive curation, so only the new filter drops them
    Pipelines.curateForTraining(corpus, "doc_id", "text")
      .filter(F.col("doc_id").isNull).count() should be > 0L
    val dir = java.nio.file.Files.createTempDirectory("graft-trainset-null")
      .toString + "/set"
    val out = Pipelines.materializeTrainingSet(corpus, "doc_id", "text", dir,
      budget = 256, nBuckets = 8)
    new java.io.File(dir).list().toSeq
      .filter(_.startsWith("split=")).sorted should not be empty
    new java.io.File(dir).list().toSeq
      .exists(_.contains("__HIVE_DEFAULT_PARTITION__")) shouldBe false
    out.filter(F.col("split").isNull).count() shouldBe 0L
    out.filter(F.col("doc_id").isNull).count() shouldBe 0L
    // the non-null documents are written exactly as before
    val ref = Pipelines.materializeTrainingSet(
      docs.select(F.col("doc_id"), F.col("text")), "doc_id", "text",
      dir + "-ref", budget = 256, nBuckets = 8)
    out.groupBy("split").count().collect().toSet shouldBe
      ref.groupBy("split").count().collect().toSet
  }

  test("packChunks buckets string ids by hash instead of crashing/nulling") {
    import spark.implicits._
    import graft.operators.Packing
    val chunks = Seq(
      ("doc-a", 0, 100), ("doc-a", 1, 100), ("doc-b", 0, 100),
      ("uuid-3f9", 0, 100)).toDF("doc_id", "chunk_idx", "n_tokens")
    val packed = Packing.packChunks(chunks, "doc_id", "chunk_idx",
      "n_tokens", budget = 150, nBuckets = 4)
    packed.count() shouldBe 4
    packed.filter(F.col("pack_id").isNull).count() shouldBe 0L
  }

  test("pq paths survive a ragged vector (null codes, row dropped)") {
    import spark.implicits._
    // regression: pq_codes required vec.length == dim and one ragged
    // embedding row killed the whole job; it now encodes to NULL and the
    // encode face drops it (the malformedVectors audit reports it)
    val good = emb.limit(20).select(F.col("vec_id"),
      F.col("embedding").cast("array<double>").as("embedding"))
    val ragged = Seq((99999L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val corpus = good.unionByName(ragged)
    val cb = Similarity.trainPqCodebooks(good, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 8)
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    enc should not contain 99999L
    enc.size shouldBe 20
    // top-k over the mixed corpus: no crash, ragged row never a candidate
    val got = Similarity.pqTopK(good.limit(2), corpus, "vec_id",
        "embedding", k = 3, cb)
      .select("cand_id").collect().map(_.getLong(0)).toSet
    got should not contain 99999L
  }

  test("srpBucket: null/ragged vectors get a NULL key; plane count guarded") {
    import spark.implicits._
    val mixed = Seq(
      (1L, Seq(1.0, 2.0, 3.0, 4.0)),
      (2L, Seq(1.0, 2.0)), // ragged
      (3L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "embedding")
    val keys = mixed.select(F.col("vec_id"),
        Similarity.srpBucket(F.col("embedding"), dim = 4, nPlanes = 6,
          seed = 7L).as("b"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    keys(1L) shouldBe false
    keys(2L) shouldBe true // never a bucket-0 hotspot candidate
    keys(3L) shouldBe true
    an[IllegalArgumentException] should be thrownBy
      Similarity.srpBucket(F.col("embedding"), dim = 4, nPlanes = 64,
        seed = 7L)
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val batchEvents = Tables.events(spark, sf).limit(100)
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    // Write the same rows twice -> two files -> two micro-batches.
    batchEvents.write.mode("overwrite").parquet(dir)
    batchEvents.write.mode("append").parquet(dir)
    val stream = Streams.readEventStream(spark, dir, batchEvents.schema)
    val q = Streams.streamingDedup(stream)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("dedup_test").select("event_id").distinct().count() shouldBe
      spark.table("dedup_test").count()
  }

  test("streaming doc dedup: same content (modulo punctuation) passes once") {
    import spark.implicits._
    val d1 = Seq(
      (1L, "Hello,  World!", "2024-01-01 10:00:00"),
      (2L, "fresh content here", "2024-01-01 10:01:00"))
    val d2 = Seq(
      (3L, "hello world", "2024-01-01 10:02:00"),       // near-identical to 1
      (4L, "another new doc", "2024-01-01 10:03:00"))
    def frame(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "ts_s")
        .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    val dir = java.nio.file.Files.createTempDirectory("graft-docdedup").toString
    frame(d1).write.mode("overwrite").parquet(dir)
    frame(d2).write.mode("append").parquet(dir)
    val stream = Streams.readEventStream(spark, dir, frame(d1).schema)
    val q = Streams.streamingDocDedup(stream, "text", "ts")
      .writeStream.format("memory").queryName("docdedup_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("docdedup_test").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // exactly one of {1, 3} survives (same fingerprint), plus 2 and 4
    kept.intersect(Set(1L, 3L)).size shouldBe 1
    kept should contain allOf (2L, 4L)
    kept.size shouldBe 3
  }

  test("streaming dedup against a static corpus drops known fingerprints") {
    import spark.implicits._
    val ref = Seq((100L, "Hello,  World!"), (101L, "old curated doc"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "hello world", "2024-01-01 10:00:00"),   // fp-matches ref 100
      (2L, "brand new doc", "2024-01-01 10:01:00"),
      (3L, "old curated doc", "2024-01-01 10:02:00")) // exact ref 101
      .toDF("doc_id", "text", "ts_s")
      .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    val dir = java.nio.file.Files.createTempDirectory("graft-xdedup").toString
    incoming.write.mode("overwrite").parquet(dir)
    val stream = Streams.readEventStream(spark, dir, incoming.schema)
    val q = Streams.streamingDedupAgainstStatic(stream, "text",
        ref.select(F.col("doc_id").as("ref_id"), F.col("text")), "text")
      .writeStream.format("memory").queryName("xdedup_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("xdedup_test").select("doc_id")
      .collect().map(_.getLong(0)).toSet shouldBe Set(2L)
  }

  test("fluent syntax: dedupAgainstCorpus + perplexityTrim chain") {
    import graft.extras.syntax._
    import graft.core.KFrame
    val newBatch = KFrame.wrap(docs.filter(F.col("doc_id") % 2 === 1))
    val existing = KFrame.wrap(docs.filter(F.col("doc_id") % 2 === 0))
    val out = newBatch
      .dedupAgainstCorpus("doc_id", "text", existing, "doc_id", "text")
      .perplexityTrim("doc_id", "text", lo = 0.02, hi = 0.98)
    val ids = out.toDF.select("doc_id").collect().map(_.getLong(0)).toSet
    // survivors are a strict subset of the batch, all columns intact
    val batchIds = newBatch.toDF.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    ids.subsetOf(batchIds) shouldBe true
    ids.size should be < batchIds.size
    out.toDF.columns should contain allOf ("doc_id", "text")
  }

  test("curateStream: quality gate + stream dedup + static gate, end-to-end") {
    import spark.implicits._
    val ref = Seq((100L, "this is the known curated document " +
      "that we already have stored with many plain words in it"))
      .toDF("ref_id", "text")
    val good = "this is a perfectly reasonable document with plenty of " +
      "normal words and a decent length for the quality gate to accept"
    val incoming = Seq(
      (1L, good, "2024-01-01 10:00:00"),                  // survives
      (2L, good + "!", "2024-01-01 10:01:00"),            // stream near-dup of 1
      (3L, "x@#", "2024-01-01 10:02:00"),                 // fails quality
      (4L, "This is the KNOWN curated document that we already have " +
        "stored, with many plain words in it", "2024-01-01 10:03:00"))
      .toDF("doc_id", "text", "ts_s")
      .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    val dir = java.nio.file.Files.createTempDirectory("graft-curstream").toString
    incoming.write.mode("overwrite").parquet(dir)
    val stream = Streams.readEventStream(spark, dir, incoming.schema)
    val q = Streams.curateStream(stream, "text", "ts", ref, "text")
      .writeStream.format("memory").queryName("curstream_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("curstream_test").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // doc 4 fingerprints to the ref doc (case/punct-normalized) -> gated;
    // docs 1/2 share a fingerprint -> exactly one passes; 3 fails quality
    kept.intersect(Set(1L, 2L)).size shouldBe 1
    (kept should not).contain(3L)
    (kept should not).contain(4L)
  }

  test("interval join: stream-stream result == batch result (e2e readStream)") {
    val ev = Tables.events(spark, sf)
      .select(F.col("event_id"), F.col("ts"), F.col("user_id")).limit(200)
    val pur = Tables.events(spark, sf)
      .filter(F.col("event_type") === "purchase")
      .select(F.col("user_id"), F.col("ts").as("p_ts"),
        F.col("value").as("p_value"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), r.getDouble(2))
    val batch = Streams.intervalJoin(ev, pur, "user_id", "ts", "p_ts",
        "30 minutes")
      .select("event_id", "p_ts", "p_value").collect().map(key).toSet
    batch should not be empty
    val d1 = java.nio.file.Files.createTempDirectory("graft-ij-l").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-ij-r").toString
    ev.write.mode("overwrite").parquet(d1)
    pur.write.mode("overwrite").parquet(d2)
    // both sides watermarked: the range condition + watermarks bound the
    // join state (buffered rows evict once they can never match again)
    val s1 = Streams.readEventStream(spark, d1, ev.schema)
      .withWatermark("ts", "1 hour")
    val s2 = Streams.readEventStream(spark, d2, pur.schema)
      .withWatermark("p_ts", "1 hour")
    val q = Streams.intervalJoin(s1, s2, "user_id", "ts", "p_ts", "30 minutes")
      .select("event_id", "p_ts", "p_value")
      .writeStream.format("memory").queryName("ijoin_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("ijoin_test").collect().map(key).toSet shouldBe batch
  }

  test("extractProps: schema'd JSON fields; malformed/null rows -> null") {
    import spark.implicits._
    val df = Seq((1L, """{"k": 5}"""), (2L, "not json"),
      (3L, null.asInstanceOf[String]), (4L, """{"other": 1}"""))
      .toDF("id", "props")
    val out = Streams.extractProps(df, "props", "k BIGINT")
      .select("id", "k").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    out shouldBe Map(1L -> Some(5L), 2L -> None, 3L -> None, 4L -> None)
  }

  test("sliding windows count each event in every overlapping window") {
    import spark.implicits._
    val e = Seq((1L, "2024-01-01 10:45:00", 7L, "view", 1.0, ""))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    // 1h window sliding by 30min: the event at 10:45 falls in the windows
    // starting 10:00 and 10:30.
    val out = Streams.slidingCounts(e).orderBy("ws").collect()
    out.length shouldBe 2
    out.map(_.getAs[Long]("n")).toSeq shouldBe Seq(1L, 1L)
  }

  test("stream-static join enriches each micro-batch from a broadcast dim") {
    import spark.implicits._
    val ev = Tables.events(spark, sf).limit(100)
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", F.when(F.col("user_id") % 2 === 0, "even").otherwise("odd"))
    val dir = java.nio.file.Files.createTempDirectory("graft-enrich").toString
    ev.write.mode("overwrite").parquet(dir)
    val stream = Streams.readEventStream(spark, dir, ev.schema)
    val q = Streams.enrichWithStatic(stream, dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("enrich_test")
    out.count() shouldBe 100
    out.filter(F.col("tier").isNull).count() shouldBe 0
    out.filter((F.col("user_id") % 2 === 0) =!= (F.col("tier") === "even"))
      .count() shouldBe 0
  }

  test("session windows merge events within the gap") {
    import spark.implicits._
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "view", 1.0, ""),
      (2L, "2024-01-01 10:10:00", 7L, "view", 2.0, ""),
      (3L, "2024-01-01 12:00:00", 7L, "view", 3.0, ""))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    val out = Streams.userSessions(e).orderBy("session_start").collect()
    out.length shouldBe 2
    out(0).getAs[Long]("n_events") shouldBe 2
    out(1).getAs[Long]("n_events") shouldBe 1
  }

  // ---- round 5: ADC guard, seeding, plan pins, packing, stream gate ------

  test("PQ paths survive a zero-norm query vector (ANSI divide guard)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val good = (0L until 20L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val zeroQ = (99L, Array.fill(8)(0.0f))
    val df = (good :+ zeroQ).toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(df, "vec_id", "embedding",
      dim = 8, m = 2, ksub = 4)
    val queries = df.filter(F.col("vec_id") === 99L || F.col("vec_id") < 2)
    // without adcScored's when-guard the division by __qn = 0.0 THROWS
    // DIVIDE_BY_ZERO under Spark 4's default ANSI mode — one bad embedding
    // killing the whole probe job
    val out = Similarity.pqTopKRerank(queries, df, "vec_id", "embedding",
        k = 3, cb, shortlist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the zero query scores null everywhere (cosine null contract) and
    // contributes no rows; the real queries still rank their top-k
    out.map(_._1).toSet shouldBe Set(0L, 1L)
  }

  test("IVF centroid seeding is corpus-wide even on cluster-sorted input") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def pt(center: Double) =
      Array.fill(8)((center + rnd.nextGaussian() * 0.1).toFloat)
    // two well-separated clusters, physical row order = all of A, then all
    // of B (the sorted/sharded-corpus layout)
    val a = (0L until 100L).map(i => (i, pt(-5.0)))
    val b = (100L until 200L).map(i => (i, pt(5.0)))
    val df = (a ++ b).toDF("vec_id", "embedding")
    // the defect being guarded against: a sample().limit() seed draw takes
    // the FIRST surviving rows — every seed lands in cluster A
    val oldStyle = df.select(F.col("embedding").cast("array<double>"))
      .sample(withReplacement = false, 0.5, 42L).limit(8)
      .collect().map(_.getSeq[Double](0))
    oldStyle.count(_.sum > 0) shouldBe 0
    // the hash-ordered seed sampler draws corpus-wide: both clusters are
    // represented, so neither cluster's lists starve
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-skew").toString
    Similarity.buildIvfIndex(df, "vec_id", "embedding", dir, nCentroids = 8)
    val cents = spark.read.parquet(s"$dir/_centroids").collect()
      .map(_.getSeq[Double](1))
    cents.count(_.sum < 0) should be > 0
    cents.count(_.sum > 0) should be > 0
    // and probes over the skew-prone layout still recover the exact top-k
    // neighborhood of queries from BOTH clusters
    val queries = df.filter(F.col("vec_id") === 0L || F.col("vec_id") === 199L)
    val probe = Similarity.probeIvfIndex(spark, dir, queries,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(queries, df, "vec_id", "embedding",
        k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.intersect(probe).size.toDouble should be >= exact.size * 0.5
  }

  test("Dedup.exact window runs over the (hash, key) projection only") {
    // plant real duplicates: with zero losers AQE folds the empty
    // broadcast anti-join away and the final plan would have no window
    // to inspect at all
    val dup = docs.select(F.col("doc_id"), F.col("text")).unionByName(
      docs.select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text")))
    val q = Dedup.exact(dup, "text", "doc_id")
    q.collect()
    val p = FallbackAudit.finalPlan(q)
    // SCALE.md's claim, pinned directly on exact(): the loser window
    // consumes a two-column (hash, key) projection — document text never
    // enters the window exchange (the corpus-sized-shuffle killer the
    // former whole-row window shape had). AQE wraps materialized
    // subtrees in QueryStageExec whose plan is NOT in `children`, so
    // flatten through them explicitly.
    def flatten(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (sp +: sp.children.flatMap(flatten)) ++ (sp match {
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          flatten(qs.plan)
        case _ => Nil
      })
    val nodes = flatten(p)
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows should not be empty
    windows.foreach { w =>
      w.child.output.map(_.name) should contain theSameElementsAs
        Seq("__h", "doc_id")
    }
    nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach(_.child.output.map(_.name) should not contain "text")
  }

  test("repetition battery: hand-computed fractions on crafted fixtures") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),    // pure 2-token loop
      (2L, "x\nx\ny"),        // repeated line, no paragraph break
      (3L, "p\n\np\n\nq"),    // repeated paragraph
      // 30 distinct words: long enough that the count-1 top-n-gram
      // fractions stay under threshold (the battery presumes the Gopher
      // 50-word floor has run; a 4-word doc "fails" top-ngram trivially)
      (4L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliet kilo lima mike november oscar papa quebec romeo sierra " +
        "tango uniform victor whiskey xray yankee zulu maple cedar birch aspen")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionRules(df, "text")
      .select(F.col("doc_id") +:
        TextAnalysis.RepetitionSignals.map(F.col) :+ F.col("rep_pass"): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: tokens [a b a b a b], joined chars = 11
    //   top2 = "a b"×3 · len 3 = 9/11; top3 tie c=2 → mass 10/11;
    //   top4 = "a b a b"×2 · len 7 = 14/11 → clamps to 1.0; dup5+ = 0
    val d1 = got(1L)
    d1.getDouble(5) shouldBe 9.0 / 11 +- 1e-12  // top_2gram
    d1.getDouble(6) shouldBe 10.0 / 11 +- 1e-12 // top_3gram
    d1.getDouble(7) shouldBe 1.0 +- 1e-12       // top_4gram (clamped)
    d1.getDouble(8) shouldBe 0.0 +- 1e-12       // dup_5gram
    d1.getBoolean(14) shouldBe false            // fails top-ngram rules
    // doc 2: lines [x, x, y] → dup 2/3, chars (2·1)/(2·1+1) = 2/3;
    //   one paragraph → para fracs 0
    val d2 = got(2L)
    d2.getDouble(1) shouldBe 2.0 / 3 +- 1e-12
    d2.getDouble(2) shouldBe 2.0 / 3 +- 1e-12
    d2.getDouble(3) shouldBe 0.0 +- 1e-12
    // doc 3: paragraphs [p, p, q] → dup 2/3; lines [p, "", p, "", q] →
    //   p×2 and ""×2 duplicated → dup_line_frac 4/5; char-weighted the
    //   empty lines carry 0 chars → dup chars 2 of 3
    val d3 = got(3L)
    d3.getDouble(3) shouldBe 2.0 / 3 +- 1e-12
    d3.getDouble(1) shouldBe 4.0 / 5 +- 1e-12
    d3.getDouble(2) shouldBe 2.0 / 3 +- 1e-12
    // doc 4: nothing repeats; only top-ngram fractions are nonzero and
    // small enough to pass every rule
    val d4 = got(4L)
    d4.getDouble(1) shouldBe 0.0 +- 1e-12
    d4.getDouble(8) shouldBe 0.0 +- 1e-12
    d4.getBoolean(14) shouldBe true
    // filter face drops failures and signal columns
    val kept = TextAnalysis.repetitionFilter(df, "text")
    kept.columns should not contain "dup_line_frac"
    kept.select("doc_id").collect().map(_.getLong(0)).toSet should
      not contain 1L
  }

  test("repetition battery: one kernel call, no shuffle, no HOF in the plan") {
    val q = TextAnalysis.repetitionRules(docs, "text")
      .filter(F.col("rep_pass"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    "rep_stats".r.findAllIn(plan).size shouldBe 1
    plan should not include "lambdafunction"
    (plan should not).include("Exchange")
  }

  test("normalizeText: scan-side kernel projection, codegen, no shuffle") {
    val q = docs.select(F.col("doc_id"),
      TextAnalysis.normalizeText(F.col("text")).as("clean"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    "normalize_text".r.findAllIn(plan).size shouldBe 1
    // `*(n)` prefix = inside a WholeStageCodegen stage
    plan should include("*(1) Project")
    (plan should not).include("Exchange")
    // semantic spot-checks through the Spark surface (kernel semantics
    // are fuzz-pinned in PropertySpec): clean input is a fixed point;
    // normalize-before-fingerprint makes encoding variants converge
    import spark.implicits._
    val variants = Seq(
      "Caf\u00E9  du\tmonde\r\n",
      "Cafe\u0301 du monde\n\u0007").toDF("t")
    val cleaned = variants
      .select(TextAnalysis.normalizeText(F.col("t")).as("c"))
      .distinct().collect()
    cleaned.length shouldBe 1
    cleaned.head.getString(0) shouldBe "Caf\u00E9 du monde"
  }

  test("gopher + repetition gates compose into ONE scan, each kernel once") {
    // the full MassiveText gate = structural battery ∧ repetition battery;
    // both are scan-side kernel projections, so chaining the filter faces
    // must stay a single corpus scan with each kernel evaluated once —
    // no exchange, no second pass, no kernel duplication
    val q = graft.operators.Selection.gopherFilter(
      TextAnalysis.repetitionFilter(docs, "text"), "text")
    q.collect()
    val plan = FallbackAudit.finalPlan(q).toString
    "rep_stats".r.findAllIn(plan).size shouldBe 1
    "gopher_stats".r.findAllIn(plan).size shouldBe 1
    "FileScan parquet".r.findAllIn(plan).size shouldBe 1
    (plan should not).include("Exchange")
  }

  test("BPE segmentation: hand-computed merges, greedy lowest-rank order") {
    import spark.implicits._
    // merges: 0:(a,b), 1:(ab,c), 2:(x,y) — "abc" must fuse THROUGH rank 0
    // into rank 1's (ab,c): the greedy loop re-checks after every merge
    // (sequential one-pass replay would stop at [ab, c])
    val merges = Seq("a" -> "b", "ab" -> "c", "x" -> "y")
    val df = Seq(
      (1L, "abc ab xyz"), // abc->1, ab->1, xyz->[xy,z]->2   => 4
      (2L, "ABC, ab!"),   // lowercased + punctuation-split  => 2
      (3L, "qqq"),        // no merges apply: 3 chars        => 3
      (4L, "")            // no tokens                       => 0
    ).toDF("id", "text")
    val got = df.select(F.col("id"),
        TextAnalysis.subwordCountBpe(F.col("text"), merges).as("n"),
        TextAnalysis.bpeTokens(F.col("text"), merges).as("ts"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[String](2)))
      .toMap
    got(1L) shouldBe (4L, Seq("abc", "ab", "xy", "z"))
    got(2L) shouldBe (2L, Seq("abc", "ab"))
    got(3L) shouldBe (3L, Seq("q", "q", "q"))
    got(4L) shouldBe (0L, Seq.empty)
    // count face == size of token face for every corpus row (one kernel)
    val agree = docs.select(
        TextAnalysis.subwordCountBpe(F.col("text"), merges).as("n"),
        F.size(TextAnalysis.bpeTokens(F.col("text"), merges)).cast("long").as("m"))
      .filter(F.col("n") =!= F.col("m")).count()
    agree shouldBe 0L
  }

  test("BPE training learns frequency-greedy merges; save/load round-trips") {
    import spark.implicits._
    // classic fixture: 'lo' dominates (low x5, lower x2), then 'low'
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(2)("newest")).mkString(" ")
    val df = Seq((1L, corpus)).toDF("id", "text")
    val merges = TextAnalysis.trainBpeMerges(df, "text", numMerges = 3)
    merges.head shouldBe ("l" -> "o")
    merges(1) shouldBe ("lo" -> "w")
    // deterministic across invocations
    TextAnalysis.trainBpeMerges(df, "text", numMerges = 3) shouldBe merges
    // segmenting the training corpus with the learned table fuses "low"
    val toks = df.select(TextAnalysis.bpeTokens(F.col("text"), merges).as("ts"))
      .head().getSeq[String](0)
    toks.count(_ == "low") shouldBe 7 // 5x low + the 'low' prefix of lower
    // artifact round-trip preserves table and order
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bpe").toString + "/vocab"
    TextAnalysis.saveBpeVocab(spark, merges, dir)
    TextAnalysis.loadBpeVocab(spark, dir) shouldBe merges
    // trainer exhausts gracefully when numMerges exceeds the pair space
    val tiny = TextAnalysis.trainBpeMerges(
      Seq((1L, "ab ab")).toDF("id", "text"), "text", numMerges = 50)
    tiny shouldBe Seq("a" -> "b")
  }

  test("BPE counts drive token-budget caps and packing unchanged") {
    import spark.implicits._
    val merges = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 100)
    val counted = docs.select(F.col("doc_id"), F.col("source"),
      TextAnalysis.subwordCountBpe(F.col("text"), merges).as("nt"))
    val capped = graft.operators.Selection.capTokensPerGroup(
      counted, "source", "doc_id", F.col("nt"), budget = 2000L)
    // caps hold under the BPE counter exactly as under any count column
    capped.groupBy("source").agg(F.max("cum_tokens").as("m"))
      .collect().foreach(_.getLong(1) should be <= 2000L)
    capped.count() should be > 0L
  }

  test("multi-signal text queries tokenize exactly ONCE per row") {
    def finalPlan(q: org.apache.spark.sql.DataFrame): String = {
      q.collect()
      FallbackAudit.finalPlan(q).toString
    }
    // HOF lambdas are CSE-exempt (SPARK-35410): inlining tokens(text) into
    // each signal re-runs the tokenizer per signal per row, interpreted.
    // The queries materialize a __ts attribute instead; pin one tokenizer
    // occurrence in each FINAL adaptive plan.
    val tokenizer = java.util.regex.Pattern.quote("split(lower").r
    Seq(
      "q_text_stats" -> Queries.q_text_stats(spark, sf),
      "q_text_quality" -> Queries.q_text_quality(spark, sf),
      "q_corpus_stats" -> Queries.q_corpus_stats(spark, sf),
      "q_text_repetition" -> Queries.q_text_repetition(spark, sf),
      "analyze" -> TextAnalysis.analyze(docs, "text")
    ).foreach { case (name, q) =>
      withClue(s"$name: ") {
        tokenizer.findAllIn(finalPlan(q)).size shouldBe 1
      }
    }
    // Composed pipelines: the quality gate's FILTER can't be saved by a
    // plain attribute projection (predicate pushdown substitutes aliases
    // through Project), so the gate tokenizes behind a Generate barrier
    // (Hygiene.attributeBarrier) — one evaluation per runtime corpus scan
    // (2 scans after AQE stage reuse; was 16 occurrences before the
    // barrier). Same contract for the streaming gate's batch face.
    withClue("q_pipeline: ") {
      tokenizer.findAllIn(finalPlan(Queries.q_pipeline(spark, sf)))
        .size should be <= 2
    }
    withClue("q_curate_stream_batch: ") {
      tokenizer.findAllIn(finalPlan(Queries.q_curate_stream_batch(spark, sf)))
        .size should be <= 2
    }
  }

  test("packing: buckets are independent; auto variant derives the count") {
    import graft.operators.Packing
    val chunks = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
      size = 100, overlap = 50)
    val packed = Packing.packChunks(chunks, "doc_id", "chunk_idx",
      "n_tokens", budget = 256, nBuckets = 16)
    // bucket purity: packing ONLY bucket 3's chunks (same nBuckets) yields
    // identical pack assignments — ordinals never depend on other buckets,
    // so raising nBuckets splits work without changing pack semantics
    val only3 = chunks.filter(F.pmod(F.col("doc_id"), F.lit(16L)) === 3)
    val alone = Packing.packChunks(only3, "doc_id", "chunk_idx", "n_tokens",
        budget = 256, nBuckets = 16)
      .select("doc_id", "chunk_idx", "pack_id").collect().toSet
    val together = packed
      .filter(F.col("pack_id") >= 3L * (1L << 40) &&
        F.col("pack_id") < 4L * (1L << 40))
      .select("doc_id", "chunk_idx", "pack_id").collect().toSet
    alone shouldBe together
    alone should not be empty
    // packChunksAuto == packChunks at the derived bucket count
    val n = chunks.count()
    val expectedNb = math.max(
      spark.sparkContext.defaultParallelism.toLong, (n + 49) / 50).toInt
    val auto = Packing.packChunksAuto(chunks, "doc_id", "chunk_idx",
        "n_tokens", budget = 256, maxRowsPerBucket = 50)
      .select("doc_id", "chunk_idx", "pack_id").collect().toSet
    val manual = Packing.packChunks(chunks, "doc_id", "chunk_idx",
        "n_tokens", budget = 256, nBuckets = expectedNb)
      .select("doc_id", "chunk_idx", "pack_id").collect().toSet
    auto shouldBe manual
  }

  test("curateBatch replays the streaming gate deterministically") {
    import spark.implicits._
    val good = "this is a perfectly reasonable document with plenty of " +
      "normal words and a decent length for the quality gate to accept"
    val incoming = Seq(
      (5L, good), // dup class of 1, higher id -> dropped
      (1L, good), // survives: lowest id of its fingerprint class
      (2L, good + "!"), // same normalized fingerprint -> dropped
      (3L, "x@#"), // fails the quality gate
      (4L, "this doc matches the reference corpus so it must be gated " +
        "even though the quality is fine and it is long enough"))
      .toDF("doc_id", "text")
    val ref = Seq("This DOC matches the reference corpus, so it must be " +
      "gated; even though the quality is fine and it is long enough!")
      .toDF("text")
    val kept = Streams.curateBatch(incoming, "doc_id", "text", ref, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe Set(1L)
  }

  test("keyCentroids assembles the long-form means in dimension order") {
    val long = Similarity.meanVectorByKey(emb, "label", "embedding").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val wide = Similarity.keyCentroids(emb, "label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    wide should not be empty
    wide.foreach { case (label, c) =>
      c.length shouldBe 64
      c.zipWithIndex.foreach { case (v, i) =>
        v shouldBe long((label, i)) +- 1e-12
      }
    }
  }

  test("dedupLines: corpus-wide first-occurrence line dedup, map-side pruned") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha\nFOOTER\nbeta"),
      (2L, "gamma\nFOOTER"),
      (3L, "FOOTER")).toDF("id", "text")
    val q = Dedup.dedupLines(df, "id", "text")
    val out = q.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 keeps the footer (first occurrence), doc 2 loses it, doc 3
    // (every line a repeat) drops out entirely
    out shouldBe Map(1L -> "alpha\nFOOTER\nbeta", 2L -> "gamma")
    // the rank-1 filter compiles to WindowGroupLimit: a boilerplate line
    // reaches its reducer once per map partition, not once per copy
    val p = FallbackAudit.finalPlan(q).toString
    p should include("WindowGroupLimit")
  }

  test("dupStats reconciles with exact distinct counts per group") {
    val stats = Dedup.dupStats(docs, "source", "text").collect()
    stats should not be empty
    stats.map(_.getAs[Long]("n_docs")).sum shouldBe docs.count()
    stats.map(_.getAs[Long]("n_classes")).sum shouldBe
      docs.select("source", "text").distinct().count()
    stats.foreach { r =>
      r.getAs[Long]("n_dup_docs") shouldBe
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_classes")
    }
  }

  test("persisted band index: probe == live cross-corpus path; append grows it") {
    val newBatch = docs.filter(F.col("doc_id") % 2 === 1)
    val corpus = docs.filter(F.col("doc_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-bandidx")
      .toString + "/idx"
    Dedup.saveBandIndex(corpus, "doc_id", "text", dir)
    val got = Dedup.nearDupPairsAgainstIndex(newBatch, "doc_id", "text",
        dir, threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val live = Dedup.minhashNearDupAgainst(newBatch, "doc_id", "text",
        corpus, "doc_id", "text", threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    got.keySet shouldBe live.keySet
    got should not be empty
    got.foreach { case (k, j) => j shouldBe live(k) +- 1e-12 }
    // the gate face drops exactly the docs with an index hit
    val keptIdx = Dedup.dedupAgainstIndex(newBatch, "doc_id", "text", dir)
      .collect().map(_.getLong(0)).toSet
    val all = newBatch.collect().map(_.getLong(0)).toSet
    keptIdx shouldBe (all -- got.keySet.map(_._1))
    // the artifact's whole point: the probe never re-shingles the corpus —
    // the ONE shingle kernel in the plan is the new batch's. Like every
    // other kernel-count pin, execute FIRST so AQE finalizes exchange
    // reuse (the static plan duplicates the shared repartition(id) stage).
    val q = Dedup.nearDupPairsAgainstIndex(newBatch, "doc_id", "text", dir)
    q.collect()
    val plan = FallbackAudit.finalPlan(q).toString
    "shingle_hashes".r.findAllIn(plan).size shouldBe 1
    // append survivors, then an exact copy of an appended doc must hit
    Dedup.appendToBandIndex(
      newBatch.filter(F.col("doc_id").isin(keptIdx.toSeq.take(5): _*)),
      "doc_id", "text", dir)
    val probeId = keptIdx.head
    val probe = docs.filter(F.col("doc_id") === probeId)
      .withColumn("doc_id", F.col("doc_id") + 1000000L)
    val rehit = Dedup.nearDupPairsAgainstIndex(probe, "doc_id", "text",
        dir, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rehit should contain ((probeId + 1000000L, probeId))
    // fail fast on a parquet dir that is not a band index
    val bogus = java.nio.file.Files.createTempDirectory("graft-notidx")
      .toString + "/t"
    corpus.limit(3).write.parquet(bogus)
    an[IllegalArgumentException] should be thrownBy
      Dedup.nearDupPairsAgainstIndex(newBatch, "doc_id", "text", bogus)
  }

  test("md5 band-bloom gate flavor: drops ⊇ exact hits, deterministic") {
    val newBatch = docs.filter(F.col("doc_id") % 2 === 1)
    val corpus = docs.filter(F.col("doc_id") % 2 === 0)
    def keptMd5() = {
      val filter = Dedup.BandBloomMd5.build(corpus, "doc_id", "text")
      Dedup.BandBloomMd5.gate(newBatch, "doc_id", "text", filter)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val kept = keptMd5()
    // same ground truth as the kernel flavor: every exact cross-corpus
    // near-dup (Jaccard >= 0.8) must be dropped; survivors non-empty
    val exactHits = Dedup.minhashNearDupAgainst(newBatch, "doc_id", "text",
        corpus, "doc_id", "text", threshold = 0.8)
      .select("a_id").collect().map(_.getLong(0)).toSet
    exactHits should not be empty
    kept.intersect(exactHits) shouldBe empty
    kept should not be empty
    // gate output schema is the input schema (no helper columns leak);
    // the filter carries its banding parameters, so a build/gate
    // parameter mismatch is unrepresentable by construction
    val filter = Dedup.BandBloomMd5.build(corpus, "doc_id", "text")
    Dedup.BandBloomMd5.gate(newBatch, "doc_id", "text", filter)
      .columns.toSeq shouldBe newBatch.columns.toSeq
    // md5-derived end to end: a rebuilt filter + regated batch reproduce
    // the identical survivor set
    keptMd5() shouldBe kept
  }

  test("band-bloom gate: drops ⊇ exact banded hits; artifact replays; streams") {
    val newBatch = docs.filter(F.col("doc_id") % 2 === 1)
    val corpus = docs.filter(F.col("doc_id") % 2 === 0)
    val bloom = Dedup.corpusBandBloom(corpus, "text")
    val gated = Dedup.nearDupGateBloom(newBatch, "text", bloom)
    val kept = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    val all = newBatch.select("doc_id").collect().map(_.getLong(0)).toSet
    val exactHits = Dedup.minhashNearDupAgainst(newBatch, "doc_id", "text",
        corpus, "doc_id", "text", threshold = 0.8)
      .select("a_id").collect().map(_.getLong(0)).toSet
    // no false negatives at the band level: every exact banded hit is
    // dropped by the gate; excess drops are band collisions + bloom fpp
    exactHits should not be empty
    kept.intersect(exactHits) shouldBe empty
    kept should not be empty
    // gate output schema is the input schema (no helper columns leak)
    gated.columns.toSeq shouldBe newBatch.columns.toSeq
    // pure scan: no join, no exchange; shingle kernel exactly once
    val plan = gated.queryExecution.executedPlan.toString
    (plan should not).include("Exchange")
    (plan should not).include("Join")
    "shingle_hashes".r.findAllIn(plan).size shouldBe 1
    plan should include("bloom_count")
    // persisted artifact replays the in-memory gate identically
    val dir = java.nio.file.Files.createTempDirectory("graft-bandbloom")
      .toString + "/bb"
    Dedup.saveBandBloom(corpus, "text", dir)
    val keptArt = Dedup.nearDupGateFromArtifact(newBatch, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    keptArt shouldBe kept
    // a foreign artifact (different kind sidecar) fails fast
    val benchDir = java.nio.file.Files.createTempDirectory("graft-shbloom")
      .toString + "/sb"
    graft.operators.Contamination.saveBenchBloom(
      corpus.select(F.col("text").as("btext")), "btext", benchDir)
    an[IllegalArgumentException] should be thrownBy
      Dedup.nearDupGateFromArtifact(newBatch, "text", benchDir)
    // the SAME artifact gate runs under readStream unmodified
    val inDir = java.nio.file.Files.createTempDirectory("graft-ndstream")
      .toString
    newBatch.write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(newBatch.schema).parquet(inDir)
    val q = Streams.nearDupStreamGate(stream, "text", dir)
      .select("doc_id")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val gotStream = spark.table("neardup_stream").collect()
      .map(_.getLong(0)).toSet
    gotStream shouldBe kept
  }

  test("decontaminateFromArtifact == decontaminateBloom; wrong kind fails") {
    import graft.operators.Contamination
    val bench = docs.filter(F.col("doc_id") % 50 === 0)
      .select(F.col("text").as("btext"))
    val dir = java.nio.file.Files.createTempDirectory("graft-benchbloom")
      .toString + "/bb"
    Contamination.saveBenchBloom(bench, "btext", dir, n = 8)
    val keptArt = Contamination.decontaminateFromArtifact(docs, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptLive = Contamination.decontaminateBloom(docs, "doc_id", "text",
        bench, "btext", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    keptArt shouldBe keptLive
    keptArt should not be empty
    // a band-bloom artifact is not a shingle-bloom artifact
    val bandDir = java.nio.file.Files.createTempDirectory("graft-bandart")
      .toString + "/ba"
    Dedup.saveBandBloom(docs.filter(F.col("doc_id") % 2 === 0), "text",
      bandDir)
    an[IllegalArgumentException] should be thrownBy
      Contamination.decontaminateFromArtifact(docs, "text", bandDir)
  }

  test("hash-family stamp: stale or pre-stamp artifacts fail fast on load") {
    import graft.functions.Tok
    // overwrite an artifact's parameter sidecar with a modified copy
    // (collect first: Spark refuses to overwrite a path it is reading)
    def rewrite(paramsPath: String)(
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Unit = {
      val src = spark.read.parquet(paramsPath)
      val cur = spark.createDataFrame(
        java.util.Arrays.asList(src.collect(): _*), src.schema)
      f(cur).repartition(1).write.mode("overwrite").parquet(paramsPath)
    }
    val corpus = docs.filter(F.col("doc_id") % 2 === 0)
    val batch = docs.filter(F.col("doc_id") % 2 === 1).limit(20)

    // band index: foreign family and missing stamp both refuse to probe
    val idx = java.nio.file.Files.createTempDirectory("graft-hf-idx")
      .toString + "/idx"
    Dedup.saveBandIndex(corpus, "doc_id", "text", idx)
    Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx).count()
    rewrite(s"$idx/_params")(
      _.withColumn("hashFamily", F.lit("poly31-v1")))
    (the[IllegalArgumentException] thrownBy
      Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx)
    ).getMessage should include(Tok.HashFamily)
    rewrite(s"$idx/_params")(_.drop("hashFamily"))
    an[IllegalArgumentException] should be thrownBy
      Dedup.appendToBandIndex(batch, "doc_id", "text", idx)
    // the restamp path (round-11 ADVICE): an unstamped artifact the
    // operator KNOWS is hash-compatible gets the stamp added in place —
    // no forced rebuild — and probes again; idempotent once current
    Tok.restampArtifact(spark, idx)
    Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx).count()
    Tok.restampArtifact(spark, idx)
    Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx).count()
    // ...but an artifact stamped with a truly DIFFERENT family refuses
    // to restamp: its keys are incompatible, only a rebuild helps
    rewrite(s"$idx/_params")(
      _.withColumn("hashFamily", F.lit("poly31-v1")))
    (the[IllegalArgumentException] thrownBy
      Tok.restampArtifact(spark, idx)
    ).getMessage should include("Rebuild")

    // band bloom
    val bb = java.nio.file.Files.createTempDirectory("graft-hf-bb")
      .toString + "/bb"
    Dedup.saveBandBloom(corpus, "text", bb)
    Dedup.nearDupGateFromArtifact(batch, "text", bb).count()
    rewrite(bb)(_.withColumn("hashFamily", F.lit("poly31-v1")))
    an[IllegalArgumentException] should be thrownBy
      Dedup.nearDupGateFromArtifact(batch, "text", bb)

    // shingle bloom
    val sb = java.nio.file.Files.createTempDirectory("graft-hf-sb")
      .toString + "/sb"
    graft.operators.Contamination.saveBenchBloom(
      corpus.select(F.col("text").as("btext")), "btext", sb)
    graft.operators.Contamination.decontaminateFromArtifact(batch, "text",
      sb).count()
    rewrite(sb)(_.withColumn("hashFamily", F.lit("poly31-v1")))
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Contamination.decontaminateFromArtifact(batch,
        "text", sb)

    // NB model (tokenizer family covers exact features too)
    val nb = java.nio.file.Files.createTempDirectory("graft-hf-nb")
      .toString + "/nb"
    val labeled = docs.limit(60)
      .withColumn("lab", F.col("doc_id") % 2 === 0)
    graft.operators.Selection.saveNbModel(labeled, "doc_id", "text",
      "lab", nb)
    graft.operators.Selection.scoreWithNbModel(spark, nb, batch, "doc_id",
      "text").count()
    rewrite(s"$nb/_params")(
      _.withColumn("hashFamily", F.lit("poly31-v1")))
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Selection.scoreWithNbModel(spark, nb, batch,
        "doc_id", "text")
  }

  test("q_knn_ivfpq (registry): persisted-index probe recall vs exact path") {
    val got = Queries.q_knn_ivfpq(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val queries = emb.filter(F.col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k = 10)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.groupBy(_._1).values.foreach(_.size should be <= 10)
    exact.intersect(got).size.toDouble should be >= exact.size * 0.3
  }

  /** Shuffle-write ceilings for the heaviest registry queries (round-12
    * verdict #3): the currency of 100 TB is bytes crossing exchanges,
    * and wall-time noise (±30%) masks a widened shuffle until it is
    * huge. Bytes move only with the PLAN (a lost projection, a lost
    * partial-agg, a broadcast degrading to shuffle — all ≥2× jumps,
    * usually 5-100×) plus a few percent of compression/AQE wobble, so a
    * 2× ceiling pin turns any structural shuffle regression into a test
    * failure the way CodegenFallbackSpec already does for codegen loss.
    * Measured at sf0.01 under this suite's session (local[4], 4 shuffle
    * partitions, 2026-08-14 idle); each query runs once un-measured
    * first so persisted-artifact builds (IVF-PQ index, gate blooms,
    * NB models — cached per sf dir) don't ride the measured run.
    */
  test("shuffle-write byte ceilings: 10 heaviest registry queries at sf0.01") {
    val d = "/root/testdata/sf0.01"
    val ceilings = Seq( // ~2x the calibrated per-query bytes
      "q_dup_passages" -> 3700000L,
      "q_dup_passages_hashed" -> 1800000L,
      // r17: the exact-substring faces — the hashed cap additionally
      // pins the flavor CONTRACT (8-byte keys in the exchanges: hashed
      // must stay well under half the exact face's strings)
      "q_dedup_substring" -> 1600000L,
      "q_dedup_substring_hashed" -> 700000L,
      // r18: the char-granularity faces (observed 0.93 / 0.88 / 0.53 MB
      // at sf0.01 — pre-transition the key AGGREGATE dominates, so the
      // hashed/exact gap is narrow here; the 8-byte-key contract shows
      // at scale, SCALING.md r18 decade)
      "q_dedup_substring_char" -> 1900000L,
      "q_dedup_substring_char_hashed" -> 1800000L,
      "q_substr_char_xcorpus" -> 1100000L,
      "q_bigram_ll" -> 1300000L,
      "q_dedup_jaccard" -> 900000L,
      "q_curate" -> 800000L,
      "q_dedup_clusters" -> 500000L,
      "q_semdedup_model" -> 500000L,
      "q_dedup_near" -> 500000L,
      "q_bm25" -> 450000L,
      "q_semdedup_fixed" -> 450000L,
      // not heavy — the OPPOSITE pin: these two are the bounded-shuffle
      // sketch reductions (MG recount behind a broadcast join; KMV
      // ≤ k longs per group), so their exchanges must stay ~zero. A
      // broadcast degrading to a vocabulary-wide shuffle jumps them
      // 10-100× past this cap. Observed < 15 KB each at sf0.01.
      "q_heavy_hitters" -> 100000L,
      "q_kmv_merge" -> 100000L)
    ceilings.foreach { case (name, cap) =>
      val fn = Queries.registry(name)
      def run(): Unit =
        fn(spark, d).write.format("noop").mode("overwrite").save()
      run() // artifact-cache warmup, un-measured
      val (_, bytes) = graft.tools.ShuffleMeter.measure(spark)(run())
      info(f"$name%-24s ${bytes / 1e6}%.2f MB (cap ${cap / 1e6}%.2f)")
      withClue(s"$name total shuffle write $bytes B exceeds the " +
        s"$cap B ceiling — a plan regression widened an exchange: ") {
        bytes should be <= cap
      }
    }
  }

  // ---- r16: index-lifecycle hardening ---------------------------------

  test("string-id IVF index delete: the anti-join runs at the index's " +
    "own id type (regression for the silent cast(long) no-op)") {
    import graft.operators.StoreLayout
    val sEmb = emb.select(
      F.concat(F.lit("v-"), F.col("vec_id")).as("sid"), F.col("embedding"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-sdel").toString + "/index"
    Similarity.buildIvfIndex(sEmb, "sid", "embedding", dir, nCentroids = 8)
    val dropIds = sEmb.filter(F.col("sid").endsWith("3")).select("sid")
    val nDrop = dropIds.count()
    nDrop should be > 0L
    Similarity.deleteFromIvfIndex(spark, dir, dropIds, "sid")
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    val served = spark.read.option("basePath", dir).parquet(
      StoreLayout.servingFiles(fs, p)
        .map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
    // the delete actually deleted (the old cast made this a no-op)
    served.count() shouldBe sEmb.count() - nDrop
    served.join(dropIds.withColumnRenamed("sid", "cand_id"), "cand_id")
      .count() shouldBe 0L
    // probe == brute force over exactly the survivors (ordered limit:
    // a bare limit is not deterministic across the two evaluations)
    val kept = sEmb.filter(!F.col("sid").endsWith("3"))
    val queries = kept.orderBy("sid").limit(10)
    Similarity.probeIvfIndex(spark, dir, queries, "sid", "embedding",
        k = 5, nProbe = 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Similarity.bruteForceTopK(queries, kept, "sid", "embedding", k = 5)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // band-index mirror: string doc ids erased from BOTH tables
    val sDocs = docs.select(
      F.concat(F.lit("d-"), F.col("doc_id")).as("sid"), F.col("text"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft-band-sdel").toString + "/idx"
    Dedup.saveBandIndex(sDocs.filter(F.col("sid").endsWith("0")),
      "sid", "text", idx)
    // collect ONCE and delete by the literal ids — a bare limit
    // re-evaluated by the delete could target different rows than the
    // ids this test asserts on
    import spark.implicits._
    val bandDropIds = sDocs.filter(F.col("sid").endsWith("0"))
      .select("sid").orderBy("sid").limit(20)
      .collect().map(_.getString(0)).toSet
    val bandDrop = bandDropIds.toSeq.sorted.toDF("sid")
    Dedup.deleteFromBandIndex(spark, idx, bandDrop, "sid")
    StoreLayout.readStore(spark, idx)
      .filter(F.col("id").isin(bandDropIds.toSeq: _*))
      .count() shouldBe 0L
    StoreLayout.readStore(spark, s"$idx/_bands")
      .filter(F.col("id").isin(bandDropIds.toSeq: _*))
      .count() shouldBe 0L
  }

  test("IVF-PQ lifecycle: append, compact, delete — codes ride the fold " +
    "and the ADC probe equals brute force over exactly the survivors") {
    import graft.operators.StoreLayout
    val evens = emb.filter(F.col("vec_id") % 2 === 0)
    val odds = emb.filter(F.col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-life").toString + "/index"
    Similarity.buildIvfPqIndex(evens, "vec_id", "embedding", dir, dim = 64,
      nCentroids = 8, m = 16, ksub = 32)
    Similarity.appendToIvfPqIndex(odds, "vec_id", "embedding", dir,
      batchId = Some("pq-life-1"))
    Similarity.compactIvfIndex(spark, dir)
    val dropIds = emb.filter(F.col("vec_id") % 7 === 3).select("vec_id")
    Similarity.deleteFromIvfIndex(spark, dir, dropIds, "vec_id")
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    val served = spark.read.option("basePath", dir).parquet(
      StoreLayout.servingFiles(fs, p)
        .map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
    // codes survived the fold AND the scope-limited delete rewrite:
    // right element type, no row lost its codes
    served.schema("codes").dataType shouldBe
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, true)
    served.filter(F.col("codes").isNull).count() shouldBe 0L
    val kept = emb.filter(F.col("vec_id") % 7 =!= 3)
    served.count() shouldBe kept.count()
    // exhaustive ADC (every list probed, shortlist >= survivor count so
    // the exact rerank sees every candidate) == brute force over the
    // survivors — a dropped/reordered codes column would break this
    val queries = emb.filter(F.col("vec_id") < 10)
    Similarity.probeIvfPqIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 8, shortlist = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Similarity.bruteForceTopK(queries, kept, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("post-fold late retry fails loudly against the pruned-marker " +
    "bloom instead of silently double-appending") {
    import graft.operators.StoreLayout
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bloom").toString + "/store"
    Seq((0L, "base")).toDF("id", "v").write.parquet(dir)
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    StoreLayout.appendRecorded(spark, dir, Some("b1")) { scratch =>
      batch.write.parquet(scratch)
    }
    Sketches.compactReplace(spark, dir, 1)(identity)
    // retry WITHIN the window (marker alive, manifest folded): no-op
    StoreLayout.appendRecorded(spark, dir, Some("b1")) { scratch =>
      batch.write.parquet(scratch)
    }
    StoreLayout.readStore(spark, dir).count() shouldBe 3L
    // age the marker out: the prune folds b1 into the pruned bloom
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    StoreLayout.pruneBatchMarkers(fs, p, -1L)
    StoreLayout.hasBatchMarker(fs, p, "b1") shouldBe false
    // the late retry now errors loudly — both live trails are gone
    // (post-fold manifest, pruned marker) and the old behavior was a
    // silent double-append
    val ex = intercept[IllegalStateException] {
      StoreLayout.appendRecorded(spark, dir, Some("b1")) { scratch =>
        batch.write.parquet(scratch)
      }
    }
    ex.getMessage should include("pruned-marker ledger")
    StoreLayout.readStore(spark, dir).count() shouldBe 3L
    // a genuinely fresh id still appends normally
    StoreLayout.appendRecorded(spark, dir, Some("b2")) { scratch =>
      batch.write.parquet(scratch)
    }
    StoreLayout.readStore(spark, dir).count() shouldBe 5L
    // the APPEND path itself bounds the marker ledger (no compaction
    // needed): backdate b2's marker past the grace, land another batch,
    // and the marker is pruned into the bloom — a late b2 retry errors
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dir, "_appends", "b2"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Sketches.SuspectGraceMs - 3600000L))
    StoreLayout.appendRecorded(spark, dir, Some("b3")) { scratch =>
      batch.write.parquet(scratch)
    }
    StoreLayout.hasBatchMarker(fs, p, "b2") shouldBe false
    // trail ORDER pin: with no fold the manifest still names b2's
    // files, so the retry no-ops via the manifest trail (repairing the
    // marker) — the bloom's loud error is reserved for the post-fold
    // case where BOTH live trails are gone
    StoreLayout.appendRecorded(spark, dir, Some("b2")) { scratch =>
      batch.write.parquet(scratch)
    }
    StoreLayout.readStore(spark, dir).count() shouldBe 7L
    StoreLayout.hasBatchMarker(fs, p, "b2") shouldBe true
  }

  test("index delete loops until a racing append's re-introduced ids " +
    "are erased too (RTBF completeness re-scan)") {
    import graft.operators.StoreLayout
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-race").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir,
      nCentroids = 8)
    val target = emb.filter(F.col("vec_id") === 42L)
    val lastPass = new java.util.concurrent.atomic.AtomicInteger(0)
    Similarity.ivfDeletePostCommitHook = pass => {
      lastPass.set(pass)
      if (pass == 1) // the race: an append re-introduces the target id
        Similarity.appendToIvfIndex(target, "vec_id", "embedding", dir,
          batchId = Some("race-reintro"))
    }
    try Similarity.deleteFromIvfIndex(spark, dir,
      Seq(42L).toDF("vec_id"), "vec_id")
    finally Similarity.ivfDeletePostCommitHook = _ => ()
    // the re-scan caught the reintroduction and a second pass erased it
    lastPass.get() shouldBe 2
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    spark.read.option("basePath", dir).parquet(
        StoreLayout.servingFiles(fs, p)
          .map(f => new org.apache.hadoop.fs.Path(p, f).toString): _*)
      .filter(F.col("cand_id") === 42L).count() shouldBe 0L
  }

  test("cluster-mass skew health check warns past the 4x rebuild " +
    "threshold (SCALING.md deployment rule)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-skew").toString + "/index"
    Similarity.buildIvfIndex(emb.filter(F.col("vec_id") < 80), "vec_id",
      "embedding", dir, nCentroids = 8, refineIters = 2)
    Similarity.lastSkewWarning = None
    // pile 400 copies of one vector into its list — a hot cell the
    // frozen quantizer cannot divide
    val hot = emb.filter(F.col("vec_id") === 0L).select("embedding")
      .crossJoin(spark.range(1000, 1400).toDF("vec_id"))
      .select(F.col("vec_id"), F.col("embedding"))
    Similarity.appendToIvfIndex(hot, "vec_id", "embedding", dir,
      batchId = Some("hot-pile"))
    Similarity.listSkewHealthCheck(spark, dir)
    Similarity.lastSkewWarning shouldBe defined
    val (path, ratio) = Similarity.lastSkewWarning.get
    path shouldBe dir
    ratio should be > Similarity.SkewRebuildRatio
  }

  test("manifest commits refuse schemes without atomic rename unless " +
    "explicitly opted in (the classic-S3A tripwire)") {
    import graft.operators.StoreLayout
    val conf = spark.sparkContext.hadoopConfiguration
    val s3ish = new org.apache.hadoop.fs.LocalFileSystem() {
      override def getScheme: String = "s3a"
      // the tripwire resolves the scheme via getUri (fs.getScheme
      // THROWS for filesystems that never override it)
      override def getUri: java.net.URI = java.net.URI.create("s3a:///")
    }
    s3ish.initialize(new java.net.URI("file:///"), conf)
    val dir = new org.apache.hadoop.fs.Path(java.nio.file.Files
      .createTempDirectory("graft-tripwire").toString)
    val ex = intercept[IllegalStateException] {
      StoreLayout.tryCommitManifest(s3ish, dir, 1L, Seq("f1"))
    }
    ex.getMessage should include("s3a")
    ex.getMessage should include("table format")
    // explicit opt-in accepts the risk (known-single-writer store)
    StoreLayout.UnsafeCommitsOptIn = true
    try StoreLayout.tryCommitManifest(s3ish, dir, 1L, Seq("f1")) shouldBe true
    finally StoreLayout.UnsafeCommitsOptIn = false
    // sound schemes are untouched: the local-fs commit path still works
    val (fs, p) = StoreLayout.fsFor(spark, dir.toString + "/plain")
    fs.mkdirs(p)
    StoreLayout.tryCommitManifest(fs, p, 1L, Seq("f1")) shouldBe true
  }

  test("side/bloom caches evict least-recently-used past 256 entries — " +
    "never wholesale (r16 verdict nit)") {
    import graft.operators.StoreLayout
    // side tables, params, schemas and blooms share ONE map and one bound
    val cache = StoreLayout.metaCache
    cache.clear()
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    (0 until 300).foreach(i =>
      StoreLayout.cached(s"k$i", "fp")(if (i % 2 == 0) "v" else bf))
    cache.size shouldBe 256
    cache.containsKey("k0") shouldBe false // 44 oldest out
    cache.containsKey("k44") shouldBe true
    cache.containsKey("k299") shouldBe true
    // ACCESS order, not insertion order: a cache hit on the oldest
    // survivor protects it from the next eviction wave
    StoreLayout.cached[String]("k44", "fp")(
      fail("a matching fingerprint must hit")) shouldBe "v"
    (300 until 320).foreach(i => StoreLayout.cached(s"k$i", "fp")("v"))
    cache.size shouldBe 256
    cache.containsKey("k44") shouldBe true
    cache.containsKey("k45") shouldBe false
    // a changed fingerprint reloads; a throwing load caches nothing
    StoreLayout.cached("k44", "fp2")("v2") shouldBe "v2"
    an[IllegalStateException] should be thrownBy
      StoreLayout.cached[String]("fresh", "fp")(throw new IllegalStateException)
    cache.containsKey("fresh") shouldBe false
    cache.clear()
  }

  test("object-store cookbook: a non-atomic-rename scheme is refused " +
    "BEFORE any write, and the documented single-writer opt-in runs the " +
    "full store lifecycle end-to-end (SCALING.md recipe)") {
    import graft.operators.{Sketches, StoreLayout}
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3mock.impl", classOf[MockS3FileSystem].getName)
    val local = java.nio.file.Files
      .createTempDirectory("graft-s3mock").toString
    val store = s"s3mock:$local/store"
    val b0 = (1L to 30L).map(i => (s"g${i % 2}", i)).toDF("g", "v")
    val b1 = (31L to 50L).map(i => (s"g${i % 2}", i)).toDF("g", "v")
    // without the opt-in: refused up front — no corpus bytes written
    val ex = intercept[IllegalStateException] {
      Sketches.buildKmvStore(b0, Seq("g"), "v", 16, store)
    }
    ex.getMessage should include("s3mock")
    ex.getMessage should include("table format")
    new java.io.File(s"$local/store").exists() shouldBe false
    // the cookbook path: known-single-writer store, explicit opt-in —
    // build, idempotent append (with a replayed retry), compact, vacuum,
    // serve; the local-FS writer lease is correctly SKIPPED (non-"file"
    // scheme), so this also covers the lease-less append path
    StoreLayout.UnsafeCommitsOptIn = true
    try {
      Sketches.buildKmvStore(b0, Seq("g"), "v", 16, store)
      Sketches.appendToKmvStore(b1, store, batchId = Some("s3-b1"))
      Sketches.appendToKmvStore(b1, store, batchId = Some("s3-b1")) // retry
      Sketches.compactKmvStore(spark, store)
      Sketches.vacuumStore(spark, store)
      val served = Sketches.kmvDistinctFromStore(spark, store)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      val direct = Sketches.kmvDistinct(b0.unionByName(b1), Seq("g"), "v",
          k = 16)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      served shouldBe direct
    } finally StoreLayout.UnsafeCommitsOptIn = false
    // with the opt-in dropped again, further commits refuse once more —
    // the flag is a per-process deployment decision, not a ratchet
    intercept[IllegalStateException] {
      Sketches.appendToKmvStore(b1, store, batchId = Some("s3-b2"))
    }
  }

  test("concurrent marker prunes never lose a pruned id from the bloom " +
    "ledger (r16 ADVICE: the prune's read-modify-write is serialized " +
    "per store)") {
    import graft.operators.StoreLayout
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("graft-prune-race").toString
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    fs.mkdirs(p)
    val ids = for (t <- 0 until 4; r <- 0 until 8) yield s"b-$t-$r"
    // 4 threads interleave: each creates its own stale markers round by
    // round and prunes — every prune is a bloom read-modify-write over
    // whatever stale set it happens to list, so an unserialized RMW
    // loses the OTHER pruner's just-folded ids (whose markers are
    // already deleted). The invariant: a pruned marker's id must be in
    // the ledger (requireBatchNotPruned refuses it).
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        (0 until 8).foreach { r =>
          val id = s"b-$t-$r"
          StoreLayout.writeBatchMarker(fs, p, id)
          val m = new Path(new Path(p, "_appends"), id)
          fs.setTimes(m, System.currentTimeMillis() - 3600000L, -1)
          StoreLayout.pruneBatchMarkers(fs, p, olderThanMs = 60000L)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    StoreLayout.pruneBatchMarkers(fs, p, olderThanMs = 60000L) // leftovers
    ids.foreach { id =>
      StoreLayout.hasBatchMarker(fs, p, id) shouldBe false
      withClue(s"id $id pruned but missing from the bloom ledger: ") {
        intercept[IllegalStateException] {
          StoreLayout.requireBatchNotPruned(fs, p, id)
        }
      }
    }
  }

  test("pruned-bloom ledger is versioned create-exclusive: sequential " +
    "prunes chain versions, the legacy unversioned file migrates in, " +
    "superseded versions are swept") {
    import graft.operators.StoreLayout
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bloom-ver").toString
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    fs.mkdirs(p)
    // pre-r17 layout: one unversioned _appends_pruned file
    val legacy = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    legacy.putString("legacy-1")
    val lout = fs.create(new Path(p, "_appends_pruned"), true)
    try legacy.writeTo(lout) finally lout.close()
    def ledgerFiles() = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_appends_pruned")).sorted.toSeq
    def refused(id: String) = intercept[IllegalStateException] {
      StoreLayout.requireBatchNotPruned(fs, p, id)
    }
    refused("legacy-1")
    // first prune commits v1 on top of the legacy bits and sweeps the
    // unversioned file
    def pruneOne(id: String): Unit = {
      StoreLayout.writeBatchMarker(fs, p, id)
      fs.setTimes(new Path(new Path(p, "_appends"), id),
        System.currentTimeMillis() - 3600000L, -1)
      StoreLayout.pruneBatchMarkers(fs, p, olderThanMs = 60000L)
    }
    pruneOne("new-1")
    refused("legacy-1") // migrated bits survive
    refused("new-1")
    ledgerFiles() shouldBe Seq("_appends_pruned-00000001")
    // further prunes chain versions and sweep all but the previous one
    pruneOne("new-2")
    pruneOne("new-3")
    Seq("legacy-1", "new-1", "new-2", "new-3").foreach(refused)
    ledgerFiles() shouldBe
      Seq("_appends_pruned-00000002", "_appends_pruned-00000003")
  }

  test("vacuumIvfIndex on a legacy pre-manifest index is a no-op — no " +
    "manifest bootstrap, so erasure never pays the commit tripwire " +
    "(r16 ADVICE)") {
    import graft.operators.StoreLayout
    val idx = java.nio.file.Files
      .createTempDirectory("graft-vac-legacy").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx,
      nCentroids = 4)
    val (fs, p) = StoreLayout.fsFor(spark, idx)
    // strip the manifests: the pre-manifest layout an old build left
    StoreLayout.storeVersions(spark, idx) should not be empty
    fs.listStatus(p).filter(_.getPath.getName.startsWith("_manifest-"))
      .foreach(st => fs.delete(st.getPath, false))
    StoreLayout.storeVersions(spark, idx) shouldBe empty
    // vacuum must neither throw nor commit a bootstrap manifest (a
    // commit would re-run the scheme tripwire that erasure is
    // documented not to need on unsafe-opt-in stores)
    Similarity.vacuumIvfIndex(spark, idx)
    StoreLayout.storeVersions(spark, idx) shouldBe empty
    // and the index still probes (partition-discovery read path)
    import spark.implicits._
    Similarity.probeIvfIndex(spark, idx,
        emb.filter(F.col("vec_id") === 1L), "vec_id", "embedding",
        k = 3, nProbe = 4)
      .count() should be > 0L
  }

  test("vacuum: sweep-only physical erasure — superseded files gone " +
    "past the grace, serving untouched, no fold") {
    import graft.operators.StoreLayout
    import spark.implicits._
    def ageLedger(path: String): Unit = {
      val (fs, p) = StoreLayout.fsFor(spark, path)
      StoreLayout.writeSuspects(fs, p,
        StoreLayout.readSuspects(fs, p).map { case (n, _) =>
          n -> (System.currentTimeMillis() - Sketches.SuspectGraceMs -
            3600000L)
        })
    }
    // flat store: build + append + compact leaves the pre-fold files
    // superseded-but-retained (reader isolation)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vac").toString + "/store"
    Sketches.buildKmvStore(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("g", "v"),
      Seq("g"), "v", 8, dir)
    Sketches.appendToKmvStore(Seq((2L, "d")).toDF("g", "v"), dir)
    Sketches.compactKmvStore(spark, dir)
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    val servingAfterCompact = StoreLayout.servingFiles(fs, p).toSet
    val supersededOnDisk =
      StoreLayout.rawDataFiles(fs, p).toSet diff servingAfterCompact
    supersededOnDisk should not be empty
    val rowsBefore = StoreLayout.readStore(spark, dir).count()
    // the compaction's COMMIT recorded its replaced files (supersession
    // clock — recording only at the next sweep would silently add one
    // extra maintenance cycle before erasure)
    StoreLayout.readSuspects(fs, p).keySet should
      contain allElementsOf supersededOnDisk
    // within the grace a vacuum deletes nothing (reader isolation)
    Sketches.vacuumStore(spark, dir)
    StoreLayout.rawDataFiles(fs, p).toSet shouldBe
      servingAfterCompact ++ supersededOnDisk
    // past the grace, ONE vacuum erases physically — the documented
    // "delete + one post-grace vacuum" recipe
    ageLedger(dir)
    Sketches.vacuumStore(spark, dir)
    StoreLayout.rawDataFiles(fs, p).toSet shouldBe servingAfterCompact
    StoreLayout.servingFiles(fs, p).toSet shouldBe servingAfterCompact
    StoreLayout.readStore(spark, dir).count() shouldBe rowsBefore
    // wrong-layout guard: pointing the flat vacuum at an ANN index
    // would sweep from an empty raw listing (ledger-reset hazard)
    intercept[IllegalArgumentException] {
      Sketches.vacuumStore(spark, "/nonexistent/graft-vac-nope")
    }
    // hive-layout sibling: delete a row from a compacted IVF index,
    // then vacuum twice around an aged ledger — the replaced list file
    // is physically gone, the probe is intact
    val idx = java.nio.file.Files
      .createTempDirectory("graft-vac-ivf").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx,
      nCentroids = 8)
    Similarity.compactIvfIndex(spark, idx)
    Similarity.deleteFromIvfIndex(spark, idx, Seq(42L).toDF("vec_id"),
      "vec_id")
    val (fsI, pI) = StoreLayout.fsFor(spark, idx)
    def rawIndexFiles(): Set[String] = {
      import org.apache.hadoop.fs.Path
      fsI.listStatus(pI).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__list="))
        .flatMap(d => fsI.listStatus(d.getPath).toSeq
          .map(f => s"${d.getPath.getName}/${f.getPath.getName}")).toSet
    }
    val servingIdx = StoreLayout.servingFiles(fsI, pI).toSet
    (rawIndexFiles() diff servingIdx) should not be empty
    // the delete's commit recorded its replaced files; ONE post-grace
    // vacuum erases them (plus the build files the compaction replaced)
    ageLedger(idx)
    Similarity.vacuumIvfIndex(spark, idx)
    rawIndexFiles() shouldBe servingIdx
    // the flat vacuum refuses the hive layout (ledger-reset hazard)
    intercept[IllegalArgumentException] {
      Sketches.vacuumStore(spark, idx)
    }.getMessage should include("vacuumIvfIndex")
    StoreLayout.servingFiles(fsI, pI).toSet shouldBe servingIdx
    val kept = emb.filter(F.col("vec_id") =!= 42L)
    val queries = emb.filter(F.col("vec_id") < 5)
    Similarity.probeIvfIndex(spark, idx, queries, "vec_id", "embedding",
        k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Similarity.bruteForceTopK(queries, kept, "vec_id", "embedding",
        k = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // band index: one vacuum face covers both tables
    val bidx = java.nio.file.Files
      .createTempDirectory("graft-vac-band").toString + "/idx"
    Dedup.saveBandIndex(docs.limit(50), "doc_id", "text", bidx)
    Dedup.vacuumBandIndex(spark, bidx) // fresh index: a clean no-op
    StoreLayout.readStore(spark, bidx).count() should be > 0L
    StoreLayout.readStore(spark, s"$bidx/_bands").count() should be > 0L
  }

  test("builds refuse an unsound scheme BEFORE writing the corpus") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3x.impl", classOf[FakeS3xFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-early")
      .toString + "/store"
    val dir = "s3x://" + local
    val ex = intercept[IllegalStateException] {
      Sketches.buildKmvStore(Seq((1L, "a")).toDF("id", "v"),
        Seq("id"), "v", 8, dir)
    }
    ex.getMessage should include("s3x")
    // the refusal came BEFORE the corpus write — at scale the old
    // ordering (write everything, then balk at the manifest) wastes
    // the entire build write
    new java.io.File(local).exists() shouldBe false
  }

  test("table-format seam: the sketch serving algebra folds per-batch " +
    "frames from a plain externally-managed directory (no StoreLayout) " +
    "— the Delta/Iceberg composition the cookbook claims") {
    // The object-store cookbook's preferred S3 path (SCALING.md
    // "Object-store deployment", option 1) keeps the per-batch sketch
    // operators and lands batches in a transactional table format
    // instead of a StoreLayout store. The seam that makes that true:
    // the sketch builders output PLAIN DataFrames and the fold+estimate
    // algebra accepts whatever spark.read hands it — no manifest, no
    // _params sidecar, no layout calls anywhere on this path. A plain
    // parquet directory written by vanilla DataFrame.write stands in
    // for the table format's reader here (what Delta/Iceberg changes is
    // the commit protocol, not the frames served).
    val o = Tables.orders(spark, sf)
    def third(i: Int) = o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) === i)
    // KMV: three independently-written batch sketches, vanilla appends
    val kdir = java.nio.file.Files
      .createTempDirectory("graft-seam-kmv").toString + "/table"
    (0 to 2).foreach { i =>
      Sketches.kmvSketch(third(i), Seq("o_orderstatus"), "o_custkey",
          k = 16, Sketches.md5Hash32)
        .write.mode("append").parquet(kdir)
    }
    Sketches.kmvEstimate(
        Sketches.kmvMergeSketches(spark.read.parquet(kdir),
          Seq("o_orderstatus"), k = 16), k = 16)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
      Sketches.kmvDistinct(o, Seq("o_orderstatus"), "o_custkey", k = 16)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // CMS: per-batch grids appended plainly, folded + probed by the
    // serving algebra — including a linearity retraction batch (the
    // negated grid is just another DataFrame on this seam)
    import spark.implicits._
    def toksOf(rows: Seq[String]) = rows.toDF("text")
      .select(F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+"))
        .as("tok")).filter(F.col("tok") =!= "")
    val t1 = toksOf(Seq("alpha beta beta", "gamma alpha"))
    val t2 = toksOf(Seq("beta delta delta delta"))
    val cdir = java.nio.file.Files
      .createTempDirectory("graft-seam-cms").toString + "/table"
    Sketches.cmsSketch(t1, "tok", 4, 64).write.mode("append").parquet(cdir)
    Sketches.cmsSketch(t2, "tok", 4, 64).write.mode("append").parquet(cdir)
    Sketches.cmsSketch(t2, "tok", 4, 64).withColumn("n", -F.col("n"))
      .write.mode("append").parquet(cdir) // retract t2 by linearity
    val cands = Seq("alpha", "beta", "gamma", "delta", "unseen")
    Sketches.cmsEstimate(
        Sketches.cmsMergeSketches(spark.read.parquet(cdir)), cands, 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Sketches.cmsEstimate(Sketches.cmsSketch(t1, "tok", 4, 64),
          cands, 4, 64)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // histogram: same shape (merge = per-bucket sum, quantiles on top)
    val hdir = java.nio.file.Files
      .createTempDirectory("graft-seam-hist").toString + "/table"
    Sketches.log2Histogram((1L to 50L).toDF("v"), Nil, "v")
      .write.mode("append").parquet(hdir)
    Sketches.log2Histogram((51L to 100L).toDF("v"), Nil, "v")
      .write.mode("append").parquet(hdir)
    Sketches.histQuantiles(
        Sketches.histMergeHistograms(spark.read.parquet(hdir), Nil),
        Nil, Seq(0.5, 0.9)).collect().toSet shouldBe
      Sketches.logHistQuantiles((1L to 100L).toDF("v"), Nil, "v",
        Seq(0.5, 0.9)).collect().toSet
  }
}
