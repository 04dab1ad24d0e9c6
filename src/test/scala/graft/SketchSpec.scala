package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.Sketches

/** Deterministic sketches (operators/Sketches.scala): the KMV bounded
  * aggregate against its built-in-composed baseline and against exact
  * distinct counts; the CMS grid's upper-bound and partitioning-invariance
  * contracts. The registry faces (q_kmv_distinct, q_cms_probe) are
  * additionally DuckDB-oracle-checked end to end.
  */
class SketchSpec extends AnyFunSuite with Matchers {

  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def events = Tables.events(spark, sf)
    .filter(F.col("user_id").isNotNull)

  test("KMV kernel equals the composed built-in baseline (k-min sets)") {
    for (k <- Seq(4, 64); hash <- Seq(Sketches.md5Hash32 _,
        Sketches.xx64Hash32 _)) {
      val kernel = Sketches.kmvSketch(events, Seq("event_type"), "user_id",
          k, hash)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val composed = Sketches.kmvSketchComposed(events, Seq("event_type"),
          "user_id", k, hash)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      composed.keySet shouldBe kernel.keySet
      for ((g, ks) <- kernel) {
        ks shouldBe composed(g)
        ks shouldBe ks.sorted
        ks.distinct.size shouldBe ks.size
        ks.size should be <= k
      }
    }
  }

  test("KMV estimate: exact below saturation, bounded error above") {
    // sf0.001 has 15 distinct users per event type: k=64 stays under
    // saturation -> the estimate IS the exact distinct count
    val under = Sketches.kmvDistinct(events, Seq("event_type"), "user_id",
        k = 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = events.groupBy("event_type")
      .agg(F.count_distinct(F.col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    under.keySet shouldBe exact.keySet
    for ((g, est) <- under) est shouldBe exact(g).toDouble
    // k=4 saturates (15 > 4): the ratio estimator engages; with k this
    // small the variance is large, so pin only a loose sanity band
    val over = Sketches.kmvDistinct(events, Seq("event_type"), "user_id",
        k = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((g, est) <- over) {
      est should be > 3.0
      est should be < exact(g) * 20.0
    }
  }

  test("KMV is partitioning-invariant (merge correctness)") {
    val base = Sketches.kmvDistinct(events, Seq("event_type"), "user_id",
      k = 8).collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    for (p <- Seq(1, 7, 32)) {
      val rep = Sketches.kmvDistinct(events.repartition(p),
          Seq("event_type"), "user_id", k = 8)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      rep shouldBe base
    }
  }

  test("KMV skips nulls and accepts an empty group set (global sketch)") {
    val withNulls = Tables.events(spark, sf).withColumn("user_id",
      F.when(F.col("event_id") % 3 === 0, F.lit(null)).otherwise(F.col("user_id")))
    val global = Sketches.kmvDistinct(withNulls, Nil, "user_id", k = 1024)
      .collect()
    global.length shouldBe 1
    val exact = withNulls.filter(F.col("user_id").isNotNull)
      .agg(F.count_distinct(F.col("user_id"))).head().getLong(0)
    global.head.getDouble(0) shouldBe exact.toDouble
  }

  test("KMV store: build/append/serve round-trip == direct; refusals " +
    "fail fast") {
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-kmvstore-spec").toString + "/store"
    // three appended batches (not the registry's two)
    Sketches.buildKmvStore(o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) === 0),
      Seq("o_orderstatus"), "o_custkey", k = 16, dir)
    Sketches.appendToKmvStore(
      o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) === 1), dir)
    Sketches.appendToKmvStore(
      o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) === 2), dir)
    val served = Sketches.kmvDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = Sketches.kmvDistinct(o, Seq("o_orderstatus"), "o_custkey",
        k = 16)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    served shouldBe direct
    // the store holds one part sketch per (group, batch), <= k longs each
    val parts = spark.read.parquet(dir)
    parts.count() shouldBe 9 // 3 statuses x 3 batches
    parts.collect().foreach(r => r.getSeq[Long](1).size should be <= 16)
    // xx64 flavor round-trips through its own stamp
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-kmvstore-spec2").toString + "/store"
    Sketches.buildKmvStore(o, Seq("o_orderstatus"), "o_custkey", 16, dir2,
      flavor = "xx64-32-v1")
    Sketches.kmvDistinctFromStore(spark, dir2).count() shouldBe 3
    // refusals: no sidecar; foreign flavor
    val bare = java.nio.file.Files
      .createTempDirectory("graft-kmvstore-bare").toString + "/store"
    o.limit(1).select(F.col("o_orderstatus"), F.array().cast("array<bigint>")
      .as("kmin")).write.parquet(bare)
    an[IllegalArgumentException] should be thrownBy
      Sketches.kmvDistinctFromStore(spark, bare)
    import spark.implicits._
    Seq((16, "sha1-32-v9", "o_orderstatus", "o_custkey"))
      .toDF("k", "hashFlavor", "groupCols", "valueCol")
      .write.mode("overwrite").parquet(s"$bare/_params")
    val e = intercept[IllegalArgumentException] {
      Sketches.appendToKmvStore(o, bare)
    }
    e.getMessage should include("sha1-32-v9")
  }

  test("store time travel: version-pinned estimates reproduce each " +
    "snapshot; superseded versions stay readable through a compaction; " +
    "a pruned version fails with the retention story") {
    import graft.operators.StoreLayout
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-kmv-tt").toString + "/store"
    def batch(i: Long) = o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) === i)
    Sketches.buildKmvStore(batch(0), Seq("o_orderstatus"), "o_custkey",
      k = 16, dir)
    Sketches.appendToKmvStore(batch(1), dir)
    Sketches.appendToKmvStore(batch(2), dir)
    Sketches.storeVersions(spark, dir) shouldBe Seq(1L, 2L, 3L)
    def est(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // each pinned version reproduces the estimate over exactly its
    // batches — a reader that resolved v2 yesterday gets the same
    // answer today, appends notwithstanding
    est(Sketches.kmvDistinctFromStore(spark, dir, version = Some(1L))) shouldBe
      est(Sketches.kmvDistinct(batch(0), Seq("o_orderstatus"),
        "o_custkey", k = 16))
    est(Sketches.kmvDistinctFromStore(spark, dir, version = Some(2L))) shouldBe
      est(Sketches.kmvDistinct(batch(0).unionAll(batch(1)),
        Seq("o_orderstatus"), "o_custkey", k = 16))
    val v3 = est(Sketches.kmvDistinctFromStore(spark, dir, version = Some(3L)))
    v3 shouldBe est(Sketches.kmvDistinctFromStore(spark, dir))
    // compaction supersedes the appended parts but the deferred GC keeps
    // them on disk for the grace window: the pinned reads still serve
    Sketches.compactKmvStore(spark, dir)
    est(Sketches.kmvDistinctFromStore(spark, dir, version = Some(2L))) shouldBe
      est(Sketches.kmvDistinct(batch(0).unionAll(batch(1)),
        Seq("o_orderstatus"), "o_custkey", k = 16))
    est(Sketches.kmvDistinctFromStore(spark, dir)) shouldBe v3
    // a version that was pruned (or never existed) names the retention
    // contract instead of a bare file-not-found
    val err = intercept[IllegalArgumentException] {
      Sketches.kmvDistinctFromStore(spark, dir, version = Some(42L)).collect()
    }
    err.getMessage should include("no manifest version 42")
    err.getMessage should include("grace window")
    // the versions listing is the discovery face
    Sketches.storeVersions(spark, dir) shouldBe Seq(1L, 2L, 3L, 4L)
    // and the raw pinned read serves exactly the build's sketch rows
    StoreLayout.readStoreAt(spark, dir, 1L).count() shouldBe 3 // statuses
  }

  test("manifest pruning is age-gated with a hard cap: young versions " +
    "survive keep-N pruning for the grace window; the cap bounds a " +
    "pathological burst") {
    import graft.operators.StoreLayout
    val dir = java.nio.file.Files
      .createTempDirectory("graft-manifest-prune").toString
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    (1 to 70).foreach(v =>
      StoreLayout.tryCommitManifest(fs, p, v.toLong, Seq(s"f$v")) shouldBe true)
    // all 70 are younger than the grace: keep-8 pruning may only apply
    // the hard cap (newest 64)
    StoreLayout.pruneManifests(fs, p, keep = 8)
    StoreLayout.storeVersions(spark, dir) shouldBe (7L to 70L)
    // a version pinned seconds ago is still readable — the time-travel
    // grace the age gate exists for
    StoreLayout.readManifestChecked(fs, p, 10L) shouldBe Seq("f10")
    // once past the grace, keep-8 applies
    val savedGrace = StoreLayout.ManifestGraceMs
    try {
      StoreLayout.ManifestGraceMs = 0L
      Thread.sleep(10) // every successor mtime is now strictly past the 0ms grace
      StoreLayout.pruneManifests(fs, p, keep = 8)
      StoreLayout.storeVersions(spark, dir) shouldBe (63L to 70L)
    } finally StoreLayout.ManifestGraceMs = savedGrace
  }

  test("sketch merge algebra under hostile values: fold == direct on the " +
    "RAW STATE (k-min array / CMS grid / HLL registers / histogram " +
    "buckets) across seeded random partitionings and merge orders") {
    import spark.implicits._
    // hostile string pool: nulls, empties, whitespace, CJK, emoji, long
    // runs, '_' (the CMS suffix separator), extreme longs as text,
    // high-dup tokens
    val pool: Seq[Option[String]] = Seq(None, Some(""), Some(" "),
      Some("日本語"), Some("中文文本"), Some("💡"), Some("a" * 1000),
      Some("_"), Some("tok_1"), Some(Long.MaxValue.toString),
      Some(Long.MinValue.toString), Some("naïve"), Some("tab\there"),
      Some("line\nbreak")) ++ (0 until 40).map(i => Some(s"w${i % 7}"))
    // hostile longs for the histogram: 0, 1, powers of two and their
    // neighbors (bucket boundaries), Long.MaxValue
    val longPool: Seq[Long] = Seq(0L, 1L, 2L, 3L, 7L, 8L, 9L, 255L, 256L,
      257L, (1L << 40) - 1, 1L << 40, Long.MaxValue) ++
      (0 until 30).map(i => (i * 37L) % 1000L)

    for (seed <- 0 until 6) {
      val rng = new scala.util.Random(1000 + seed)
      val values = Seq.fill(200 + rng.nextInt(200))(
        pool(rng.nextInt(pool.size)))
      val longs = Seq.fill(200 + rng.nextInt(200))(
        longPool(rng.nextInt(longPool.size)))
      val nParts = 2 + rng.nextInt(4)
      // random part assignment, then a SHUFFLED union order and random
      // repartitioning per part — the fold must not care
      val parts = values.groupBy(_ => rng.nextInt(nParts)).values.toSeq
      val ordered = rng.shuffle(parts)
        .map(p => p.toDF("v").repartition(1 + rng.nextInt(5)))
      val all = values.toDF("v").repartition(1 + rng.nextInt(7))
      val clue = s"seed $seed (${ordered.size} parts): "

      // KMV: fold of part k-min sets == direct k-min set, exactly
      val kParts = ordered.map(p => Sketches.kmvSketch(p, Nil, "v", 16))
        .reduce(_ unionAll _)
      val kFold = Sketches.kmvMergeSketches(kParts, Nil, 16)
        .collect().head.getSeq[Long](0)
      val kDirect = Sketches.kmvSketch(all, Nil, "v", 16)
        .collect().head.getSeq[Long](0)
      withClue(clue + "KMV ") { kFold shouldBe kDirect }

      // CMS: cell-sum of part grids == direct grid (linearity)
      def gridOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val cParts = ordered.map(p => Sketches.cmsSketch(p, "v", 3, 32))
        .reduce(_ unionAll _)
      withClue(clue + "CMS ") {
        gridOf(Sketches.cmsMergeSketches(cParts)) shouldBe
          gridOf(Sketches.cmsSketch(all, "v", 3, 32))
      }

      // HLL: per-bucket max of part registers == direct registers
      def regsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val hParts = ordered.map(p => Sketches.hllSketch(p, Nil, "v"))
        .reduce(_ unionAll _)
      withClue(clue + "HLL ") {
        regsOf(Sketches.hllMergeSketches(hParts, Nil)) shouldBe
          regsOf(Sketches.hllSketch(all, Nil, "v"))
      }

      // histogram: per-bucket count sum == direct histogram
      val gParts = rng.shuffle(longs.groupBy(_ => rng.nextInt(nParts))
          .values.toSeq)
        .map(p => Sketches.log2Histogram(
          p.toDF("v").repartition(1 + rng.nextInt(5)), Nil, "v"))
        .reduce(_ unionAll _)
      def histOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(clue + "hist ") {
        histOf(Sketches.histMergeHistograms(gParts, Nil)) shouldBe
          histOf(Sketches.log2Histogram(
            longs.toDF("v").repartition(1 + rng.nextInt(7)), Nil, "v"))
      }
    }
  }

  // files physically in the store dir (non-underscore, non-hidden) —
  // with deferred GC this can exceed what the store SERVES
  private def rawStoreFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".") &&
        !n.endsWith(".crc"))

  // files a store reader actually scans (manifest-pinned)
  private def storeDataFiles(dir: String): Seq[String] =
    Sketches.servedFiles(spark, dir)

  test("store compaction: every store serves identically from one folded " +
    "part; params survive; appends keep working") {
    val o = Tables.orders(spark, sf)
    val ev = events
    def batches(df: org.apache.spark.sql.DataFrame, keyCol: String) =
      (0L to 2L).map(i => df.filter(F.pmod(F.col(keyCol), F.lit(3L)) === i))

    // KMV
    val kd = java.nio.file.Files
      .createTempDirectory("graft-compact-kmv").toString + "/store"
    val kb = batches(o, "o_orderkey")
    Sketches.buildKmvStore(kb(0), Seq("o_orderstatus"), "o_custkey", 16, kd)
    Sketches.appendToKmvStore(kb(1), kd)
    Sketches.appendToKmvStore(kb(2), kd)
    def serveKmv() = Sketches.kmvDistinctFromStore(spark, kd)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val kBefore = serveKmv()
    storeDataFiles(kd).size should be > 1
    Sketches.compactKmvStore(spark, kd)
    storeDataFiles(kd).size shouldBe 1
    serveKmv() shouldBe kBefore
    // append after compaction, recompact, still == direct over the union
    Sketches.appendToKmvStore(kb(1), kd) // re-appending is a no-op for k-min
    Sketches.compactKmvStore(spark, kd)
    serveKmv() shouldBe kBefore
    // params intact: foreign-flavor refusal still fires on a bare store
    spark.read.parquet(s"$kd/_params").head().getAs[Int]("k") shouldBe 16

    // CMS (linear: double-append must NOT double after compaction cycles)
    val cd = java.nio.file.Files
      .createTempDirectory("graft-compact-cms").toString + "/store"
    val docs = Tables.documents(spark, sf)
      .select(F.col("doc_id"),
        F.explode(graft.operators.TextAnalysis.tokens(F.col("text")))
          .as("tok"))
    val cb = batches(docs, "doc_id").map(_.select("tok"))
    Sketches.buildCmsStore(cb(0), "tok", 4, 256, cd)
    Sketches.appendToCmsStore(cb(1), cd)
    Sketches.appendToCmsStore(cb(2), cd)
    val cands = Seq("join", "data", "neverseen")
    def serveCms() = Sketches.cmsEstimateFromStore(spark, cd, cands)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cBefore = serveCms()
    Sketches.compactCmsStore(spark, cd)
    storeDataFiles(cd).size shouldBe 1
    serveCms() shouldBe cBefore

    // HLL (idempotent max-merge)
    val hd = java.nio.file.Files
      .createTempDirectory("graft-compact-hll").toString + "/store"
    val hb = batches(ev, "event_id")
    Sketches.buildHllStore(hb(0), Seq("event_type"), "user_id", hd)
    Sketches.appendToHllStore(hb(1), hd)
    Sketches.appendToHllStore(hb(2), hd)
    def serveHll() = Sketches.hllDistinctFromStore(spark, hd)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val hBefore = serveHll()
    Sketches.compactHllStore(spark, hd)
    storeDataFiles(hd).size shouldBe 1
    serveHll() shouldBe hBefore

    // histogram (linear count-sum)
    val gd = java.nio.file.Files
      .createTempDirectory("graft-compact-hist").toString + "/store"
    Sketches.buildHistStore(hb(0), Seq("event_type"), "event_id", gd)
    Sketches.appendToHistStore(hb(1), gd)
    Sketches.appendToHistStore(hb(2), gd)
    def serveHist() = Sketches
      .histQuantilesFromStore(spark, gd, Seq(0.5, 0.99))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val gBefore = serveHist()
    Sketches.compactHistStore(spark, gd)
    storeDataFiles(gd).size shouldBe 1
    serveHist() shouldBe gBefore
  }

  test("store compaction is crash-safe and rename-checked: a crashed " +
    "attempt's debris is swept and retried; a failed rename throws " +
    "BEFORE anything is destroyed and the retry succeeds") {
    import graft.operators.StoreLayout
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact-crash").toString + "/store"
    Sketches.buildKmvStore(o.filter(F.col("o_orderkey") % 2 === 0),
      Seq("o_orderstatus"), "o_custkey", 16, dir)
    Sketches.appendToKmvStore(o.filter(F.col("o_orderkey") % 2 === 1), dir)
    def serve() = Sketches.kmvDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val before = serve()
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    def nextVer = StoreLayout.currentManifest(fs, p).get._1 + 1

    // crash BEFORE the commit point: tmp junk + an already-renamed-in
    // part of the crashed attempt (never referenced by any manifest).
    // The next compaction sweeps both and compacts fresh.
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_compact_tmp", "data"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_compact_tmp", "data", "junk"),
      "partial".getBytes("UTF-8"))
    val debris = f"compact-v$nextVer%08d-p99999.parquet"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, debris),
      "not parquet".getBytes("UTF-8"))
    serve() shouldBe before // debris invisible to manifest-pinned reads
    Sketches.compactKmvStore(spark, dir)
    storeDataFiles(dir).size shouldBe 1
    new java.io.File(s"$dir/_compact_tmp").exists() shouldBe false
    new java.io.File(s"$dir/$debris").exists() shouldBe false
    serve() shouldBe before

    // fault injection (round-13 verdict #1): a file squatting on the
    // rename target (an HDFS-style rename reports failure as FALSE, not
    // an exception) must THROW with nothing destroyed — the store still
    // serves the current manifest — and the RETRY (which may sweep the
    // squatter as attempt debris, tmp now being present) must succeed
    val blocker = f"compact-v$nextVer%08d-p00000.parquet"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, blocker),
      "squatter".getBytes("UTF-8"))
    val e = intercept[java.io.IOException] {
      Sketches.compactKmvStore(spark, dir)
    }
    e.getMessage should include("rename")
    serve() shouldBe before // nothing destroyed, old manifest intact
    new java.io.File(s"$dir/_compact_tmp").exists() shouldBe true
    Sketches.compactKmvStore(spark, dir) // resumes: sweeps + re-folds
    storeDataFiles(dir).size shouldBe 1
    serve() shouldBe before

    // deferred GC: the parts each compaction replaced stay on disk
    // (reader isolation across ONE swap) until the NEXT compaction
    rawStoreFiles(dir).size should be > 1
    Sketches.compactKmvStore(spark, dir)
    serve() shouldBe before
  }

  test("store compaction is reader-isolated: serves racing compaction " +
    "swaps always see a complete store (manifest-pinned snapshot)") {
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact-race").toString + "/store"
    Sketches.buildKmvStore(o.filter(F.col("o_orderkey") % 2 === 0),
      Seq("o_orderstatus"), "o_custkey", 16, dir)
    // k-min re-appends are idempotent: the expected answer is CONSTANT
    // while appends + compactions churn the file layout underneath
    val reBatch = o.filter(F.col("o_orderkey") % 2 === 1)
    Sketches.appendToKmvStore(reBatch, dir)
    val expected = Sketches.kmvDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val got = Sketches.kmvDistinctFromStore(spark, dir)
            .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
          if (got != expected)
            failures.add(s"stale/torn serve: $got")
        } catch {
          case t: Throwable => failures.add(s"serve threw: ${t.getMessage}")
        }
      }
    })
    reader.start()
    try {
      (1 to 4).foreach { _ =>
        Sketches.appendToKmvStore(reBatch, dir)
        Sketches.compactKmvStore(spark, dir)
      }
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    import scala.jdk.CollectionConverters._
    failures.asScala.toSeq shouldBe Seq.empty
    Sketches.kmvDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
      .toMap shouldBe expected
  }

  test("a crashed append (parts on disk, manifest never committed) is " +
    "never served and never double-counted: the orphan is swept and the " +
    "retry counts ONCE") {
    import graft.operators.StoreLayout
    val toks = Tables.documents(spark, sf)
      .select(F.col("doc_id"),
        F.explode(graft.operators.TextAnalysis.tokens(F.col("text")))
          .as("tok"))
    val b = (0L to 2L).map(i =>
      toks.filter(F.pmod(F.col("doc_id"), F.lit(3L)) === i).select("tok"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-crashappend").toString + "/store"
    Sketches.buildCmsStore(b(0), "tok", 4, 256, dir)
    Sketches.appendToCmsStore(b(1), dir)
    val cands = Seq("join", "data", "neverseen")
    def serve() = Sketches.cmsEstimateFromStore(spark, dir, cands)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e01 = serve()
    // simulate the crash window of StoreLayout.appendRecorded: batch 2's
    // parts land (the data write committed) but the manifest commit never
    // ran — the raw write below is exactly appendRecorded's inner write
    Sketches.cmsSketch(b(2), "tok", 4, 256).write.mode("append").parquet(dir)
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    StoreLayout.rawDataFiles(fs, p).size should be >
      StoreLayout.servingFiles(fs, p).size
    serve() shouldBe e01 // the orphaned batch is invisible — CMS is
    // linear, so serving it would inflate every estimate
    // the next compaction sweeps the orphan (it is unreferenced debris)
    Sketches.compactCmsStore(spark, dir)
    serve() shouldBe e01
    // the caller's retry appends batch 2 for real — counted exactly once
    Sketches.appendToCmsStore(b(2), dir)
    serve() shouldBe Sketches.cmsEstimate(
        Sketches.cmsSketch(toks.select("tok"), "tok", 4, 256), cands, 4, 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("concurrent appends to a manifested store: optimistic manifest " +
    "retry loses no batch") {
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-concappend").toString + "/store"
    Sketches.buildKmvStore(o.filter(F.col("o_orderkey") % 5 === 0),
      Seq("o_orderstatus"), "o_custkey", 16, dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1L to 4L).map { i =>
      new Thread(() =>
        try Sketches.appendToKmvStore(
          o.filter(F.col("o_orderkey") % 5 === i), dir)
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    errs.asScala.toSeq shouldBe Seq.empty
    // every batch's parts made a manifest: the fold over the union is
    // exact, so the served estimates equal the direct whole-table sketch
    Sketches.kmvDistinctFromStore(spark, dir)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
      Sketches.kmvDistinct(o, Seq("o_orderstatus"), "o_custkey", 16)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("appends racing a compaction lose nothing: the compactor's commit " +
    "carries forward batches appended mid-fold") {
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-racecompact").toString + "/store"
    Sketches.buildKmvStore(o.filter(F.col("o_orderkey") % 6 === 0),
      Seq("o_orderstatus"), "o_custkey", 16, dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() =>
      try (1L to 5L).foreach { i =>
        Sketches.appendToKmvStore(
          o.filter(F.col("o_orderkey") % 6 === i), dir)
      } catch { case t: Throwable => errs.add(t) })
    val compactor = new Thread(() =>
      try (1 to 4).foreach { _ => Sketches.compactKmvStore(spark, dir) }
      catch { case t: Throwable => errs.add(t) })
    appender.start(); compactor.start()
    appender.join(240000); compactor.join(240000)
    import scala.jdk.CollectionConverters._
    errs.asScala.toSeq shouldBe Seq.empty
    // one more compaction after the dust settles folds everything that
    // must be there; a lost batch would surface as an underestimate
    Sketches.compactKmvStore(spark, dir)
    Sketches.kmvDistinctFromStore(spark, dir)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
      Sketches.kmvDistinct(o, Seq("o_orderstatus"), "o_custkey", 16)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("concurrent appends WITH the auto-compact valve on: the same-JVM " +
    "guard keeps compaction single-writer; nothing is lost") {
    val ev = events
    val dir = java.nio.file.Files
      .createTempDirectory("graft-concauto").toString + "/store"
    Sketches.buildHllStore(ev.filter(F.col("event_id") % 7 === 0),
      Seq("event_type"), "user_id", dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1L to 6L).map { i =>
      new Thread(() =>
        try Sketches.appendToHllStore(
          ev.filter(F.col("event_id") % 7 === i), dir, autoCompactParts = 2)
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(240000))
    import scala.jdk.CollectionConverters._
    errs.asScala.toSeq shouldBe Seq.empty
    Sketches.hllDistinctFromStore(spark, dir)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
      Sketches.hllDistinct(ev, Seq("event_type"), "user_id")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("manifest commit stress: 4 writers x 12 optimistic commits lose " +
    "nothing (the local FS rename is NOT atomic-on-existing-target — " +
    "tryCommitManifest serializes same-JVM committers)") {
    // The reproducer that caught the loss: ProxyLocal/Checksum local FS
    // rename does a racy check-then-act over POSIX rename(2), which
    // silently OVERWRITES — unsynchronized, two committers both "won" a
    // version in ~60% of 40 trials. Pure FS-level (no Spark jobs), so
    // contention is maximal.
    import graft.operators.StoreLayout
    val dir = java.nio.file.Files
      .createTempDirectory("graft-commitstress").toString + "/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    StoreLayout.tryCommitManifest(fs, p, 1L, Seq("base")) shouldBe true
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        try (0 until 12).foreach { i =>
          val name = s"t$t-i$i"
          var committed = false
          while (!committed) {
            val (v, cur) = StoreLayout.currentManifest(fs, p).get
            committed = StoreLayout.tryCommitManifest(fs, p, v + 1,
              cur :+ name)
          }
        } catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    errs.asScala.toSeq shouldBe Seq.empty
    val (v, cur) = StoreLayout.currentManifest(fs, p).get
    v shouldBe 49L // 1 + 48 commits, every attempt version-unique
    val want = (for (t <- 0 until 4; i <- 0 until 12)
      yield s"t$t-i$i").toSet + "base"
    cur.toSet shouldBe want
  }

  test("GC suspect grace: unreferenced files and scratch dirs are swept " +
    "only after being RECORDED for the grace window AND being mtime-old " +
    "(a live append may own them — the valve can run two compactions " +
    "inside one long write)") {
    import graft.operators.StoreLayout
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-suspects").toString + "/store"
    Sketches.buildKmvStore(o.filter(F.col("o_orderkey") % 2 === 0),
      Seq("o_orderstatus"), "o_custkey", 16, dir)
    def serve() = Sketches.kmvDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = serve()
    // plant what a crashed append leaves behind — unreferenced
    // renamed-in parts + an abandoned scratch dir — ALREADY OLD (a real
    // crash's debris ages; the test back-dates past the grace window),
    // plus one FRESH orphan that must survive even two cycles (it could
    // be a live append mid-flight)
    def plant(parts: String*): java.nio.file.Path = {
      val path = java.nio.file.Paths.get(dir, parts: _*)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, "x".getBytes("UTF-8"))
      path
    }
    def backdate(parts: String*): Unit = {
      val path = java.nio.file.Paths.get(dir, parts: _*)
      java.nio.file.Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - Sketches.SuspectGraceMs - 3600000L))
    }
    plant("append-deadbeef-p00000.parquet")
    backdate("append-deadbeef-p00000.parquet")
    plant("_append_tmp-deadbeef", "part-x")
    backdate("_append_tmp-deadbeef", "part-x")
    backdate("_append_tmp-deadbeef")
    plant("append-fresh000-p00000.parquet") // mtime = now: "live"
    Sketches.compactKmvStore(spark, dir)
    // cycle 1: suspected, NOT swept (just recorded — the grace clock
    // starts at the RECORDING, not the file's mtime, so even hours-old
    // debris survives its first sighting)
    new java.io.File(s"$dir/append-deadbeef-p00000.parquet")
      .exists() shouldBe true
    new java.io.File(s"$dir/_append_tmp-deadbeef").exists() shouldBe true
    serve() shouldBe want // and never served either way
    Sketches.compactKmvStore(spark, dir)
    // still recorded only seconds ago: ANY number of rapid compactions
    // leaves it alone (the r14 cycle-count gap — the valve could run
    // two cycles in seconds and vacuum a slow reader's snapshot)
    new java.io.File(s"$dir/append-deadbeef-p00000.parquet")
      .exists() shouldBe true
    // now age the LEDGER entries past the grace (what a real hour does)
    val (fsS, pS) = graft.operators.StoreLayout.fsFor(spark, dir)
    graft.operators.StoreLayout.writeSuspects(fsS, pS,
      graft.operators.StoreLayout.readSuspects(fsS, pS).map { case (n, _) =>
        n -> (System.currentTimeMillis() - Sketches.SuspectGraceMs - 3600000L)
      })
    Sketches.compactKmvStore(spark, dir)
    // recorded-old AND mtime-old debris swept; the fresh orphan's mtime
    // is young (it could be a live append mid-flight) so it survives
    // even with an aged ledger entry
    new java.io.File(s"$dir/append-deadbeef-p00000.parquet")
      .exists() shouldBe false
    new java.io.File(s"$dir/_append_tmp-deadbeef").exists() shouldBe false
    new java.io.File(s"$dir/append-fresh000-p00000.parquet")
      .exists() shouldBe true
    serve() shouldBe want
    // manifest files are pruned to a bounded set
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    fs.listStatus(p).count(_.getPath.getName.startsWith("_manifest-")) should
      be <= 8
  }

  test("auto-compaction: appendTo*Store(autoCompactParts = N) folds the " +
    "store once it serves more than N parts; answers unchanged") {
    val ev = events
    val dir = java.nio.file.Files
      .createTempDirectory("graft-autocompact").toString + "/store"
    Sketches.buildHllStore(ev.filter(F.col("event_id") % 8 === 0),
      Seq("event_type"), "user_id", dir)
    (1L to 7L).foreach { i =>
      Sketches.appendToHllStore(ev.filter(F.col("event_id") % 8 === i),
        dir, autoCompactParts = 3)
      // the valve holds the SERVED part count at ≤ threshold + 1
      // (compaction folds to 1 right after the threshold is crossed)
      storeDataFiles(dir).size should be <= 4
    }
    Sketches.hllDistinctFromStore(spark, dir)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
      Sketches.hllDistinct(ev, Seq("event_type"), "user_id")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("band index compaction: file-count rewrite, probes identical, " +
    "family stamp preserved") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(F.col("doc_id") % 2 === 0)
    val batch = docs.filter(F.col("doc_id") % 2 === 1).limit(30)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-compact-idx").toString + "/idx"
    Dedup.saveBandIndex(corpus.filter(F.col("doc_id") % 4 === 0),
      "doc_id", "text", idx)
    Dedup.appendToBandIndex(corpus.filter(F.col("doc_id") % 4 === 2),
      "doc_id", "text", idx)
    def probe() = Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val before = probe()
    (storeDataFiles(idx).size + storeDataFiles(s"$idx/_bands").size) should
      be > 2
    Dedup.compactBandIndex(spark, idx)
    storeDataFiles(idx).size shouldBe 1
    storeDataFiles(s"$idx/_bands").size shouldBe 1
    probe() shouldBe before
    // appends still land under the preserved params, and probing after
    // an append + recompaction still matches a fresh full index
    Dedup.appendToBandIndex(corpus.filter(F.col("doc_id") % 4 === 2),
      "doc_id", "text", idx) // idempotent content for the probe verdict
    Dedup.compactBandIndex(spark, idx)
    probe() shouldBe before
  }

  test("CMS store: build/append/serve == direct probe; refusals fail fast") {
    val toks = Tables.documents(spark, sf)
      .select(F.col("doc_id"),
        F.explode(graft.operators.TextAnalysis.tokens(F.col("text")))
          .as("tok"))
    val d4 = 4; val w = 512
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cmsstore-spec").toString + "/store"
    // three appended batches by doc_id mod 3
    Sketches.buildCmsStore(toks.filter(F.col("doc_id") % 3 === 0)
      .select(F.col("tok")), "tok", d4, w, dir)
    Sketches.appendToCmsStore(toks.filter(F.col("doc_id") % 3 === 1)
      .select(F.col("tok")), dir)
    Sketches.appendToCmsStore(toks.filter(F.col("doc_id") % 3 === 2)
      .select(F.col("tok")), dir)
    val cands = Seq("join", "hash", "zzzunseen")
    val served = Sketches.cmsEstimateFromStore(spark, dir, cands)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Sketches.cmsEstimate(
        Sketches.cmsSketch(toks.select(F.col("tok")), "tok", d4, w),
        cands, d4, w)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    served shouldBe direct // linearity through persistence
    // refusal: foreign flavor stamp
    import spark.implicits._
    Seq((d4, w, "crc-32-v0", "tok"))
      .toDF("depth", "width", "hashFlavor", "tokenCol")
      .write.mode("overwrite").parquet(s"$dir/_params")
    val e = intercept[IllegalArgumentException] {
      Sketches.appendToCmsStore(toks.select(F.col("tok")), dir)
    }
    e.getMessage should include("crc-32-v0")
  }

  test("CMS estimates are an upper bound on exact counts, exact when alone") {
    val toks = Tables.documents(spark, sf)
      .select(F.explode(graft.operators.TextAnalysis.tokens(F.col("text")))
        .as("tok"))
    val cands = Seq("join", "hash", "zzzunseen")
    val d = 4; val w = 2048
    val sketch = Sketches.cmsSketch(toks, "tok", d, w)
    val est = Sketches.cmsEstimate(sketch, cands, d, w)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toks.filter(F.col("tok").isin(cands: _*))
      .groupBy("tok").agg(F.count(F.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.keySet shouldBe cands.toSet
    for (c <- cands) est(c) should be >= exact.getOrElse(c, 0L)
    // a sketch over ONLY one token has no colliding mass: estimate exact
    val solo = Sketches.cmsEstimate(
      Sketches.cmsSketch(toks.filter(F.col("tok") === "join"), "tok", d, w),
      Seq("join"), d, w).head().getLong(1)
    solo shouldBe exact("join")
  }

  test("KMV merge fold == direct sketch (the k-min merge identity)") {
    // shard 7 ways (not the registry's 4) and merge per event type;
    // the merged k-min SET must equal the direct one — under AND over
    // saturation (k=8 saturates at 15 users/type; k=1024 never does)
    val ev7 = events.withColumn("shard",
      F.pmod(Sketches.md5Hash32(F.col("event_id")), F.lit(7L)))
    for (k <- Seq(8, 1024)) {
      val parts = Sketches.kmvSketch(ev7, Seq("event_type", "shard"),
        "user_id", k)
      val merged = Sketches.kmvMergeSketches(parts, Seq("event_type"), k)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val direct = Sketches.kmvSketch(events, Seq("event_type"), "user_id", k)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      merged shouldBe direct
    }
    // global fold (groupCols = Nil) over the per-type sketches
    val perType = Sketches.kmvSketch(events, Seq("event_type"), "user_id", 16)
    val global = Sketches.kmvMergeSketches(perType, Nil, 16)
      .head().getSeq[Long](0)
    val directG = Sketches.kmvSketch(events, Nil, "user_id", 16)
      .head().getSeq[Long](0)
    global shouldBe directG
  }

  test("KMV overlap: identical sets → 1.0, disjoint → 0.0, partial " +
    "within estimator tolerance") {
    val skA = Sketches.kmvSketch(events, Nil, "user_id", 64)
    val same = Sketches.kmvSetEstimates(skA, skA, Nil, 64).head()
    same.getAs[Double]("est_jaccard") shouldBe 1.0
    // disjoint value domain: prefix shifts every hash
    val shifted = events.withColumn("u2",
      F.concat(F.lit("zz_"), F.col("user_id").cast("string")))
    val skB = Sketches.kmvSketch(shifted, Nil, "u2", 64)
    Sketches.kmvSetEstimates(skA, skB, Nil, 64).head()
      .getAs[Double]("est_jaccard") shouldBe 0.0
    // partial overlap (orders custkey sets per status): est vs exact
    // within the k=64 sampling band, on every pair
    val rows = Queries.q_kmv_overlap(spark, sf).collect()
    rows.length shouldBe 3 // F/O/P pairs
    for (r <- rows) {
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("exact_jaccard")
      math.abs(est - exact) should be < 0.3
      est should (be >= 0.0 and be <= 1.0)
    }
  }

  test("CMS merge fold == grid over the concatenated stream (linearity)") {
    val toks = Tables.documents(spark, sf)
      .select(F.col("doc_id"),
        F.explode(graft.operators.TextAnalysis.tokens(F.col("text")))
          .as("tok"))
    val d = 4; val w = 256
    val odd = Sketches.cmsSketch(toks.filter(F.col("doc_id") % 2 === 1),
      "tok", d, w)
    val even = Sketches.cmsSketch(toks.filter(F.col("doc_id") % 2 === 0),
      "tok", d, w)
    val merged = Sketches.cmsMergeSketches(odd.union(even))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = Sketches.cmsSketch(toks, "tok", d, w)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    merged shouldBe whole
  }

  test("MG heavy hitters are EXACT regardless of partitioning and order") {
    val toks = Tables.documents(spark, sf)
      .select(F.explode(graft.operators.TextAnalysis.tokens(F.col("text")))
        .as("tok"))
    for (minFrac <- Seq(0.01, 0.03, 0.2)) {
      val n = toks.count()
      val thresh = math.ceil(minFrac * n).toLong
      val exact = toks.groupBy(F.col("tok").as("token"))
        .agg(F.count(F.lit(1)).as("n")).filter(F.col("n") >= thresh)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // several physical layouts: MG candidate sets differ, the
      // recounted face must not (adversarial: heavy tokens first/last)
      val layouts = Seq(
        toks,
        toks.repartition(1),
        toks.repartition(32),
        toks.orderBy(F.col("tok").asc),
        toks.orderBy(F.col("tok").desc))
      for (t <- layouts) {
        val hh = Sketches.heavyHitters(t, "tok", minFrac)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        hh shouldBe exact
      }
    }
  }

  test("MG summary: ≤ k counters, superset of true heavy hitters, " +
    "null-skipping") {
    val vals = Tables.events(spark, sf).select(F.col("event_type").as("v"))
      .withColumn("v",
        F.when(F.col("v") === "click", F.lit(null)).otherwise(F.col("v")))
    val k = 3
    val row = Sketches.mgSummary(vals, "v", k).head()
    val mg = row.getMap[String, Long](0)
    val nTotal = row.getLong(1)
    mg.size should be <= k
    mg.keySet should not contain "click" // nulls skipped
    nTotal shouldBe vals.filter(F.col("v").isNotNull).count()
    // superset guarantee: every value with count > n/(k+1) is present
    val heavy = vals.filter(F.col("v").isNotNull).groupBy("v").count()
      .filter(F.col("count") > nTotal / (k + 1.0))
      .collect().map(_.getString(0)).toSet
    heavy.subsetOf(mg.keySet.toSet) shouldBe true
  }

  test("CMS grid is bounded by depth*width and partitioning-invariant") {
    val toks = Tables.documents(spark, sf)
      .select(F.explode(graft.operators.TextAnalysis.tokens(F.col("text")))
        .as("tok"))
    val d = 4; val w = 64 // narrow grid: every cell occupied, heavy collisions
    val sketch = Sketches.cmsSketch(toks, "tok", d, w)
    sketch.count() should be <= (d * w).toLong
    // total mass per row j = total token occurrences
    val total = toks.count()
    val perRow = sketch.groupBy("j").agg(F.sum("n").as("s"))
      .collect().map(_.getLong(1)).toSeq
    perRow.size shouldBe d
    all(perRow) shouldBe total
    val rep = Sketches.cmsSketch(toks.repartition(13), "tok", d, w)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val base = sketch
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    rep shouldBe base
  }

  test("CMS fused kernel == composed explode+groupBy baseline on hostile " +
    "tokens, both hash flavors") {
    import spark.implicits._
    // hostile values: CJK, empty string, whitespace, long token, '_'-
    // bearing tokens (the derivation suffix separator), high repetition
    val hostile = Seq("日本語のトークン", "", " ", "a" * 500, "tok_0", "tok", "_",
      "naïve", "a", "a", "a", "💡emoji", "tab\there") ++
      (0 until 200).map(i => s"w${i % 37}")
    val toks = hostile.toDF("tok").repartition(7)
    def grid(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    for ((flavor, hashCol) <- Seq(
        "md5-32-v1" -> (Sketches.md5Hash32 _),
        "xx64-32-v1" -> (Sketches.xx64Hash32 _))) {
      val fused = grid(Sketches.cmsSketch(toks, "tok", 4, 32, flavor))
      val composed = grid(
        Sketches.cmsSketchComposed(toks, "tok", 4, 32, hashCol))
      withClue(s"flavor $flavor: ") { fused shouldBe composed }
    }
    // null tokens are skipped identically by both faces
    val withNulls = (hostile.map(Option(_)) ++ Seq(None, None))
      .toDF("tok").repartition(5)
    grid(Sketches.cmsSketch(withNulls, "tok", 2, 16)) shouldBe
      grid(Sketches.cmsSketchComposed(withNulls, "tok", 2, 16))
    // and the scalar JVM twins equal the column hashes literally
    val cols = hostile.toDF("v").select(F.col("v"),
      Sketches.md5Hash32(F.col("v")).as("hm"),
      Sketches.xx64Hash32(F.col("v")).as("hx")).collect()
    cols.foreach { r =>
      r.getLong(1) shouldBe Sketches.md5Hash32Jvm(r.getString(0))
      r.getLong(2) shouldBe Sketches.xx64Hash32Jvm(r.getString(0))
    }
    // the grid-ARRAY probe (cmsEstimateFromGrid, q_cms_probe's one-scan
    // path) == the unpacked-rows probe (cmsEstimate) — present, absent
    // and hostile candidates alike
    val cands = Seq("tok", "日本語のトークン", "w3", "neverseen", "", "_")
    val fromGrid = Sketches.cmsEstimateFromGrid(
        toks.agg(Sketches.cmsGridAggColumn(F.col("tok"), 4, 32)
          .as("__g")), "__g", cands, 4, 32)
      .select("token", "est_n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val fromRows = Sketches.cmsEstimate(
        Sketches.cmsSketch(toks, "tok", 4, 32), cands, 4, 32)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    fromGrid shouldBe fromRows
    // build/probe flavor agreement is now enforced by the shared flavor
    // STRING (round-13 ADVICE): an xx64-built grid probed at xx64
    // equals the xx64 row probe, and an unknown flavor refuses
    val gridXx = toks.agg(
      Sketches.cmsGridAggColumn(F.col("tok"), 4, 32, "xx64-32-v1").as("__g"))
    Sketches.cmsEstimateFromGrid(gridXx, "__g", cands, 4, 32, "xx64-32-v1")
        .select("token", "est_n")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet shouldBe
      Sketches.cmsEstimate(
          Sketches.cmsSketchComposed(toks, "tok", 4, 32, Sketches.xx64Hash32),
          cands, 4, 32, Sketches.xx64Hash32)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    intercept[IllegalArgumentException] {
      Sketches.cmsEstimateFromGrid(gridXx, "__g", cands, 4, 32, "nope-v9")
    }
  }

  // ---- HyperLogLog -------------------------------------------------------

  test("HLL linear-counting enumeration: all 1024 possible V values are " +
    "bit-equal to DuckDB's ln + round (the oracle-safety proof)") {
    // hll_linear_duckdb.csv was generated by DuckDB itself:
    //   SELECT v, round(1024 * ln(1024.0 / v), 4) FROM range(1, 1025)
    // The estimator's linear branch is transcendental; its cross-engine
    // determinism rests ENTIRELY on this finite enumeration.
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/hll_linear_duckdb.csv"))
    val duck = try src.getLines().drop(1).map { l =>
        val Array(v, est) = l.split(",")
        v.toInt -> est.toDouble
      }.toMap finally src.close()
    duck.size shouldBe 1024
    import spark.implicits._
    val jvm = (1 to 1024).toDF("v")
      .select(F.col("v"), Sketches.hllLinearCol(F.col("v")).as("est"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for (v <- 1 to 1024)
      assert(jvm(v) == duck(v), s"V=$v: jvm=${jvm(v)} duckdb=${duck(v)}")
  }

  test("HLL register sketch: ≤ m rows per group, partitioning-invariant, " +
    "null-skipping; shard + max-fold == direct (merge identity)") {
    val ev = events
    val regs = Sketches.hllSketch(ev, Seq("event_type"), "user_id")
    val perGroup = regs.groupBy("event_type").count()
      .collect().map(_.getLong(1))
    all(perGroup) should be <= 1024L
    val base = regs.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val rep = Sketches.hllSketch(ev.repartition(13), Seq("event_type"),
        "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    rep shouldBe base
    // nulls skipped: a frame with user_id nulled for one type has no
    // registers for it
    val nulled = ev.withColumn("user_id",
      F.when(F.col("event_type") === "click", F.lit(null))
        .otherwise(F.col("user_id")))
    Sketches.hllSketch(nulled, Seq("event_type"), "user_id")
      .filter(F.col("event_type") === "click").count() shouldBe 0L
    // merge identity on REGISTERS, not just estimates
    val sharded = ev.withColumn("shard",
      F.pmod(Sketches.md5Hash32(F.col("event_id")), F.lit(4L)))
    val folded = Sketches.hllMergeSketches(
        Sketches.hllSketch(sharded, Seq("event_type", "shard"), "user_id"),
        Seq("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    folded shouldBe base
  }

  test("HLL estimate: ~3.3% expected error at both regimes; empty input " +
    "estimates 0.0; merge and store faces agree with direct") {
    import spark.implicits._
    // raw-branch regime: 50k distinct over m=1024 registers
    val big = spark.range(50000).select(F.col("id"))
    val bigEst = Sketches.hllDistinct(big, Nil, "id")
      .head().getDouble(0)
    math.abs(bigEst - 50000.0) / 50000.0 should be < 0.15
    // linear-counting regime: per-type user cardinality (~15 at sf0.001)
    val est = Sketches.hllDistinct(events, Seq("event_type"), "user_id")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = events.groupBy("event_type")
      .agg(F.count_distinct(F.col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.keySet shouldBe est.keySet
    for ((g, n) <- exact)
      math.abs(est(g) - n) / n.toDouble should be < 0.25
    // empty input, global scope: linear counting with V = m → 0.0
    val none = events.filter(F.lit(false))
    Sketches.hllDistinct(none, Nil, "user_id")
      .head().getDouble(0) shouldBe 0.0
  }

  test("HLL store: build/append/serve == direct; refusals fail fast") {
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hllstore-spec").toString + "/store"
    Sketches.buildHllStore(
      o.filter(F.pmod(F.col("o_orderkey"), F.lit(2L)) === 0),
      Seq("o_orderstatus"), "o_custkey", dir)
    Sketches.appendToHllStore(
      o.filter(F.pmod(F.col("o_orderkey"), F.lit(2L)) === 1), dir)
    val served = Sketches.hllDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = Sketches.hllDistinct(o, Seq("o_orderstatus"), "o_custkey")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    served shouldBe direct
    // unknown flavor refused at build time
    intercept[IllegalArgumentException] {
      Sketches.buildHllStore(o, Seq("o_orderstatus"), "o_custkey",
        dir + "2", flavor = "crc32-hll-v0")
    }.getMessage should include("unknown value-hash flavor")
    // a bare parquet dir (no _params sidecar) is not servable
    val bare = java.nio.file.Files
      .createTempDirectory("graft-hllstore-bare").toString + "/store"
    o.limit(5).write.parquet(bare)
    intercept[IllegalArgumentException] {
      Sketches.hllDistinctFromStore(spark, bare)
    }.getMessage should include("not an HLL register store")
    // a foreign-precision store is refused (registers not foldable)
    import spark.implicits._
    Seq((14, "md5-hll-v1", "o_orderstatus", "o_custkey"))
      .toDF("p", "hashFlavor", "groupCols", "valueCol")
      .write.mode("overwrite").parquet(s"$bare/_params")
    intercept[IllegalArgumentException] {
      Sketches.hllDistinctFromStore(spark, bare)
    }.getMessage should include("p=14")
  }

  // ---- log2 histogram quantiles -------------------------------------------

  test("log2 histogram: grid-exact buckets, small values exact, merge " +
    "identity, partitioning invariance, negative refusal") {
    import spark.implicits._
    // wide-octave data: id² spans ~34 octaves at 100k rows
    val wide = spark.range(100000)
      .select((F.col("id") * F.col("id")).as("v"), F.lit("g").as("grp"))
    val subBits = 3
    val hist = Sketches.log2Histogram(wide, Seq("grp"), "v", subBits)
    val rows = hist.collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    // every bucket_lo is a fixed point of the grid rounding, and the
    // histogram is tiny relative to the data
    for ((lo, _) <- rows) {
      val g = math.max(64 - java.lang.Long.numberOfLeadingZeros(lo) -
        1 - subBits, 0)
      (lo >> g) << g shouldBe lo
    }
    rows.values.sum shouldBe 100000L
    assert(rows.size.toLong <= (1L << subBits) * 35,
      s"histogram has ${rows.size} buckets")
    // values ≤ 2^subBits land in their own exact buckets
    val small = spark.range(0, 9).select(F.col("id").as("v"))
    Sketches.log2Histogram(small, Nil, "v", subBits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      (0L to 8L).map(_ -> 1L).toMap
    // merge identity: parity-split histograms sum to the direct one
    val parts = Sketches.log2Histogram(
      wide.withColumn("grp",
        F.concat(F.lit("p"), F.pmod(F.col("v"), F.lit(2L)))),
      Seq("grp"), "v", subBits)
    val folded = Sketches.histMergeHistograms(
        parts.withColumn("grp", F.lit("g")), Seq("grp"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    folded shouldBe rows
    // partitioning invariance
    val rep = Sketches.log2Histogram(wide.repartition(17), Seq("grp"), "v",
        subBits).collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    rep shouldBe rows
    // negatives refused (the binary grid has no sign)
    val neg = Seq(-1L).toDF("v")
    val e = intercept[Exception] {
      Sketches.log2Histogram(neg, Nil, "v", subBits).collect()
    }
    // the raise may surface wrapped in a task-failure SparkException
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    msgs should include("negative value")
  }

  test("histogram store: build/append/serve quantiles == direct; " +
    "no-sidecar refusal") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(F.col("doc_id"), F.col("lang"),
        F.size(graft.operators.TextAnalysis.tokens(F.col("text")))
          .cast("long").as("ntok"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-histstore-spec").toString + "/store"
    Sketches.buildHistStore(
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3L)) === 0),
      Seq("lang"), "ntok", dir, subBits = 4)
    Sketches.appendToHistStore(
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3L)) === 1), dir)
    Sketches.appendToHistStore(
      docs.filter(F.pmod(F.col("doc_id"), F.lit(3L)) === 2), dir)
    val qs = Seq(0.25, 0.5, 0.99)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getDouble(1)) -> (r.getLong(2), r.getLong(3))
    val served = Sketches.histQuantilesFromStore(spark, dir, qs)
      .collect().map(key).toMap
    val direct = Sketches.logHistQuantiles(docs, Seq("lang"), "ntok", qs,
      subBits = 4).collect().map(key).toMap
    served shouldBe direct
    val bare = java.nio.file.Files
      .createTempDirectory("graft-histstore-bare").toString + "/store"
    docs.limit(3).write.parquet(bare)
    intercept[IllegalArgumentException] {
      Sketches.histQuantilesFromStore(spark, bare, qs)
    }.getMessage should include("not a histogram store")
  }

  test("histQuantiles: est ≤ true < est + grid at every q, exact in the " +
    "unit-grid range; bad q refused") {
    import spark.implicits._
    val subBits = 3
    val qs = Seq(0.5, 0.9, 0.99, 1.0)
    val data = spark.range(100000)
      .select((F.col("id") * F.col("id") % 1234567).as("v"),
        F.pmod(F.col("id"), F.lit(3L)).cast("string").as("grp"))
    val est = Sketches.logHistQuantiles(data, Seq("grp"), "v", qs, subBits)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val byGroup = data.collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).map { case (g, a) => g -> a.map(_._2).sorted }
    for ((g, vals) <- byGroup; q <- qs) {
      val (lo, nTotal) = est((g, q))
      nTotal shouldBe vals.length.toLong
      val rank = math.ceil(q * vals.length).toLong
      val truth = vals(rank.toInt - 1)
      val gb = math.max(64 - java.lang.Long.numberOfLeadingZeros(
        math.max(lo, 1L)) - 1 - subBits, 0)
      assert(lo <= truth && truth < lo + (1L << gb),
        s"grp=$g q=$q est=$lo true=$truth grid=${1L << gb}")
      if (truth < (1L << (subBits + 1))) truth shouldBe lo
    }
    intercept[IllegalArgumentException] {
      Sketches.logHistQuantiles(data, Nil, "v", Seq(0.0))
    }
    intercept[IllegalArgumentException] {
      Sketches.logHistQuantiles(data, Nil, "v", Seq(1.2))
    }
  }

  test("band-index append is all-or-nothing across BOTH tables under " +
    "retry: a crash between the shingle and _bands manifest commits is " +
    "healed by re-appending the same batchId — exactly one copy serves " +
    "in each table, probe recall intact, further retries are no-ops " +
    "even across a compaction") {
    import graft.operators.{Dedup, StoreLayout}
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(F.col("doc_id") % 2 === 0)
    // deterministic 20-doc batch (no limit(): plan-order-dependent)
    val batch = docs.filter(F.col("doc_id") % 2 === 1 &&
      F.col("doc_id") < 40)
    val nBatch = batch.count()
    val idx = java.nio.file.Files
      .createTempDirectory("graft-bandatomic").toString + "/idx"
    Dedup.saveBandIndex(corpus, "doc_id", "text", idx)
    def shRows() = StoreLayout.readStore(spark, idx).count()
    def bandRows() = StoreLayout.readStore(spark, s"$idx/_bands").count()
    def unindexed() = Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx)
      .count()
    val (sh0, band0) = (shRows(), bandRows())

    // kill between the two manifest commits (the r14 verdict's exact
    // window): shingles land, _bands never does
    val boom = new RuntimeException("injected crash between table commits")
    Dedup.bandAppendFault = () => throw boom
    try {
      intercept[RuntimeException] {
        Dedup.appendToBandIndex(batch, "doc_id", "text", idx,
          batchId = Some("b42"))
      } shouldBe boom
    } finally Dedup.bandAppendFault = () => ()
    shRows() shouldBe sh0 + nBatch // verify side committed
    bandRows() shouldBe band0 // candidate side did not: batch
    // invisible to candidate generation (the documented harmless
    // transient — shingle-without-bands, never bands-without-shingles)

    // retry with the SAME batchId: lands ONLY the missing table
    Dedup.appendToBandIndex(batch, "doc_id", "text", idx,
      batchId = Some("b42"))
    shRows() shouldBe sh0 + nBatch // not duplicated
    val band1 = bandRows()
    band1 should be > band0 // _bands landed
    // recall is whole again: every batch doc now near-dups its indexed
    // self, so the incremental-ingest gate drops all of them
    unindexed() shouldBe 0L

    // a THIRD call with the same id is a full no-op (both markers)
    Dedup.appendToBandIndex(batch, "doc_id", "text", idx,
      batchId = Some("b42"))
    shRows() shouldBe sh0 + nBatch
    bandRows() shouldBe band1

    // compaction rewrites both manifests (append-file names vanish) but
    // the idempotence evidence survives it: a late same-id retry is
    // still a no-op
    Dedup.compactBandIndex(spark, idx)
    Dedup.appendToBandIndex(batch, "doc_id", "text", idx,
      batchId = Some("b42"))
    shRows() shouldBe sh0 + nBatch
    bandRows() shouldBe band1
    unindexed() shouldBe 0L
  }

  test("batchId idempotence matches the EXACT id: a dash-prefix sibling " +
    "('b1' vs 'b1-x') never aliases — both batches land, both retries " +
    "are no-ops") {
    import graft.operators.StoreLayout
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-exactid").toString + "/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def append(id: String, v: Long): Unit =
      StoreLayout.appendRecorded(spark, dir, Some(id)) { scratch =>
        Seq(v).toDF("v").coalesce(1).write.parquet(scratch)
      }
    def served() = StoreLayout.readStore(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    append("b1-x", 1L)
    // the review-caught regression: "append-b1-x-*" startsWith
    // "append-b1-", so a prefix test would mark batch "b1" committed
    // and silently drop it forever
    append("b1", 2L)
    served() shouldBe Seq(1L, 2L)
    append("b1", 2L)
    append("b1-x", 1L)
    served() shouldBe Seq(1L, 2L) // retries: exact-id no-ops
  }

  test("superseded parts are age-gated: a reader's pinned snapshot " +
    "survives many rapid valve-triggered compactions (wall-clock " +
    "isolation, not cycle-count — the r14 cycle-GC would vacuum it on " +
    "the second cycle)") {
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-agegate").toString + "/store"
    Sketches.buildKmvStore(o.filter(F.col("o_orderkey") % 7 === 0),
      Seq("o_orderstatus"), "o_custkey", 16, dir)
    Sketches.appendToKmvStore(o.filter(F.col("o_orderkey") % 7 === 1), dir)
    Sketches.compactKmvStore(spark, dir)
    // pin a snapshot exactly the way a reader does (manifest resolution)
    val snapshot = storeDataFiles(dir)
    val pinned = spark.read.parquet(snapshot.map(n => s"$dir/$n"): _*)
      .count()
    // churn: the valve fires a compaction on EVERY append (threshold 1),
    // so the snapshot is superseded many cycles over in seconds
    (2L to 6L).foreach { i =>
      Sketches.appendToKmvStore(o.filter(F.col("o_orderkey") % 7 === i),
        dir, autoCompactParts = 1)
    }
    storeDataFiles(dir) should not be snapshot // really superseded
    // the slow reader's files are all still on disk and readable: sweep
    // requires the ledger entry to be older than SuspectGraceMs
    snapshot.foreach(n =>
      assert(new java.io.File(s"$dir/$n").exists(),
        s"snapshot file $n vacuumed within the grace window"))
    spark.read.parquet(snapshot.map(n => s"$dir/$n"): _*)
      .count() shouldBe pinned
  }

  test("cross-JVM writer guard on local FS: a foreign JVM's fresh " +
    "_writer_lock heartbeat refuses this JVM's append AND compaction " +
    "loudly; an expired lease is taken over cleanly") {
    import graft.operators.StoreLayout
    import org.apache.hadoop.fs.Path
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lease").toString + "/store"
    Sketches.buildKmvStore(o.filter(F.col("o_orderkey") % 4 === 0),
      Seq("o_orderstatus"), "o_custkey", 16, dir)
    Sketches.appendToKmvStore(o.filter(F.col("o_orderkey") % 4 === 1), dir)
    def serve() = Sketches.kmvDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val afterTwo = serve()
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    val lock = new Path(p, "_writer_lock")
    // forge another JVM's live heartbeat (via the Hadoop FS so the
    // checksum sidecar stays consistent)
    val out = fs.create(lock, true)
    out.write("99999@otherhost/feedface".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      Sketches.appendToKmvStore(o.filter(F.col("o_orderkey") % 4 === 2), dir)
    }
    e.getMessage should include("another JVM")
    intercept[IllegalStateException] { Sketches.compactKmvStore(spark, dir) }
    serve() shouldBe afterTwo // the refusals changed nothing
    // the owner crashed: its heartbeat goes stale past the lease window
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dir, "_writer_lock"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - StoreLayout.WriterLeaseMs - 60000L))
    // takeover: the append succeeds and the lease is ours afterwards
    Sketches.appendToKmvStore(o.filter(F.col("o_orderkey") % 4 === 2), dir)
    Sketches.appendToKmvStore(o.filter(F.col("o_orderkey") % 4 === 3), dir)
    Sketches.compactKmvStore(spark, dir)
    serve() shouldBe
      Sketches.kmvDistinct(o, Seq("o_orderstatus"), "o_custkey", 16)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  // shared by the retraction tests: age every suspects-ledger entry past
  // the GC grace (what a real hour does), so the next vacuum can sweep
  private def ageLedger(path: String): Unit = {
    import graft.operators.StoreLayout
    val (fs, p) = StoreLayout.fsFor(spark, path)
    StoreLayout.writeSuspects(fs, p,
      StoreLayout.readSuspects(fs, p).map { case (n, _) =>
        n -> (System.currentTimeMillis() - Sketches.SuspectGraceMs -
          3600000L)
      })
  }

  test("dropBatchFromStore: serving excludes the dropped batch, retries " +
    "are idempotent, one post-grace vacuum erases physically, and every " +
    "ambiguous path refuses loudly") {
    import graft.operators.StoreLayout
    val o = Tables.orders(spark, sf)
    def third(i: Int) = o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) === i)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-kmvdrop-spec").toString + "/store"
    Sketches.buildKmvStore(third(0), Seq("o_orderstatus"), "o_custkey",
      k = 16, dir)
    Sketches.appendToKmvStore(third(1), dir, batchId = Some("b1"))
    Sketches.appendToKmvStore(third(2), dir, batchId = Some("b2"))
    def serve() = Sketches.kmvDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // drop b2: the estimate equals the direct estimate over thirds 0∪1
    Sketches.dropBatchFromStore(spark, dir, "b2") should be > 0
    serve() shouldBe Sketches.kmvDistinct(
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) < 2),
        Seq("o_orderstatus"), "o_custkey", 16)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    StoreLayout.servingFiles(fs, p)
      .exists(StoreLayout.isBatchFile(_, "b2")) shouldBe false
    // the bytes survive the grace window (reader isolation) ...
    val b2OnDisk = StoreLayout.rawDataFiles(fs, p)
      .filter(StoreLayout.isBatchFile(_, "b2"))
    b2OnDisk should not be empty
    // ... a completed drop's retry is a no-op ...
    Sketches.dropBatchFromStore(spark, dir, "b2") shouldBe 0
    // ... and the id stays consumed: a late append-retry of b2 no-ops
    // instead of resurrecting the batch
    Sketches.appendToKmvStore(third(2), dir, batchId = Some("b2"))
    serve().keySet.foreach(_ => ()) // force the read
    StoreLayout.servingFiles(fs, p)
      .exists(StoreLayout.isBatchFile(_, "b2")) shouldBe false
    // physical erasure: the drop recorded the supersession, so ONE
    // post-grace vacuum removes the bytes (the RTBF recipe)
    ageLedger(dir)
    Sketches.vacuumStore(spark, dir)
    StoreLayout.rawDataFiles(fs, p)
      .filter(StoreLayout.isBatchFile(_, "b2")) shouldBe empty
    // unknown id: loud, names the evidence checked
    intercept[IllegalArgumentException] {
      Sketches.dropBatchFromStore(spark, dir, "never-appended")
    }.getMessage should include("no evidence")
    // folded batch: compaction merges b1's rows into compact-v parts,
    // after which the drop refuses with the linear-store remediation
    Sketches.compactKmvStore(spark, dir)
    intercept[IllegalStateException] {
      Sketches.dropBatchFromStore(spark, dir, "b1")
    }.getMessage should include("retractFromCmsStore")
    // ANN-index layout guard (the vacuumStore mirror)
    val fakeIdx = java.nio.file.Files
      .createTempDirectory("graft-kmvdrop-idx").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(fakeIdx, "_centroids"))
    intercept[IllegalArgumentException] {
      Sketches.dropBatchFromStore(spark, fakeIdx, "b1")
    }.getMessage should include("deleteFromIvfIndex")
    // the histogram store drops through the same verb (the layout is
    // store-kind-agnostic): quantiles equal the surviving-data direct
    val hdir = java.nio.file.Files
      .createTempDirectory("graft-histdrop-spec").toString + "/store"
    val base = o.select(F.col("o_orderstatus"),
      F.col("o_totalprice").cast("long").as("v"))
    Sketches.buildHistStore(base.filter(F.col("v") % 2 === 0),
      Seq("o_orderstatus"), "v", hdir)
    Sketches.appendToHistStore(base.filter(F.col("v") % 2 === 1), hdir,
      batchId = Some("odd"))
    Sketches.dropBatchFromStore(spark, hdir, "odd") should be > 0
    val qs = Seq(0.5, 0.9)
    Sketches.histQuantilesFromStore(spark, hdir, qs).collect().toSet shouldBe
      Sketches.logHistQuantiles(base.filter(F.col("v") % 2 === 0),
        Seq("o_orderstatus"), "v", qs).collect().toSet
  }

  test("drop crash window (r15 style): commit landed but the completion " +
    "marker and supersession record did not — serving is already " +
    "correct, the retry is loud not silent, and erasure still completes " +
    "through the class-(a) sweep") {
    import graft.operators.StoreLayout
    val o = Tables.orders(spark, sf)
    def third(i: Int) = o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) === i)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-kmvdropcrash").toString + "/store"
    Sketches.buildKmvStore(third(0), Seq("o_orderstatus"), "o_custkey",
      k = 16, dir)
    Sketches.appendToKmvStore(third(1), dir, batchId = Some("b1"))
    Sketches.appendToKmvStore(third(2), dir, batchId = Some("b2"))
    Sketches.dropFault = () => throw new RuntimeException("boom-drop")
    try
      intercept[RuntimeException] {
        Sketches.dropBatchFromStore(spark, dir, "b2")
      }.getMessage shouldBe "boom-drop"
    finally Sketches.dropFault = () => ()
    val (fs, p) = StoreLayout.fsFor(spark, dir)
    // the manifest commit is the drop's atom: the batch is excluded
    StoreLayout.servingFiles(fs, p)
      .exists(StoreLayout.isBatchFile(_, "b2")) shouldBe false
    Sketches.kmvDistinctFromStore(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
      Sketches.kmvDistinct(
          o.filter(F.pmod(F.col("o_orderkey"), F.lit(3L)) < 2),
          Seq("o_orderstatus"), "o_custkey", 16)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the retry in this narrow window cannot tell dropped from folded:
    // it throws (loud) instead of guessing — the documented trade
    intercept[IllegalStateException] {
      Sketches.dropBatchFromStore(spark, dir, "b2")
    }.getMessage should include("folded")
    // erasure completes anyway, one sweep later: the crashed drop never
    // recorded supersession, so the first vacuum RECORDS the orphaned
    // parts (class (a): referenced by older manifests, absent from the
    // current), and a post-grace vacuum erases them
    StoreLayout.rawDataFiles(fs, p)
      .filter(StoreLayout.isBatchFile(_, "b2")) should not be empty
    Sketches.vacuumStore(spark, dir) // records
    ageLedger(dir)
    Sketches.vacuumStore(spark, dir) // sweeps
    StoreLayout.rawDataFiles(fs, p)
      .filter(StoreLayout.isBatchFile(_, "b2")) shouldBe empty
  }

  test("linear retraction (CMS + hist): post-compaction negated-batch " +
    "append cancels exactly; the batchId makes a double-apply a no-op") {
    import spark.implicits._
    def toksOf(rows: Seq[String]) = rows.toDF("text")
      .select(F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+"))
        .as("tok")).filter(F.col("tok") =!= "")
    val t1 = toksOf(Seq("alpha beta beta gamma", "beta delta"))
    val t2 = toksOf(Seq("alpha alpha epsilon", "gamma gamma gamma"))
    val t0 = toksOf(Seq("beta beta beta zeta", "alpha zeta"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cmsretract-spec").toString + "/store"
    Sketches.buildCmsStore(t1, "tok", depth = 4, width = 64, dir)
    Sketches.appendToCmsStore(t2, dir, batchId = Some("b2"))
    Sketches.appendToCmsStore(t0, dir, batchId = Some("b0"))
    Sketches.compactCmsStore(spark, dir) // b0 folded: parts gone
    intercept[IllegalStateException] {
      Sketches.dropBatchFromStore(spark, dir, "b0")
    }
    Sketches.retractFromCmsStore(t0, dir, batchId = Some("b0-r"))
    val cands = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "unseen")
    def probe() = Sketches.cmsEstimateFromStore(spark, dir, cands)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Sketches.cmsEstimate(
        Sketches.cmsSketch(t1.union(t2), "tok", 4, 64), cands, 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    probe() shouldBe want // exact cancellation, zeta and unseen at 0
    // the retraction id is exactly-once: a retry of the same id no-ops
    // (a second subtraction would drive cells negative)
    Sketches.retractFromCmsStore(t0, dir, batchId = Some("b0-r"))
    probe() shouldBe want
    // and the retraction survives a later compaction (sums fold to the
    // same cells)
    Sketches.compactCmsStore(spark, dir)
    probe() shouldBe want
    // histogram twin
    val h1 = (1L to 40L).toDF("v")
    val h0 = (100L to 140L).toDF("v")
    val hdir = java.nio.file.Files
      .createTempDirectory("graft-histretract-spec").toString + "/store"
    Sketches.buildHistStore(h1, Nil, "v", hdir)
    Sketches.appendToHistStore(h0, hdir, batchId = Some("b0"))
    Sketches.compactHistStore(spark, hdir)
    Sketches.retractFromHistStore(h0, hdir, batchId = Some("b0-r"))
    val qs = Seq(0.25, 0.5, 0.99)
    Sketches.histQuantilesFromStore(spark, hdir, qs).collect().toSet shouldBe
      Sketches.logHistQuantiles(h1, Nil, "v", qs).collect().toSet
  }

  // ---- driver-side metadata cache (StoreLayout.metaCache) -----------------

  /** Spark jobs started while `body` runs. The listener bus is async, so
    * the count is read once it has been stable for 300 ms.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      var (last, stable, waited) = (-1, 0, 0)
      while (stable < 3 && waited < 5000) {
        val cur = n.get
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(100)
        waited += 100
      }
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def tmpStore(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/store"

  test("warm store reads start no Spark job before their action; a warm " +
    "append starts only its write's jobs") {
    import graft.operators.Dedup
    val o = Tables.orders(spark, sf)
    val even = o.filter(F.pmod(F.col("o_orderkey"), F.lit(2L)) === 0)
    val odd = o.filter(F.pmod(F.col("o_orderkey"), F.lit(2L)) === 1)
    val hll = tmpStore("warm-hll")
    Sketches.buildHllStore(even, Seq("o_orderstatus"), "o_custkey", hll)
    Sketches.appendToHllStore(odd, hll, batchId = Some("b0"))
    val hist = tmpStore("warm-hist")
    Sketches.buildHistStore(even, Seq("o_orderstatus"), "o_totalprice", hist)
    // cold: params and schema are loaded; warm: both come from the cache
    val cold = Sketches.hllDistinctFromStore(spark, hll).collect().toSet
    val (warm, hllJobs) = jobsDuring(Sketches.hllDistinctFromStore(spark, hll))
    hllJobs shouldBe 0
    warm.collect().toSet shouldBe cold
    val qs = Seq(0.5, 0.9)
    val coldQ = Sketches.histQuantilesFromStore(spark, hist, qs).collect().toSet
    val (warmQ, histJobs) =
      jobsDuring(Sketches.histQuantilesFromStore(spark, hist, qs))
    histJobs shouldBe 0
    warmQ.collect().toSet shouldBe coldQ
    // the append's jobs are exactly those of writing its batch's sketch
    val (_, writeJobs) = jobsDuring(
      Sketches.hllSketch(odd, Seq("o_orderstatus"), "o_custkey")
        .write.parquet(tmpStore("warm-hll-ref")))
    val (_, appendJobs) =
      jobsDuring(Sketches.appendToHllStore(odd, hll, batchId = Some("b1")))
    appendJobs shouldBe writeJobs
    // the band-index gate's build phase: params and both tables' schemas
    val docs = Tables.documents(spark, sf)
    val band = tmpStore("warm-band")
    Dedup.saveBandIndex(docs.filter(F.col("doc_id") % 2 === 0), "doc_id",
      "text", band)
    val batch = docs.filter(F.col("doc_id") % 2 === 1)
    val coldGate = Dedup.dedupAgainstIndex(batch, "doc_id", "text", band)
      .select("doc_id").collect().toSet
    val (warmGate, gateJobs) =
      jobsDuring(Dedup.dedupAgainstIndex(batch, "doc_id", "text", band))
    gateJobs shouldBe 0
    warmGate.select("doc_id").collect().toSet shouldBe coldGate
  }

  test("metadata cache follows a rebuild at the same path: new params, " +
    "new schema, even where a data file name repeats") {
    val o = Tables.orders(spark, sf)
    val even = o.filter(F.pmod(F.col("o_orderkey"), F.lit(2L)) === 0)
    val odd = o.filter(F.pmod(F.col("o_orderkey"), F.lit(2L)) === 1)
    val dir = tmpStore("rebuild")
    // build (v1), append (v2), compact (v3): the folded part's name is
    // `compact-v00000003-p00000.parquet` on both builds below
    def buildFold(group: String): Unit = {
      Sketches.buildHllStore(even, Seq(group), "o_custkey", dir)
      Sketches.appendToHllStore(odd, dir)
      Sketches.compactHllStore(spark, dir)
    }
    def served = Sketches.hllDistinctFromStore(spark, dir)
    buildFold("o_orderstatus")
    served.schema("o_orderstatus").dataType shouldBe
      org.apache.spark.sql.types.StringType
    served.count() shouldBe 3
    buildFold("o_custkey")
    val (fs, p) = graft.operators.StoreLayout.fsFor(spark, dir)
    graft.operators.StoreLayout.currentManifest(fs, p).get._2 shouldBe
      Seq("compact-v00000003-p00000.parquet")
    val after = served
    after.columns should not contain "o_orderstatus"
    after.schema("o_custkey").dataType shouldBe
      org.apache.spark.sql.types.LongType
    after.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap shouldBe
      Sketches.hllDistinct(o, Seq("o_custkey"), "o_custkey")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("cached-schema store reads == a plain parquet read of the same " +
    "files, for every store kind and an IVF index") {
    import graft.operators.{Dedup, Similarity, StoreLayout}
    val o = Tables.orders(spark, sf)
    val docs = Tables.documents(spark, sf)
    val even = o.filter(F.pmod(F.col("o_orderkey"), F.lit(2L)) === 0)
    val odd = o.filter(F.pmod(F.col("o_orderkey"), F.lit(2L)) === 1)
    val toks = docs.select(F.explode(
      graft.operators.TextAnalysis.tokens(F.col("text"))).as("tok"))
    val kmv = tmpStore("diff-kmv")
    Sketches.buildKmvStore(even, Seq("o_orderstatus"), "o_custkey", 16, kmv)
    Sketches.appendToKmvStore(odd, kmv)
    val cms = tmpStore("diff-cms")
    Sketches.buildCmsStore(toks, "tok", 4, 256, cms)
    Sketches.appendToCmsStore(toks.limit(50), cms)
    val hll = tmpStore("diff-hll")
    Sketches.buildHllStore(even, Seq("o_orderstatus"), "o_custkey", hll)
    Sketches.appendToHllStore(odd, hll)
    val hist = tmpStore("diff-hist")
    Sketches.buildHistStore(even, Seq("o_orderstatus"), "o_totalprice", hist)
    Sketches.appendToHistStore(odd, hist)
    val band = tmpStore("diff-band")
    Dedup.saveBandIndex(docs, "doc_id", "text", band)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def same(got: org.apache.spark.sql.DataFrame,
        ref: org.apache.spark.sql.DataFrame): Unit = {
      got.schema shouldBe ref.schema
      rows(got) shouldBe rows(ref)
    }
    for (path <- Seq(kmv, cms, hll, hist, band, s"$band/_bands"))
      withClue(s"$path: ") {
        val (fs, p) = StoreLayout.fsFor(spark, path)
        val (ver, files) = StoreLayout.currentManifest(fs, p).get
        val ref = spark.read.parquet(files.map(n => s"$path/$n"): _*)
        // the second read of each face is served from the cached schema
        for (_ <- 1 to 2) {
          same(StoreLayout.readStore(spark, path), ref)
          same(StoreLayout.readStoreAt(spark, path, ver), ref)
        }
        if (ver > 1) {
          val v1 = StoreLayout.readManifestChecked(fs, p, 1L)
          same(StoreLayout.readStoreAt(spark, path, 1L),
            spark.read.parquet(v1.map(n => s"$path/$n"): _*))
        }
      }
    // the hive-partitioned IVF index keeps `__list` as its inferred int
    val emb = Tables.embeddings(spark, sf)
    val ivf = tmpStore("diff-ivf")
    Similarity.buildIvfIndex(emb.filter(F.col("vec_id") % 2 === 0),
      "vec_id", "embedding", ivf, nCentroids = 4)
    Similarity.appendToIvfIndex(emb.filter(F.col("vec_id") % 2 === 1),
      "vec_id", "embedding", ivf)
    val (fs, p) = StoreLayout.fsFor(spark, ivf)
    val (ver, files) = StoreLayout.currentManifest(fs, p).get
    val ref = spark.read.option("basePath", ivf)
      .parquet(files.map(n => s"$ivf/$n"): _*)
    ref.schema("__list").dataType shouldBe
      org.apache.spark.sql.types.IntegerType
    for (_ <- 1 to 2) {
      same(Similarity.readIndex(spark, ivf), ref)
      same(Similarity.readIndex(spark, ivf, Some(ver)), ref)
    }
  }
}
