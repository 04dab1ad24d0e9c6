package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.{functions => F}

import graft.operators.Selection

/** Tests for the data-selection operators (Selection.scala): deterministic
  * hash splits, token-budget caps (and the global-cap/window equivalence),
  * the Gopher rule battery, and DSIR importance weighting (exact-variant
  * enrichment + hashed-variant agreement — the exact variant itself is
  * oracle-checked by the driver via q_dsir).
  */
class SelectionSpec extends AnyFunSuite with Matchers {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def docs = Tables.documents(spark, sf)

  // ---- hashSplit -------------------------------------------------------

  test("hashSplit covers every row with near-exact fractions") {
    import spark.implicits._
    val n = 20000
    val df = (0 until n).toDF("id")
    val out = Selection.hashSplit(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.values.sum shouldBe n
    counts("train").toDouble / n shouldBe 0.8 +- 0.02
    counts("val").toDouble / n shouldBe 0.1 +- 0.02
    counts("test").toDouble / n shouldBe 0.1 +- 0.02
  }

  test("hashSplit assignment is partition-independent and salt-sensitive") {
    import spark.implicits._
    val df = (0 until 2000).toDF("id")
    def assign(d: org.apache.spark.sql.DataFrame, salt: String) =
      Selection.hashSplit(d, "id", Seq("a" -> 0.5, "b" -> 0.5), salt)
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val one = assign(df, "graft")
    val two = assign(df.repartition(13), "graft")
    one shouldBe two
    val other = assign(df, "other-salt")
    other should not be one // a re-salt reshuffles the assignment
  }

  test("hashSplit normalizes weights and rejects bad input") {
    import spark.implicits._
    val df = (0 until 100).toDF("id")
    // weights 8/1/1 == 0.8/0.1/0.1
    val a = Selection.hashSplit(df, "id",
      Seq("x" -> 8.0, "y" -> 1.0, "z" -> 1.0)).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val b = Selection.hashSplit(df, "id",
      Seq("x" -> 0.8, "y" -> 0.1, "z" -> 0.1)).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    a shouldBe b
    an[IllegalArgumentException] should be thrownBy
      Selection.hashSplit(df, "id", Seq.empty)
    an[IllegalArgumentException] should be thrownBy
      Selection.hashSplit(df, "id", Seq("a" -> 0.0))
  }

  // ---- token caps ------------------------------------------------------

  test("hashSplit: a cumulative bound rounding to 1.0 stays 8-hex-wide") {
    import spark.implicits._
    // regression: floor(1.0 * 2^32) rendered as NINE hex chars and the
    // fixed-width lexicographic compare misrouted ~15/16 of rows into
    // the ~zero-weight trailing split
    val df = (1L to 400L).toDF("id")
    val out = Selection.hashSplit(df, "id",
        Seq("train" -> 1.0, "tiny" -> 1e-12))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.getOrElse("train", 0L) shouldBe 400L
  }

  test("hashSplit: null keys get split NULL, never the last split") {
    import spark.implicits._
    // regression: md5(null||salt) is null, every threshold comparison is
    // null, and the otherwise-branch silently dumped all null-key rows
    // into the LAST split
    val df = Seq(Some(1L), Some(2L), None, None)
      .toDF("id")
    val out = Selection.hashSplit(df, "id", Seq("train" -> 0.9, "test" -> 0.1))
      .select("id", "split").collect()
    out.filter(_.isNullAt(0)).foreach(_.isNullAt(1) shouldBe true)
    out.filterNot(_.isNullAt(0)).foreach(r =>
      Set("train", "test") should contain(r.getString(1)))
  }

  test("capTokensPerGroup cuts each group at the budget, in order") {
    import spark.implicits._
    val df = Seq(
      ("s1", 1L, 40L), ("s1", 2L, 40L), ("s1", 3L, 40L), // cum 40, 80, 120
      ("s2", 1L, 90L), ("s2", 2L, 20L)                   // cum 90, 110
    ).toDF("src", "ord", "tok")
    val out = Selection.capTokensPerGroup(df, "src", "ord", F.col("tok"), 100L)
      .select("src", "ord", "cum_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    out shouldBe Set(("s1", 1L, 40L), ("s1", 2L, 80L), ("s2", 1L, 90L))
  }

  test("capTokensGlobal == one-group capTokensPerGroup (distributed prefix sum)") {
    import spark.implicits._
    val df = (0 until 5000).map { i =>
      (i.toLong, 1L + math.abs(i * 2654435761L % 97)) // deterministic "lengths"
    }.toDF("ord", "tok").repartition(16)
    val budget = 60000L
    val viaWindow = Selection
      .capTokensPerGroup(df.withColumn("g", F.lit(1)), "g", "ord", F.col("tok"), budget)
      .select("ord", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaGlobal = Selection.capTokensGlobal(df, "ord", F.col("tok"), budget, nBuckets = 32)
      .select("ord", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    viaGlobal shouldBe viaWindow
    viaGlobal.nonEmpty shouldBe true
    viaGlobal.size should be < 5000
  }

  test("capTokensGlobal with nBuckets=1 degenerates to the single window") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, 10L)).toDF("ord", "tok")
    val out = Selection.capTokensGlobal(df, "ord", F.col("tok"), 55L, nBuckets = 1)
      .select("ord").collect().map(_.getLong(0)).sorted
    out.toSeq shouldBe (0L until 5L)
  }

  // ---- Gopher rules ----------------------------------------------------

  val passText: String = // 60 plain words incl. stop words, no symbols
    (Seq("the", "report", "covers", "results", "that", "have", "been",
      "reviewed", "with", "care", "and", "details", "of") ++
      Seq.fill(47)("finding")).mkString(" ")

  def rules(text: String): Map[String, Boolean] = {
    import spark.implicits._
    val r = Selection.gopherRules(Seq((1L, text)).toDF("id", "text"), "text")
      .collect().head
    Seq("r_wc", "r_mwl", "r_symbol", "r_bullet", "r_ellipsis", "r_alpha",
      "r_stop", "gopher_pass").map(c => c -> r.getAs[Boolean](c)).toMap
  }

  test("gopher battery passes a plain healthy document") {
    val m = rules(passText)
    m.values.forall(identity) shouldBe true
  }

  test("gopher r_wc fails short documents") {
    val m = rules("too few words here")
    m("r_wc") shouldBe false
    m("gopher_pass") shouldBe false
  }

  test("gopher r_symbol fails hashtag spam; r_mwl fails long tokens") {
    val hashtags = passText.split(" ").map("#" + _).mkString(" ")
    rules(hashtags)("r_symbol") shouldBe false
    val longWords = Seq.fill(60)("antidisestablishmentarian").mkString(" ")
    rules(longWords)("r_mwl") shouldBe false
  }

  test("gopher r_bullet and r_ellipsis count line fractions") {
    val bullets = (1 to 10).map(i => s"- item $i of the list that we have with")
      .mkString("\n") + "\n" + passText
    rules(bullets)("r_bullet") shouldBe false
    val trailing = (1 to 7).map(_ => "the story continues...").mkString("\n") +
      "\n" + passText + "\n" + passText
    rules(trailing)("r_ellipsis") shouldBe false
  }

  test("gopher r_alpha fails numeric tables; r_stop fails stopword-free text") {
    val numbers = (1 to 60).map(_.toString).mkString(" ")
    val mNum = rules(numbers)
    mNum("r_alpha") shouldBe false
    val noStops = Seq.fill(60)("zebra quartz").mkString(" ")
    rules(noStops)("r_stop") shouldBe false
  }

  test("gopher rules on the corpus: per-rule pass rates are sane") {
    // The synthetic corpus (vocab of ~40 query-engine words, ~55 words/doc)
    // legitimately fails the full battery — only `the`/`a` from the 8-word
    // stop list occur, and ~half the docs sit below the 50-word floor. The
    // per-rule columns still must discriminate, not all-pass or all-fail
    // uniformly on rules the corpus genuinely varies on.
    val total = docs.count()
    val r = Selection.gopherRules(docs, "text")
    def passes(c: String) = r.filter(F.col(c)).count()
    passes("r_symbol") shouldBe total  // no #/… in the corpus
    passes("r_bullet") shouldBe total  // no bullet lines
    passes("r_alpha") shouldBe total   // all-word corpus
    val wc = passes("r_wc")
    wc should be > 0L
    wc should be < total               // the 50-word floor bites
    passes("r_stop") should be < total // 8-word stop list barely present
    Selection.gopherFilter(docs, "text").columns should not contain "r_wc"
  }

  test("gopher battery stays in whole-stage codegen: no HOF lambdas in the gate") {
    // HOF lambdas (ArrayFilter/ArrayAggregate/...) are CodegenFallback; the
    // gate is positioned as the cheap scan-side filter that runs before any
    // dedup shuffle, so its signals must execute inside codegen — the plan
    // must carry no lambdafunction anywhere, and the fused counter kernel
    // must evaluate exactly ONCE per row (attribute materialization)
    val q = Selection.gopherRules(docs.select(F.col("doc_id"), F.col("text")),
      "text").filter(F.col("gopher_pass"))
    val plan = q.queryExecution.executedPlan.toString
    plan should not include "lambdafunction"
    "gopher_stats".r.findAllIn(plan).size shouldBe 1
  }

  test("gopher kernel counters == per-line/per-word HOF battery, all rules") {
    // the fused kernel must reproduce the round-5 HOF formulation's rule
    // BOOLEANS bit-for-bit on the corpus (the DuckDB oracle replays the
    // HOF formulation, so kernel == HOF keeps q_gopher green)
    val text = F.col("text")
    val ws = F.filter(F.split(text, "\\s+"), w => F.length(w) > 0)
    val ls = F.split(text, "\n")
    def occurrences(needle: String) =
      ((F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) /
        needle.length).cast("double")
    val owc = F.size(ws).cast("double")
    val onl = F.size(ls).cast("double")
    val osym = occurrences("#") + occurrences("...") + occurrences("…")
    val obul = F.size(F.filter(ls, l => l.rlike("^\\s*[-*•]"))).cast("double")
    val oell = F.size(F.filter(ls, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double")
    val oalp = F.size(F.filter(ws, w => w.rlike("\\p{L}"))).cast("double")
    val omwl = F.when(owc > 0,
      F.aggregate(ws, F.lit(0L), (acc, w) => acc + F.length(w)).cast("double") / owc)
    val ostop = Selection.GopherStopwords
      .map(s => F.when(F.array_contains(
        graft.operators.TextAnalysis.tokens(text), s), 1).otherwise(0))
      .reduce(_ + _)
    import spark.implicits._
    val tricky = Seq(
      "  - indented bullet\n\n- after a blank line\nplain text here",
      "wait... what... ok...\n...\nthe end... \nplain",
      "1 22 333 #tag №½ x2 α-β the be to of",
      "- a\n- b\n- c\n   \n\t- tabbed\nnormal line with the and be",
      "... \n…\t\nno bullets at all, just the usual words to have",
      ". . .\nx....\n.…\n…. \nends…", // adjacency + mixed-ellipsis edges
      "#### that... have#with", "", " ", "\n\n\n", passText)
    val corpus = docs.select(F.col("text")).limit(200)
      .union(tricky.toDF("text"))
    val oldRules = corpus.select(
      (owc >= 50 && owc <= 100000).as("r_wc"),
      F.coalesce(omwl >= 3 && omwl <= 10, F.lit(false)).as("r_mwl"),
      F.when(owc > 0, osym / owc <= 0.1).otherwise(F.lit(false)).as("r_symbol"),
      F.when(onl > 0, obul / onl <= 0.1).otherwise(F.lit(true)).as("r_bullet"),
      F.when(onl > 0, oell / onl <= 0.3).otherwise(F.lit(true)).as("r_ellipsis"),
      F.when(owc > 0, oalp / owc >= 0.8).otherwise(F.lit(false)).as("r_alpha"),
      (ostop >= Selection.GopherMinStopHits).as("r_stop"))
      .collect().map(_.toSeq)
    val kernRules = Selection.gopherRules(corpus, "text")
      .select("r_wc", "r_mwl", "r_symbol", "r_bullet", "r_ellipsis",
        "r_alpha", "r_stop")
      .collect().map(_.toSeq)
    kernRules.toSeq shouldBe oldRules.toSeq
    // the kernel's embedded stop list must track the published one
    graft.functions.GopherStatsKernel.Stops.toSeq shouldBe
      Selection.GopherStopwords
  }

  test("whole-text gopher formulation == per-line/per-word HOF formulation") {
    import spark.implicits._
    // crafted texts that stress the (?m)/lookbehind equivalences: indented
    // and blank-line-preceded bullets, multiple ellipses per line, letterless
    // symbol words, consecutive bullet lines, trailing whitespace after '...'
    val tricky = Seq(
      "  - indented bullet\n\n- after a blank line\nplain text here",
      "wait... what... ok...\n...\nthe end... \nplain",
      "1 22 333 #tag №½ x2 α-β the be to of",
      "- a\n- b\n- c\n   \n\t- tabbed\nnormal line with the and be",
      "... \n…\t\nno bullets at all, just the usual words to have",
      "", " ", "\n\n\n", passText)
    val df = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    // the round-5 per-line/per-word HOF formulation, inlined as the baseline
    val text = F.col("text")
    val ws = F.filter(F.split(text, "\\s+"), w => F.length(w) > 0)
    val ls = F.split(text, "\n")
    val old = df
      .withColumn("o_wc", F.size(ws))
      .withColumn("o_wl", F.aggregate(ws, F.lit(0L), (acc, w) => acc + F.length(w)))
      .withColumn("o_bullet", F.size(F.filter(ls, l => l.rlike("^\\s*[-*•]"))))
      .withColumn("o_ellipsis",
        F.size(F.filter(ls, l => l.rlike("(\\.\\.\\.|…)\\s*$"))))
      .withColumn("o_alpha", F.size(F.filter(ws, w => w.rlike("\\p{L}"))))
      .select("id", "o_wc", "o_wl", "o_bullet", "o_ellipsis", "o_alpha")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    val lws = "[ \\t\\x0B\\f\\r]"
    val now = df
      .withColumn("n_wc", F.regexp_count(text, F.lit("\\S+")))
      .withColumn("n_wl", F.length(F.regexp_replace(text, "\\s+", "")).cast("long"))
      .withColumn("n_bullet", F.regexp_count(text, F.lit(s"(?m)^$lws*[-*•]")))
      .withColumn("n_ellipsis",
        F.regexp_count(text, F.lit(s"(?m)(\\.\\.\\.|…)$lws*$$")))
      .withColumn("n_alpha", F.regexp_count(text, F.lit("(?<!\\S)\\S*?\\p{L}")))
      .select("id", "n_wc", "n_wl", "n_bullet", "n_ellipsis", "n_alpha")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    now shouldBe old
    // stop-word membership: whole-text boundary-lookaround rlike must equal
    // array_contains over the shared tokenizer for every (text, stopword)
    val tokenized = df.select(F.col("id"),
      graft.operators.TextAnalysis.tokens(text).as("ts")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val viaRlike = Selection.GopherStopwords.map { s =>
      s -> df.select(F.col("id"), F.lower(text)
          .rlike(s"(?<![\\p{L}\\p{N}])${s}(?![\\p{L}\\p{N}])").as("hit"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    viaRlike.foreach { case (s, hits) =>
      hits.foreach { case (id, hit) =>
        assert(hit == tokenized(id).contains(s), s"stopword '$s' on text #$id")
      }
    }
  }

  // ---- DSIR ------------------------------------------------------------

  test("DSIR exact weights upweight target-like documents (fr target)") {
    val target = docs.filter(F.col("lang") === "fr")
    val w = Selection.dsirLogWeights(docs, target, "doc_id", "text", numBuckets = 0)
      .join(docs.select("doc_id", "lang"), "doc_id")
    val means = w.groupBy(F.col("lang") === "fr")
      .agg(F.avg("logw")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    means(true) should be > means(false) + 1.0 // clear separation, not noise
  }

  test("DSIR hashed weights agree with exact on ranking (fr enrichment survives)") {
    val target = docs.filter(F.col("lang") === "fr")
    val hashed = Selection
      .dsirLogWeights(docs, target, "doc_id", "text", numBuckets = 4096)
      .join(docs.select("doc_id", "lang"), "doc_id")
    val means = hashed.groupBy(F.col("lang") === "fr")
      .agg(F.avg("logw")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    means(true) should be > means(false)
  }

  test("dsirLogWeightsWithin matches two-frame form on null-id docs") {
    // a feature occurring ONLY in null-id docs: the two-frame form's
    // full-outer join coalesces its cr to 0; the Within form must
    // coalesce the guarded sum the same way (r18 review finding)
    import spark.implicits._
    val withNulls = Seq(
      (Some(1L), "alpha beta gamma", "fr"),
      (Some(2L), "alpha beta", "en"),
      (Option.empty[Long], "zulu yankee xray", "en") // null id, unique feats
    ).toDF("doc_id", "text", "lang")
    val two = Selection.dsirLogWeights(withNulls,
        withNulls.filter(F.col("lang") === "fr"), "doc_id", "text",
        numBuckets = 0)
      .collect().map(r => Option(r.get(0)) -> r.getDouble(1)).toMap
    val within = Selection.dsirLogWeightsWithin(withNulls, "doc_id", "text",
        F.col("lang") === "fr", numBuckets = 0)
      .collect().map(r => Option(r.get(0)) -> r.getDouble(1)).toMap
    within.keySet shouldBe two.keySet
    within.foreach { case (id, w) => w shouldBe two(id) +- 1e-12 }
  }

  test("dsirLogWeightsWithin == two-frame dsirLogWeights, row for row") {
    // the r18 single-scan same-corpus form must be result-invisible:
    // exact AND hashed flavors, and the Gumbel-top-k tail on top
    for (buckets <- Seq(0, 4096)) withClue(s"numBuckets=$buckets: ") {
      val two = Selection.dsirLogWeights(docs,
          docs.filter(F.col("lang") === "fr"), "doc_id", "text",
          numBuckets = buckets)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val within = Selection.dsirLogWeightsWithin(docs, "doc_id", "text",
          F.col("lang") === "fr", numBuckets = buckets)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      within.keySet shouldBe two.keySet
      within.foreach { case (id, w) => w shouldBe two(id) +- 1e-12 }
    }
    // same selected ids; weights/scores equal within ULP sum-order noise
    // (the per-doc feature sum accumulates in join-partition order, which
    // differs between the formulations — the same class of difference the
    // 6-decimal oracle rounding already tolerates between Spark and
    // DuckDB's own accumulation orders)
    val selTwo = Selection.dsirSelect(docs,
        docs.filter(F.col("lang") === "fr"), "doc_id", "text",
        k = 50, numBuckets = 0)
      .select("doc_id", "logw", "score").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val selWithin = Selection.dsirSelectWithin(docs, "doc_id", "text",
        F.col("lang") === "fr", k = 50, numBuckets = 0)
      .select("doc_id", "logw", "score").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    selWithin.keySet shouldBe selTwo.keySet
    selWithin.foreach { case (id, (w, sc)) =>
      w shouldBe selTwo(id)._1 +- 1e-9
      sc shouldBe selTwo(id)._2 +- 1e-9
    }
  }

  // ---- NB quality classifier -------------------------------------------

  /** Corpus with PLANTED class signal: positive docs mix marker words from
    * pool A into a shared vocabulary, negative docs mix pool B. (The
    * documents fixture is useless here: its text is one shared ~31-word
    * pool for every lang value, so no label generalizes to held-out docs —
    * held-out separation needs genuine signal.) Deterministic index
    * arithmetic, no RNG.
    */
  private lazy val nbCorpus = {
    import spark.implicits._
    val shared = Vector("the", "data", "table", "row", "value", "group")
    val posW = Vector("alpha", "bravo", "carbon", "delta") ++ shared
    val negW = Vector("xray", "yankee", "zulu", "omega") ++ shared
    (0L until 200L).map { id =>
      val pool = if (id % 2 == 0) posW else negW
      val text = (0 until 30)
        .map(i => pool(((id * 31 + i * 7) % pool.size).toInt))
        .mkString(" ")
      (id, text, id % 2 == 0)
    }.toDF("id", "text", "lab")
  }

  private def nbScores(numBuckets: Int): Map[Long, (Boolean, Double)] =
    Selection.nbClassifierScore(
        nbCorpus.filter(F.col("id") < 160),
        nbCorpus.filter(F.col("id") >= 160),
        "id", "text", "lab", numBuckets = numBuckets)
      .join(nbCorpus.select("id", "lab"), "id")
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getDouble(1))).toMap

  test("NB classifier separates planted classes on held-out docs (exact)") {
    val scored = nbScores(numBuckets = 0)
    scored.size shouldBe 40
    val (pos, neg) = scored.values.partition(_._1)
    val meanPos = pos.map(_._2).sum / pos.size
    val meanNeg = neg.map(_._2).sum / neg.size
    meanPos should be > meanNeg + 5.0 // planted markers: decisive margin
    // and every held-out doc individually lands on the right side
    pos.map(_._2).min should be > neg.map(_._2).max
  }

  test("nbClassifierScoreWithin == two-frame nbClassifierScore, row for " +
    "row (exact, hashed, md5), incl. null ids and null labels") {
    import spark.implicits._
    def within(buckets: Int, hashFn: String = "xxhash64") =
      Selection.nbClassifierScoreWithin(nbCorpus, "id", "text",
          trainCond = F.col("id") < 160, labelCond = F.col("lab"),
          scoreCond = F.col("id") >= 160, numBuckets = buckets,
          hashFn = hashFn)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (buckets <- Seq(0, 1 << 20)) withClue(s"numBuckets=$buckets: ") {
      val two = Selection.nbClassifierScore(
          nbCorpus.filter(F.col("id") < 160),
          nbCorpus.filter(F.col("id") >= 160),
          "id", "text", "lab", numBuckets = buckets)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val w = within(buckets)
      w.keySet shouldBe two.keySet
      // ULP sum-order tolerance: the per-doc feature sum accumulates in
      // join-partition order, which can differ between the formulations —
      // the same class the 6-decimal oracle rounding absorbs
      w.foreach { case (id, sc) => sc shouldBe two(id) +- 1e-9 }
    }
    withClue("md5 flavor: ") {
      val twoMd5 = Selection.nbClassifierScore(
          nbCorpus.filter(F.col("id") < 160),
          nbCorpus.filter(F.col("id") >= 160),
          "id", "text", "lab", numBuckets = 1 << 16, hashFn = "md5")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val w = within(1 << 16, hashFn = "md5")
      w.keySet shouldBe twoMd5.keySet
      w.foreach { case (id, sc) => sc shouldBe twoMd5(id) +- 1e-9 }
    }
    // null-id docs, outside the training split and inside it (the
    // null-id doc carries the only training "zulu", which a scored doc
    // holds), and null LABELS (count to neither class but the doc still
    // counts in the prior denominator guard shape) must agree between
    // the forms
    val withNulls = Seq(
      (Some(1L), "alpha beta gamma data", Some(true)),
      (Some(2L), "alpha data table", Some(false)),
      (Some(3L), "beta gamma table row", Option.empty[Boolean]), // null lab
      (Option.empty[Long], "zulu yankee xray", Some(true)),      // null id
      (Some(160L), "alpha beta zulu", Some(true)),
      (Some(161L), "data table omega", Some(false)))
      .toDF("id", "text", "lab")
    for (train <- Seq(F.col("id") < 160,
        F.col("id").isNull || F.col("id") < 160))
      withClue(s"trainCond $train: ") {
        val twoN = Selection.nbClassifierScore(withNulls.filter(train),
            withNulls.filter(F.col("id") >= 160),
            "id", "text", "lab", numBuckets = 0)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val wN = Selection.nbClassifierScoreWithin(withNulls, "id", "text",
            trainCond = train, labelCond = F.col("lab"),
            scoreCond = F.col("id") >= 160, numBuckets = 0)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        wN.keySet shouldBe Set(160L, 161L)
        wN.keySet shouldBe twoN.keySet
        wN.foreach { case (id, sc) => sc shouldBe twoN(id) +- 1e-12 }
      }
  }

  /** nbCorpus plus hostile rows: null ids (in both splits), ids that
    * repeat a training and a scored doc, empty and whitespace-only text,
    * and null labels.
    */
  private lazy val hostileNb = {
    import spark.implicits._
    nbCorpus.select(F.col("id").cast("long"), F.col("text"),
        F.col("lab").cast("boolean"))
      .unionByName(Seq(
        (Option.empty[Long], "alpha zulu data", Some(true)),
        (Option.empty[Long], "xray table xray", Some(false)),
        (Some(5L), "omega zulu omega", Some(false)),
        (Some(170L), "alpha alpha bravo", Some(true)),
        (Some(300L), "", Some(true)),
        (Some(301L), " \t  ", Option.empty[Boolean]),
        (Some(302L), "alpha beta row", Option.empty[Boolean]))
        .toDF("id", "text", "lab"))
  }

  /** The NB score as the per-document tf formulation computes it: a
    * per-(doc, feature) tf aggregate on each side, class counts as
    * sum(tf) per feature, and score(d) = prior + sum_f tf_d(f) * llr(f),
    * evaluated on the driver from the collected tf rows. Keys are the
    * scored ids (None for the null-id group).
    */
  private def nbTfReference(train: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, numBuckets: Int,
      hashFn: String): Map[Option[Long], Double] = {
    def tf(df: org.apache.spark.sql.DataFrame, carry: Seq[String]) =
      Selection.docFeatureRows(df, "id", "text", numBuckets, carry, hashFn)
        .groupBy(("id" +: carry :+ "feat").map(F.col): _*)
        .agg(F.count(F.lit(1)).as("n"))
    val counts = tf(train, Seq("lab")).collect().toSeq
      .groupBy(_.get(2))
      .map { case (feat, rows) =>
        def sumIf(lab: Boolean) = rows.filter(r => !r.isNullAt(1) &&
          r.getBoolean(1) == lab).map(_.getLong(3)).sum.toDouble
        feat -> (sumIf(true), sumIf(false))
      }
    val s = 1.0
    val tp = counts.values.map(_._1).sum
    val tn = counts.values.map(_._2).sum
    val v = counts.size.toDouble
    val labels = train.select("lab").collect().toSeq
    val np = labels.count(r => !r.isNullAt(0) && r.getBoolean(0)).toDouble
    val nn = labels.count(r => !r.isNullAt(0) && !r.getBoolean(0)).toDouble
    val llr = counts.map { case (f, (cp, cn)) =>
      f -> (math.log((cp + s) / (tp + s * v)) - math.log((cn + s) / (tn + s * v)))
    }
    val unseen = math.log(tn + s * v) - math.log(tp + s * v)
    val prior = math.log((np + s) / (nn + s))
    tf(score, Nil).collect().toSeq
      .groupBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .map { case (id, rows) =>
        id -> (prior + rows.map(r => r.getLong(2) * llr.getOrElse(r.get(1), unseen)).sum)
      }
  }

  test("every NB path == the per-document tf reference (xxhash64, md5, " +
    "exact; null and duplicate ids, empty text, overlapping splits)") {
    val trainCond = F.col("id").isNull || F.col("id") < 160 || F.col("id") >= 300
    val scoreCond = F.col("id").isNull || F.col("id") >= 150
    val train = hostileNb.filter(trainCond)
    val score = hostileNb.filter(scoreCond)
    def keyed(df: org.apache.spark.sql.DataFrame): Map[Option[Long], Double] =
      df.collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getDouble(1)).toMap
    def close(got: Double, ref: Double): Boolean =
      math.abs(got - ref) <= 1e-9 * math.max(1.0, math.max(math.abs(got), math.abs(ref)))
    def same(got: Map[Option[Long], Double], ref: Map[Option[Long], Double]) = {
      got.keySet shouldBe ref.keySet
      ref.foreach { case (id, r) =>
        withClue(s"id $id: got ${got(id)}, reference $r: ") {
          close(got(id), r) shouldBe true
        }
      }
    }
    for ((buckets, hashFn) <- Seq(0 -> "xxhash64", 4096 -> "xxhash64",
        4096 -> "md5")) withClue(s"numBuckets=$buckets $hashFn: ") {
      val ref = nbTfReference(train, score, buckets, hashFn)
      // scored docs: ids 150.. and the null-id group; 300 and 301 have no
      // tokens and drop
      ref.keySet shouldBe ((150L to 199L) ++ Seq(302L)).map(Option(_)).toSet + None
      same(keyed(Selection.nbClassifierScoreWithin(hostileNb, "id", "text",
        trainCond, F.col("lab"), scoreCond, numBuckets = buckets,
        hashFn = hashFn)), ref)
      same(keyed(Selection.nbClassifierScore(train, score, "id", "text",
        "lab", numBuckets = buckets, hashFn = hashFn)), ref)
      if (hashFn == "xxhash64") { // saveNbModel fits the xxhash64 flavor
        val dir = java.nio.file.Files
          .createTempDirectory("graft-nbref").toString + "/model"
        Selection.saveNbModel(train, "id", "text", "lab", dir,
          numBuckets = buckets)
        same(keyed(Selection.scoreWithNbModel(spark, dir, score, "id",
          "text")), ref)
      }
    }
  }

  test("NB hashed model reproduces exact scores at collision-free width") {
    // ~120 distinct features into 2^20 buckets: no collisions (verified —
    // xxhash64 is fixed, so this stays deterministic), hence identical
    // counts/llr and score differences down at float-reassociation level
    val exact = nbScores(numBuckets = 0)
    val hashed = nbScores(numBuckets = 1 << 20)
    hashed.keySet shouldBe exact.keySet
    exact.foreach { case (id, (_, s)) =>
      hashed(id)._2 shouldBe s +- 1e-9
    }
  }

  test("md5 bucket flavor == kernel flavor semantics (DSIR + NB)") {
    // the md5 flavor exists so the registry's hashed twins replay in
    // DuckDB; it must be a FLAVOR of the same operator, not a different
    // one: at collision-free width both reproduce the exact-feature
    // scores, differing only in which bucket a feature lands in
    val exact = nbScores(numBuckets = 0)
    val md5Scores = Selection.nbClassifierScore(
        nbCorpus.filter(F.col("id") < 160),
        nbCorpus.filter(F.col("id") >= 160),
        "id", "text", "lab", numBuckets = 1 << 20, hashFn = "md5")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    md5Scores.keySet shouldBe exact.keySet
    exact.foreach { case (id, (_, s)) => md5Scores(id) shouldBe s +- 1e-9 }
    // DSIR: md5 flavor at collision-free width == exact weights
    val target = docs.filter(F.col("lang") === "fr")
    val exactW = Selection
      .dsirLogWeights(docs, target, "doc_id", "text", numBuckets = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val md5W = Selection
      .dsirLogWeights(docs, target, "doc_id", "text",
        numBuckets = 1 << 26, hashFn = "md5")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    md5W.keySet shouldBe exactW.keySet
    exactW.foreach { case (id, w) => md5W(id) shouldBe w +- 1e-6 }
    // an unknown flavor errors instead of silently hashing differently
    an[Exception] should be thrownBy
      Selection.dsirLogWeights(docs, target, "doc_id", "text",
        numBuckets = 4096, hashFn = "sha1")
  }

  test("gram_strings kernel == tokenize/zip/concat formulation, string-identical") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "Über ätze CASE case"),
      (3L, "solo"), (4L, "..."), (5L, "a b a b a"))
      .toDF("id", "text")
      .unionByName(Tables.documents(spark, sf)
        .select(F.col("doc_id").as("id"), F.col("text")).limit(100))
    graft.plans.GraftExtensions.register(spark)
    def kernelGrams(n: Int) = df.select(F.col("id"),
        graft.plans.GraftExtensions.callNative("gram_strings",
          F.col("text"), F.lit(n)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // composed references, per n
    val ts = graft.operators.TextAnalysis.tokens(F.col("text"))
    val composed1 = df.select(F.col("id"), ts.as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    kernelGrams(1) shouldBe composed1
    val big = F.when(F.size(ts) >= 2,
      F.zip_with(F.slice(ts, F.lit(1), F.size(ts) - 1),
        F.slice(ts, F.lit(2), F.size(ts) - 1),
        (a, b) => F.concat(a, F.lit(" "), b)))
      .otherwise(F.array().cast("array<string>"))
    val composed2 = df.select(F.col("id"), big.as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    kernelGrams(2) shouldBe composed2
  }

  test("md5_gram_hashes kernel == pmod(md5(gram string)) buckets, byte-identical") {
    // the md5 buckets are what the DuckDB oracles rebuild from the gram
    // STRINGS — the fused kernel must reproduce them exactly, per doc,
    // multiplicities included (unicode, repeats, single-token and
    // token-less rows covered)
    import spark.implicits._
    val b = 1 << 16
    val df = Seq((1L, "alpha beta alpha beta gamma"),
      (2L, "Ünïcode tökens überall"), (3L, "solo"), (4L, "!!!"),
      (5L, "case CASE Case mixed"))
      .toDF("id", "text")
      .unionByName(Tables.documents(spark, sf)
        .select(F.col("doc_id").as("id"), F.col("text")).limit(200))
    val viaKernel = Selection.docFeatureRows(df, "id", "text",
        numBuckets = b, hashFn = "md5")
      .groupBy("id", "feat").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // replicate the oracle derivation: exact gram strings -> md5 prefix
    // -> pmod, per occurrence
    val viaStrings = Selection.docFeatureRows(df, "id", "text",
        numBuckets = 0)
      .collect()
      .map(r => (r.getLong(0),
        Math.floorMod(graft.plans.Hygiene.md5Prefix32Jvm(r.getString(1)),
          b.toLong)))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    viaKernel shouldBe viaStrings
  }

  test("persisted NB model reproduces the in-plan classifier scores") {
    val expected = nbScores(numBuckets = 0)
    // exact flavor round-trip
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nbmodel").toString + "/model"
    Selection.saveNbModel(nbCorpus.filter(F.col("id") < 160),
      "id", "text", "lab", dir, numBuckets = 0)
    val got = Selection.scoreWithNbModel(spark, dir,
        nbCorpus.filter(F.col("id") >= 160), "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.keySet shouldBe expected.keySet
    expected.foreach { case (id, (_, s)) => got(id) shouldBe s +- 1e-9 }
    // the artifact is self-describing: a model saved hashed must drive the
    // hashed feature plan on load (collision-free width -> same scores)
    val dirH = java.nio.file.Files
      .createTempDirectory("graft-nbmodelh").toString + "/model"
    Selection.saveNbModel(nbCorpus.filter(F.col("id") < 160),
      "id", "text", "lab", dirH, numBuckets = 1 << 20)
    val gotH = Selection.scoreWithNbModel(spark, dirH,
        nbCorpus.filter(F.col("id") >= 160), "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    expected.foreach { case (id, (_, s)) => gotH(id) shouldBe s +- 1e-9 }
  }

  test("NB model overwritten at the same path: scoring follows the new " +
    "model, not a cached sidecar row") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nbmodel-over").toString + "/model"
    def save(numBuckets: Int): Unit =
      Selection.saveNbModel(nbCorpus.filter(F.col("id") < 160),
        "id", "text", "lab", dir, numBuckets = numBuckets)
    def score(): Map[Long, Double] =
      Selection.scoreWithNbModel(spark, dir,
          nbCorpus.filter(F.col("id") >= 160), "id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    save(numBuckets = 0)
    val exact = nbScores(numBuckets = 0)
    score().foreach { case (id, s) => s shouldBe exact(id)._2 +- 1e-9 }
    // 16 buckets: colliding features, so the scores really change
    save(numBuckets = 16)
    val narrow = nbScores(numBuckets = 16)
    narrow.exists { case (id, (_, s)) => math.abs(s - exact(id)._2) > 1e-6 } shouldBe true
    val got = score()
    got.keySet shouldBe narrow.keySet
    narrow.foreach { case (id, (_, s)) => got(id) shouldBe s +- 1e-9 }
  }

  test("streaming NB scoring == batch scoring (end-to-end readStream)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nbstream").toString
    Selection.saveNbModel(nbCorpus.filter(F.col("id") < 160),
      "id", "text", "lab", s"$dir/model", numBuckets = 0)
    val scoreDocs = nbCorpus.filter(F.col("id") >= 160)
      .withColumn("ts", F.lit("2026-01-01 00:00:00").cast("timestamp"))
    scoreDocs.write.mode("overwrite").parquet(s"$dir/docs")
    val stream = spark.readStream.schema(scoreDocs.schema)
      .parquet(s"$dir/docs")
    val q = Selection.scoreStreamWithNbModel(spark, s"$dir/model",
        stream, "id", "text", "ts", width = "1 day")
      .writeStream.format("memory").queryName("nb_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("nb_stream").collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val batch = Selection.scoreWithNbModel(spark, s"$dir/model",
        scoreDocs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.keySet shouldBe batch.keySet
    batch.foreach { case (id, s) => got(id) shouldBe s +- 1e-9 }
  }

  test("NB classifier handles novel vocabulary: prior + n * unseen-ratio") {
    import spark.implicits._
    // train vocab: {good, fine, bad, poor} + bigrams; the scored doc
    // shares none of it, so its score must be exactly
    //   prior + n_features * unseenLlr
    // and the classes are symmetric — tp=tn=5 (3 uni + 2 bi occurrences
    // per class), v=8 (4 distinct feats per class), np=nn=1, s=1 — so
    // prior = ln(2/2) = 0 and unseen = ln(13)-ln(13) = 0.
    val labeled = Seq((1L, "good fine good", true), (2L, "bad poor bad", false))
      .toDF("id", "text", "lab")
    val scored = Selection.nbClassifierScore(labeled,
      Seq((9L, "novel words only")).toDF("id", "text"),
      "id", "text", "lab", numBuckets = 0)
    val rows = scored.collect()
    rows.length shouldBe 1
    rows.head.getDouble(1) shouldBe 0.0 +- 1e-12
    // and an empty-text scored doc drops (no tokens -> no features)
    Selection.nbClassifierScore(labeled,
        Seq((9L, "")).toDF("id", "text"), "id", "text", "lab",
        numBuckets = 0)
      .count() shouldBe 0L
  }

  test("dsirSelect is deterministic per seed and enriches the target share") {
    val target = docs.filter(F.col("lang") === "fr")
    def pick(seed: Long) = Selection
      .dsirSelect(docs, target, "doc_id", "text", k = 50,
        numBuckets = 4096, seed = seed)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val one = pick(7L)
    pick(7L) shouldBe one
    val frIds = target.select("doc_id").collect().map(_.getLong(0)).toSet
    val corpusShare = frIds.size.toDouble / docs.count()
    val pickedShare = one.count(frIds).toDouble / one.size
    pickedShare should be > corpusShare // resample shifts toward the target
  }
}
