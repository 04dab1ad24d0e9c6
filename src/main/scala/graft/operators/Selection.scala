package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Data-selection operators for training-corpus assembly (extension scope,
  * SURVEY.md §7.2 M8): deterministic corpus splits, token-budget caps, the
  * MassiveText/Gopher quality-rule battery (Rae et al. 2021, "Scaling
  * Language Models: Methods, Analysis & Insights from Training Gopher",
  * appendix A1.1), and DSIR importance resampling (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling").
  *
  * Everything is column expressions + standard shuffles — no UDF, no
  * driver-side data collects (the only collects are bounded by
  * construction and documented at the call site).
  */
object Selection {

  // ---------------------------------------------------------------- split

  /** Deterministic train/val/test (or any weighted) split: assigns each
    * row a split name from the first 8 hex chars of `md5(key || salt)`
    * compared against cumulative-weight thresholds rendered as fixed-width
    * lowercase hex. A pure projection — no shuffle, no rand() (so the
    * assignment is reproducible across runs, partitionings and engines:
    * the same row lands in the same split everywhere, which is what makes
    * held-out sets trustworthy). Lexicographic comparison of fixed-width
    * lowercase hex equals numeric comparison, so the split fractions are
    * exact to 1/2^32.
    *
    * `weights` need not sum exactly to 1 — they are normalized. The last
    * split takes the residual mass so every row is assigned.
    */
  def hashSplit(df: DataFrame, keyCol: String,
      weights: Seq[(String, Double)], salt: String = "graft"): DataFrame = {
    require(weights.nonEmpty, "need at least one split")
    require(weights.forall(_._2 > 0), s"weights must be positive: $weights")
    val total = weights.map(_._2).sum
    val cum = weights.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val prefix = F.substring(
      F.md5(F.concat(F.col(keyCol).cast("string"), F.lit(salt))), 1, 8)
    // thresholds BETWEEN splits: floor(cumFrac * 2^32) as 8-char hex
    // clamp to 2^32 - 1: a cumulative fraction that rounds to 1.0 in
    // double would floor to 2^32, render as NINE hex chars and break the
    // fixed-8-char lexicographic comparison (misrouting ~15/16 of rows)
    val bounds = cum.init.map(c => f"${
      math.min(math.floor(c * 4294967296.0).toLong, 4294967295L)}%08x")
    val assigned = bounds.zip(weights.map(_._1)).foldLeft(Option.empty[Column]) {
      case (acc, (hex, name)) =>
        val cond = prefix < F.lit(hex)
        Some(acc.fold(F.when(cond, name))(_.when(cond, name)))
    }
    val splitCol = assigned.fold(F.lit(weights.head._1))(_.otherwise(weights.last._1))
    // NULL keys: concat/md5 of a null key is null, every threshold
    // comparison is null, and the otherwise-branch would silently dump
    // ALL null-key rows into the LAST split (a skewed, degenerate
    // held-out set). They get split = NULL instead — observable, excluded
    // from every named split, and the caller decides
    df.withColumn("split",
      F.when(F.col(keyCol).isNull, F.lit(null).cast("string"))
        .otherwise(splitCol))
  }

  // ----------------------------------------------------------- token caps

  /** Keep rows, in `orderCol` order within each `groupCol` group, while the
    * group's running token total stays within `budget` — the per-source
    * token cap used when assembling a mixture to a fixed token budget.
    * `orderCol` must be unique within a group (it defines which documents
    * make the cut — typically a quality rank or a [[hashSplit]]-style hash
    * for an unbiased cap).
    *
    * SCALE: one shuffle on `groupCol`; each group's cumulative sum runs in
    * ONE task (a window over the group). That is the right shape when
    * groups are sources/datasets (thousands of groups, bounded skew); for
    * a cap over ONE giant group use [[capTokensGlobal]], which range-splits
    * the prefix sum. Returns the input columns plus `cum_tokens`.
    */
  def capTokensPerGroup(df: DataFrame, groupCol: String, orderCol: String,
      tokCol: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", F.sum(tokCol).over(w))
      .filter(F.col("cum_tokens") <= budget)
  }

  /** Global token-budget cap — same semantics as a one-group
    * [[capTokensPerGroup]] (take rows in `orderCol` order until `budget`
    * tokens), but the prefix sum is DISTRIBUTED: rows are bucketed by
    * driver-collected approximate quantiles of `orderCol` (a bounded
    * collect: `nBuckets` doubles, never data), each bucket's cumulative
    * sum runs as its own window task in parallel, and bucket offsets come
    * from a second tiny window over the `nBuckets`-row bucket-total
    * aggregate. No global single-task window at any size; the equivalence
    * to the one-group window is test-pinned.
    *
    * `orderCol` must be numeric and unique (it defines the priority
    * order). Returns the input columns plus `cum_tokens`.
    */
  def capTokensGlobal(df: DataFrame, orderCol: String, tokCol: Column,
      budget: Long, nBuckets: Int = 256): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val probes = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bounds = // bounded driver collect: nBuckets-1 doubles
      if (probes.isEmpty) Array.empty[Double]
      else df.stat.approxQuantile(orderCol, probes, 0.001)
    val bucket = bounds.foldLeft(F.lit(0)) { (acc, b) =>
      acc + F.when(F.col(orderCol).cast("double") > b, 1).otherwise(0)
    }
    val bucketed = df.withColumn("__b", bucket)
    val inBucket = Window.partitionBy("__b").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = bucketed.withColumn("__cum_local", F.sum(tokCol).over(inBucket))
    val offsets = bucketed.groupBy("__b")
      .agg(F.sum(tokCol).as("__bt"))
      .withColumn("__off",
        F.coalesce(
          F.sum("__bt").over(
            Window.orderBy("__b")
              .rowsBetween(Window.unboundedPreceding, -1)),
          F.lit(0L)))
      .select("__b", "__off")
    withLocal
      .join(F.broadcast(offsets), "__b") // nBuckets rows — bounded
      .withColumn("cum_tokens", F.col("__cum_local") + F.col("__off"))
      .filter(F.col("cum_tokens") <= budget)
      .drop("__b", "__cum_local", "__off")
  }

  // --------------------------------------------------------- Gopher rules

  /** The 8 Gopher stop words (Rae et al. 2021 A1.1): a document must
    * contain at least [[GopherMinStopHits]] of them. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  /** MassiveText/Gopher quality-rule battery (Rae et al. 2021, A1.1) as
    * one pure projection: per-rule booleans plus the combined
    * `gopher_pass`. Words here are WHITESPACE-split raw words (punctuation
    * kept — the rules reason about symbols inside words), computed once to
    * an attribute; stop-word hits use the lowercased alnum tokenizer
    * ([[TextAnalysis.tokens]]) so "The," still counts. Rules:
    *
    *  - `r_wc`:       50 <= word count <= 100000
    *  - `r_mwl`:      3 <= mean word length <= 10
    *  - `r_symbol`:   ('#' count + '...'/'…' count) / words <= 0.1
    *  - `r_bullet`:   <= 10% of lines start with a bullet (-, *, •)
    *  - `r_ellipsis`: <= 30% of lines end with '...' or '…'
    *  - `r_alpha`:    >= 80% of words contain a letter
    *  - `r_stop`:     >= 2 of the 8 stop words present
    *
    * SCALE: no shuffle — the battery is a scan-side filter; at 100 TB this
    * is the cheap first gate that runs before any dedup shuffle (compose
    * via `.filter(col("gopher_pass"))`). All ten signals come from ONE
    * fused native kernel pass over the raw text
    * ([[graft.functions.GopherStats]] — a single character scan, no regex
    * engine, inside whole-stage codegen), materialized to an attribute so
    * the kernel evaluates once per row. The alternatives both lose:
    * per-line/per-word HOF lambdas are CodegenFallback (interpreted
    * regexes), and whole-text `regexp_count`/`rlike` formulations stay in
    * codegen but run ~11 separate regex scans per row (measured 1.7× the
    * HOF version). Kernel-once + no-lambdafunction are plan-pinned, and
    * the kernel's counters are equivalence-tested against both regex
    * formulations in SelectionSpec.
    */
  def gopherRules(df: DataFrame, textCol: String): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    // attribute materialization behind a Generate barrier: every rule
    // reads the SAME kernel output (a bare withColumn gets inlined into
    // all ~26 rule references by CollapseProject — Hygiene.attributeBarrier
    // pins exactly one evaluation; plan-pinned in SelectionSpec)
    val inner = df.withColumn("__g", graft.plans.Hygiene.attributeBarrier(
      graft.plans.GraftExtensions.callNative("gopher_stats", F.col(textCol))))
    def g(i: Int): Column = F.get(F.col("__g"), F.lit(i)).cast("double")
    val wc = g(0)
    val nl = g(2)
    val symbolCount = g(6) + g(7) + g(8)
    val bulletLines = g(3)
    val ellipsisLines = g(4)
    val alphaWords = g(5)
    val meanWl = F.when(wc > 0, g(1) / wc)
    val stopHits = g(9)
    inner
      .withColumn("r_wc", wc >= 50 && wc <= 100000)
      .withColumn("r_mwl", F.coalesce(meanWl >= 3 && meanWl <= 10, F.lit(false)))
      .withColumn("r_symbol", F.when(wc > 0, symbolCount / wc <= 0.1).otherwise(F.lit(false)))
      .withColumn("r_bullet", F.when(nl > 0, bulletLines / nl <= 0.1).otherwise(F.lit(true)))
      .withColumn("r_ellipsis", F.when(nl > 0, ellipsisLines / nl <= 0.3).otherwise(F.lit(true)))
      .withColumn("r_alpha", F.when(wc > 0, alphaWords / wc >= 0.8).otherwise(F.lit(false)))
      .withColumn("r_stop", stopHits >= GopherMinStopHits)
      .withColumn("gopher_pass",
        F.col("r_wc") && F.col("r_mwl") && F.col("r_symbol") && F.col("r_bullet") &&
          F.col("r_ellipsis") && F.col("r_alpha") && F.col("r_stop"))
      .drop("__g")
  }

  /** Rows passing the full Gopher battery. */
  def gopherFilter(df: DataFrame, textCol: String): DataFrame = {
    val ruleCols = Seq("r_wc", "r_mwl", "r_symbol", "r_bullet", "r_ellipsis",
      "r_alpha", "r_stop", "gopher_pass")
    gopherRules(df, textCol).filter(F.col("gopher_pass")).drop(ruleCols: _*)
  }

  // ----------------------------------------------------------------- DSIR

  /** (doc id, feature, multiplicity) for the DSIR feature space: unigrams
    * + bigrams of the shared tokenizer. With `numBuckets > 0` features are
    * hashed into that many buckets (the paper's hashed n-gram features —
    * fixed-size model regardless of vocabulary, the 100 TB shape) via the
    * fused `shingle_hashes_all` kernel (positional 1-gram ∪ 2-gram hashes,
    * multiplicities kept, one codegen call per n), or — with
    * `hashFn = "md5"` — via an md5-prefix bucket over the n-gram string,
    * the engine-replayable flavor the registry's hashed twins use so the
    * DuckDB oracle can rebuild the same buckets; with `numBuckets = 0`
    * raw n-gram strings are kept, tokenized once to an attribute (bigram
    * strings contain a space so the families cannot collide) — the
    * oracle-expressible exact variant the hashed ones are test-pinned
    * against.
    */
  private def docFeatures(df: DataFrame, idCol: String, textCol: String,
      numBuckets: Int, carry: Seq[String] = Nil,
      hashFn: String = "xxhash64"): DataFrame = {
    val keep = (idCol +: carry).map(F.col)
    docFeatureRows(df, idCol, textCol, numBuckets, carry, hashFn)
      .groupBy(keep :+ F.col("feat"): _*).agg(F.count(F.lit(1)).as("n"))
  }

  /** Pre-aggregation face of [[docFeatures]]: one row per feature
    * OCCURRENCE (no per-doc tf collapse). Every NB path reads this shape:
    * sums over occurrences equal sums over (feat, tf) pairs by
    * associativity, so consumers re-aggregate at whatever key they need
    * without a doc-keyed exchange, and a STREAMING consumer stays
    * stateless (a `groupBy` here would be a second stateful aggregation).
    */
  private[graft] def docFeatureRows(df: DataFrame, idCol: String,
      textCol: String, numBuckets: Int,
      carry: Seq[String] = Nil, hashFn: String = "xxhash64"): DataFrame = {
    require(hashFn == "xxhash64" || hashFn == "md5",
      s"hashFn must be xxhash64 or md5, got $hashFn")
    val keep = (idCol +: carry).map(F.col)
    // exact n-gram STRINGS — the oracle-expressible base the
    // numBuckets = 0 flavor joins on, via the gram_strings kernel
    // (unigrams then bigrams, one call each per row; the former
    // tokenize + zip_with/concat chain ran interpreted under the
    // Generate — identical strings, pinned in SelectionSpec)
    def stringFeats: DataFrame = {
      graft.plans.GraftExtensions.register(df.sparkSession)
      def grams(n: Int) = graft.plans.GraftExtensions
        .callNative("gram_strings", F.col(textCol), F.lit(n))
      df.select(keep :+ F.concat(grams(1), grams(2)).as("__fs"): _*)
        .select(keep :+
          graft.plans.Hygiene.explodeNonEmpty(F.col("__fs")).as("feat"): _*)
    }
    val keyed =
      if (numBuckets > 0) {
        // fused native path, one body for both hash flavors (they differ
        // ONLY in the kernel): the hashed unigram+bigram feature bag is
        // the union of positional 1-gram and 2-gram hashes — two
        // codegen'd kernel calls per row, multiplicities kept, no
        // Spark-side tokenizer/zip/concat chain (which runs its
        // per-element lambdas interpreted under Generate). xxhash64
        // (`shingle_hashes_all`) is the hot path; md5
        // (`md5_gram_hashes`) derives the bucket from the n-gram
        // STRING's md5 prefix so any engine replays it — what lets the
        // registry's hashed twins carry full DuckDB oracles (byte
        // identity between flavors' formulations pinned in
        // SelectionSpec). Bounded model state either way: numBuckets
        // rows.
        graft.plans.GraftExtensions.register(df.sparkSession)
        val kernel =
          if (hashFn == "xxhash64") "shingle_hashes_all"
          else "md5_gram_hashes"
        def grams(n: Int) = graft.plans.GraftExtensions
          .callNative(kernel, F.col(textCol), F.lit(n))
        df.select(keep :+ F.concat(grams(1), grams(2)).as("__fh"): _*)
          .select(keep :+
            graft.plans.Hygiene.explodeNonEmpty(F.col("__fh")).as("__h"): _*)
          .select(keep :+ // pmod can't wrap a generator directly
            F.pmod(F.col("__h"), F.lit(numBuckets.toLong)).as("feat"): _*)
      } else stringFeats
    keyed
      // vacuously-true null filter stated explicitly so the ratio join's
      // inferred isnotnull(feat) cannot split the shared feature stage
      // into non-canonical per-consumer copies (see bigramLogLoss)
      .filter(F.col("feat").isNotNull)
  }

  /** DSIR importance log-weights (Xie et al. 2023): score each `raw` doc
    * by how much more likely its hashed-n-gram bag is under the `target`
    * corpus' feature distribution than under `raw`'s own,
    *
    *   logw(d) = sum over d's features f of n_d(f) * [ log p_t(f) - log p_r(f) ]
    *
    * with add-`smoothing` estimates p_c(f) = (cnt_c(f) + s) / (T_c + s*V)
    * over the UNION feature vocabulary V of both corpora (so unseen
    * features are defined on both sides). Returns (idCol, logw); docs with
    * no tokens drop.
    *
    * SCALE: each corpus is scanned and tokenized once; the feature table
    * is never broadcast and never collected (V and the totals travel as a
    * 1-row broadcast, like [[TextAnalysis.unigramLogLoss]]'s); the
    * doc-feature -> ratio join shuffles on the feature key and is
    * AQE-skew-splittable. With `numBuckets > 0` state is capped at
    * `numBuckets` rows per corpus regardless of vocabulary size.
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, numBuckets: Int = 1 << 16,
      smoothing: Double = 1.0, hashFn: String = "xxhash64"): DataFrame = {
    require(smoothing > 0, s"smoothing must be positive, got $smoothing")
    val rawFeats = docFeatures(raw, idCol, textCol, numBuckets,
      hashFn = hashFn)
    val cr = rawFeats.groupBy("feat")
      .agg(F.sum(F.when(F.col(idCol).isNotNull && F.col("n") >= 1, F.col("n")))
        .as("cr"))
    val ct = docFeatures(target, idCol, textCol, numBuckets, hashFn = hashFn)
      .groupBy("feat").agg(F.sum("n").as("ct"))
    val union = cr.join(ct, Seq("feat"), "full_outer")
      .select(F.col("feat"),
        F.coalesce(F.col("cr"), F.lit(0L)).as("cr"),
        F.coalesce(F.col("ct"), F.lit(0L)).as("ct"))
    dsirRatioTail(union, rawFeats, idCol, smoothing)
  }

  /** Shared DSIR tail (stats broadcast → smoothed log-ratios → per-doc
    * weight sum) over a (feat, cr, ct) union frame — ONE definition so
    * [[dsirLogWeights]] and [[dsirLogWeightsWithin]] cannot drift. The
    * stats guard references every column so pruning cannot specialize
    * this consumer away from the shared `union` stage.
    */
  private def dsirRatioTail(union: DataFrame, rawFeats: DataFrame,
      idCol: String, smoothing: Double): DataFrame = {
    val stats = union.agg(
      F.sum(F.when(F.col("feat").isNotNull && F.col("ct") >= 0, F.col("cr")))
        .cast("double").as("__tr"),
      F.sum("ct").cast("double").as("__tt"),
      F.count(F.lit(1)).cast("double").as("__v"))
    val s = F.lit(smoothing)
    val ratios = union.crossJoin(F.broadcast(stats))
      .select(F.col("feat"),
        (F.log((F.col("ct") + s) / (F.col("__tt") + s * F.col("__v"))) -
          F.log((F.col("cr") + s) / (F.col("__tr") + s * F.col("__v"))))
          .as("__lr"))
    rawFeats.join(ratios, "feat")
      .groupBy(idCol)
      .agg(F.sum(F.col("n") * F.col("__lr")).as("logw"))
  }

  /** Shared Gumbel-top-k resampling tail over a (idCol, logw) frame —
    * ONE definition of the md5-derived noise and the TakeOrdered cut so
    * [[dsirSelect]] and [[dsirSelectWithin]] cannot drift.
    */
  private def gumbelTopK(weights: DataFrame, idCol: String, k: Int,
      temperature: Double, seed: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val u = (graft.plans.Hygiene.md5Prefix32(
        F.concat(F.col(idCol).cast("string"), F.lit(s"_dsir_$seed")))
      .cast("double") + 0.5) / 4294967296.0
    val gumbel = -F.log(-F.log(u))
    weights
      .withColumn("score", F.col("logw") / temperature + gumbel)
      .orderBy(F.col("score").desc, F.col(idCol))
      .limit(k)
  }

  /** [[dsirLogWeights]] for the ubiquitous SAME-CORPUS case — `target` is
    * a predicate over `df`'s own rows (curate against the in-corpus
    * high-quality slice) rather than a second frame. The two-frame form
    * scans and tokenizes the corpus twice (once per side); here the
    * corpus is scanned and tokenized ONCE with the target flag carried
    * through the feature stage, and the per-feature target count falls
    * out of the same aggregate as the raw count (guide §2.3 "aggregate
    * before you shuffle" + §2.4 shared-exchange discipline: the kernel
    * pass, the heaviest stage at scale, halves).
    *
    * Equivalence to `dsirLogWeights(df, df.filter(targetCond), …)` is
    * exact, not approximate: target ⊆ raw means every target feature is
    * a raw feature, so the full-outer feature union degenerates to the
    * raw feature set with ct = 0 where the target slice lacks the
    * feature — precisely what the conditional sum computes — and V, the
    * union vocabulary, equals the raw vocabulary. Pinned row-for-row
    * against the two-frame form in SelectionSpec.
    */
  def dsirLogWeightsWithin(df: DataFrame, idCol: String, textCol: String,
      targetCond: Column, numBuckets: Int = 1 << 16,
      smoothing: Double = 1.0, hashFn: String = "xxhash64"): DataFrame = {
    require(smoothing > 0, s"smoothing must be positive, got $smoothing")
    val rawFeats = docFeatures(
      df.withColumn("__tgt", F.coalesce(targetCond, F.lit(false))),
      idCol, textCol, numBuckets, carry = Seq("__tgt"), hashFn = hashFn)
    // one aggregate, both corpus-side counts; the cr guard references
    // idCol and n like the two-frame form so pruning cannot specialize
    // this consumer off the shared feature stage
    val union = rawFeats.groupBy("feat")
      .agg(
        // coalesce like the two-frame form's post-join coalesce: a
        // feature occurring ONLY in null-id docs sums to NULL under the
        // guard, where dsirLogWeights yields 0 (r18 review finding)
        F.coalesce(
          F.sum(F.when(F.col(idCol).isNotNull && F.col("n") >= 1,
            F.col("n"))), F.lit(0L)).as("cr"),
        F.coalesce(F.sum(F.when(F.col("__tgt"), F.col("n"))), F.lit(0L))
          .as("ct"))
    dsirRatioTail(union, rawFeats, idCol, smoothing)
  }

  /** [[dsirSelect]] over [[dsirLogWeightsWithin]] — the same Gumbel-top-k
    * tail on the single-scan same-corpus weights.
    */
  def dsirSelectWithin(df: DataFrame, idCol: String, textCol: String,
      targetCond: Column, k: Int, numBuckets: Int = 1 << 16,
      temperature: Double = 1.0, seed: Long = 42L): DataFrame =
    gumbelTopK(dsirLogWeightsWithin(df, idCol, textCol, targetCond,
      numBuckets), idCol, k, temperature, seed)

  /** Gumbel-top-k importance RESAMPLING over [[dsirLogWeights]]: take the
    * `k` raw docs with the highest `logw / temperature + Gumbel noise` —
    * equivalent to sampling k docs without replacement with probability
    * proportional to softmax(logw / temperature) (the Gumbel-max trick).
    * The noise is md5-derived from (id, seed) — never `rand()` — so the
    * selection is deterministic, partition-independent AND
    * engine-replayable (the [[hashSplit]] / `randomProject` trick: any
    * SQL engine with md5 reproduces `u` bit-for-bit, which is what lets
    * the registry's q_dsir_select carry a full DuckDB oracle instead of a
    * rows-only check): `u = (first8HexChars(md5(id ++ "_dsir_" ++ seed))
    * + 0.5) / 2^32`, Gumbel = −ln(−ln u). Returns (idCol, logw, score),
    * k rows, via a TakeOrderedAndProject (no global sort
    * materialization).
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, numBuckets: Int = 1 << 16,
      temperature: Double = 1.0, seed: Long = 42L): DataFrame =
    gumbelTopK(dsirLogWeights(raw, target, idCol, textCol, numBuckets),
      idCol, k, temperature, seed)

  // ------------------------------------------- NB quality classifier

  /** Multinomial Naive-Bayes quality classifier — the distributed
    * closed-form stand-in for the fastText-style linear classifier that
    * GPT-3/CCNet-shaped pipelines fit on (curated-positive, crawl-negative)
    * examples and use to score candidate documents (Brown et al. 2020
    * appendix A; Wenzek et al. 2020 §4.4; Joulin et al. 2017). Fit on
    * `labeled` (boolean `labelCol`; true = positive / high-quality class)
    * over the DSIR feature space ([[docFeatureRows]]: unigrams + bigrams —
    * exact strings at `numBuckets = 0`, the oracle-expressible variant;
    * hashed into `numBuckets` buckets otherwise, the fixed-model-size
    * 100 TB shape), then score `toScore`:
    *
    *   score(d) = ln((npos+s)/(nneg+s)) + sum_f n_d(f) * llr(f)
    *   llr(f)   = ln((cpos(f)+s)/(Tpos+s*V)) - ln((cneg(f)+s)/(Tneg+s*V))
    *
    * with add-`smoothing` estimates over the TRAINING vocabulary V (count
    * of distinct training features). A scored feature unseen in training
    * takes llr's c=0 value, ln(Tneg+s*V) - ln(Tpos+s*V) — scoring never
    * errors on novel vocabulary, matching how every class-conditional
    * likelihood degrades to pure smoothing mass. Positive score = more
    * positive-class-like. Returns (idCol, nb_score); scored docs with no
    * tokens drop (consistent with [[dsirLogWeights]]).
    *
    * SCALE: every NB path works on per-OCCURRENCE feature rows, never a
    * per-(doc, feature) tf table: `n_d(f)` multiplies a per-feature
    * constant, so summing llr once per occurrence is the same sum, and
    * class counts are occurrence counts per feature. No exchange is keyed
    * on the doc id below the final per-doc score aggregate: the class
    * counts' partial aggregate collapses each map task's occurrences to
    * one row per feature before the feature-keyed exchange, and the
    * scoring side ships occurrence rows to the feature join only. Each
    * input frame is scanned and tokenized once (the same-corpus
    * [[nbClassifierScoreWithin]] scans its one frame once per branch);
    * the doc-count prior is a further scan of `labeled` pruned to the
    * label column (text untouched — at 100 TB the text scan dominates;
    * this one reads a boolean). The
    * model (feat → llr) is never collected or broadcast: V/totals travel
    * as 1-row broadcasts and the feature join shuffles on the feature key
    * (AQE-skew-splittable). With `numBuckets > 0` model state is capped
    * at `numBuckets` rows.
    */
  def nbClassifierScore(labeled: DataFrame, toScore: DataFrame,
      idCol: String, textCol: String, labelCol: String,
      numBuckets: Int = 1 << 16, smoothing: Double = 1.0,
      hashFn: String = "xxhash64"): DataFrame = {
    val (llr, params) = nbFit(labeled, idCol, textCol, labelCol,
      numBuckets, smoothing, hashFn)
    nbScoreJoin(docFeatureRows(toScore, idCol, textCol, numBuckets,
      hashFn = hashFn), llr, params, idCol)
  }

  /** [[nbClassifierScore]] for the ubiquitous SAME-CORPUS case — train and
    * score populations are predicates over ONE frame (the [[hashSplit]]
    * shape) rather than two frames. It IS the two-frame form over
    * `df.filter(trainCond)` (labelled by `labelCond`) and
    * `df.filter(scoreCond)`: one code path, so the two cannot drift.
    *
    * Each split filter is a plain predicate on the input rows, so it sits
    * below the `shingle_hashes_all` / `gram_strings` kernel (and in the
    * scan, where the reader can evaluate it): each branch tokenizes only
    * its own docs, and a disjoint split (the [[hashSplit]] shape)
    * tokenizes every doc once. The price is one scan of the frame per
    * branch: a predicate the Parquet reader cannot evaluate (the md5 of
    * the id in [[hashSplit]]) filters after the read, so each branch
    * reads the whole text column, twice the text bytes a shared tf stage
    * read. That stage's per-(doc, feature) exchange shipped more bytes
    * per word than the second read decodes (3-4x less task CPU for the
    * q_nb_quality* queries at sf0.1, 4 cores). A doc that matches BOTH
    * `trainCond` and `scoreCond` is tokenized twice, once per branch. A
    * null condition counts as false.
    * The doc-count prior scans the label and split columns only. Pinned
    * against a per-(doc, feature) tf reference in SelectionSpec.
    */
  def nbClassifierScoreWithin(df: DataFrame, idCol: String, textCol: String,
      trainCond: Column, labelCond: Column, scoreCond: Column,
      numBuckets: Int = 1 << 16, smoothing: Double = 1.0,
      hashFn: String = "xxhash64"): DataFrame =
    nbClassifierScore(df.filter(trainCond).withColumn("__lab", labelCond),
      df.filter(scoreCond), idCol, textCol, "__lab", numBuckets, smoothing,
      hashFn)

  /** Lazy model fit shared by [[nbClassifierScore]] and [[saveNbModel]]:
    * returns (llr: (feat, __llr), params: ONE row with totals __tp/__tn,
    * vocab __v, doc counts __np/__nn, smoothing __s and feature flavor
    * __numBuckets — the model is self-describing, so a loaded model needs
    * no caller-side hyperparameters). No action is triggered here.
    */
  private def nbFit(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, numBuckets: Int,
      smoothing: Double, hashFn: String = "xxhash64"): (DataFrame, DataFrame) = {
    require(smoothing > 0, s"smoothing must be positive, got $smoothing")
    val s = F.lit(smoothing)
    val lab = F.col(labelCol)
    // per-feature class counts: occurrences per feature, one aggregate
    // over one tokenizer pass (null-id docs count like any other)
    val counts = docFeatureRows(labeled, idCol, textCol, numBuckets,
        carry = Seq(labelCol), hashFn = hashFn)
      .groupBy("feat").agg(
        F.sum(F.when(lab, 1L).otherwise(0L)).as("cpos"),
        F.sum(F.when(!lab, 1L).otherwise(0L)).as("cneg"))
    // label-only scan: prunes to one boolean column, no tokenization
    val prior = labeled.agg(
      F.sum(F.when(lab, 1L).otherwise(0L)).cast("double").as("__np"),
      F.sum(F.when(!lab, 1L).otherwise(0L)).cast("double").as("__nn"))
    nbModelFromCounts(counts, prior, numBuckets, s)
  }

  /** Model tail of [[nbFit]]: from the per-feature class counts and the
    * 1-row doc-count prior, derive (llr, params).
    */
  private def nbModelFromCounts(counts: DataFrame, prior: DataFrame,
      numBuckets: Int, s: Column): (DataFrame, DataFrame) = {
    // 1-row stats; the guard references every column so pruning cannot
    // specialize this consumer off the shared `counts` stage (see DSIR)
    val stats = counts.agg(
      F.sum(F.when(F.col("feat").isNotNull && F.col("cneg") >= 0,
        F.col("cpos"))).cast("double").as("__tp"),
      F.sum("cneg").cast("double").as("__tn"),
      F.count(F.lit(1)).cast("double").as("__v"))
    val params = stats.crossJoin(prior)
      .withColumn("__s", s)
      .withColumn("__numBuckets", F.lit(numBuckets))
      // tokenizer+hash family stamp: a persisted model's feature keys
      // (exact tokens OR hashed buckets) both derive from the Tok family,
      // so loaders can fail fast instead of scoring against keys that
      // silently match nothing (see Tok.HashFamily)
      .withColumn("hashFamily", F.lit(graft.functions.Tok.HashFamily))
    // llr consumes the SAME 1-row params frame every other consumer
    // broadcasts — one canonical broadcast exchange, so AQE reuses it
    // instead of recomputing the stats subtree per consumer (a separate
    // broadcast(stats) made the final plan kernel-scan the labeled corpus
    // an extra time; plan-pinned in PipelineSpec). The guard references
    // the PRIOR columns too (vacuously — doc counts are >= 0 or null on
    // an empty corpus): without it column pruning degenerates llr's copy
    // of the prior subtree to an empty aggregate that still SCANS the
    // corpus (one extra label-only scan + broadcast chain per execution,
    // r19 finding), where the full reference keeps llr's params subtree
    // canonically identical to the scoring tail's — one broadcast, reused.
    val llr = counts.crossJoin(F.broadcast(params))
      .select(F.col("feat"),
        F.when(
          F.coalesce(F.col("__np"), F.lit(0.0)) >= 0 &&
            F.coalesce(F.col("__nn"), F.lit(0.0)) >= 0,
          F.log((F.col("cpos") + s) / (F.col("__tp") + s * F.col("__v"))) -
            F.log((F.col("cneg") + s) / (F.col("__tn") + s * F.col("__v"))))
          .as("__llr"))
    (llr, params)
  }

  /** llr of a feature unseen in training, read from the params row. */
  private def nbUnseen: Column = {
    val s = F.col("__s")
    F.log(F.col("__tn") + s * F.col("__v")) -
      F.log(F.col("__tp") + s * F.col("__v"))
  }

  /** The doc-count prior ln((npos+s)/(nneg+s)), read from the params row. */
  private def nbPrior: Column =
    F.log((F.col("__np") + F.col("__s")) / (F.col("__nn") + F.col("__s")))

  /** Shared scoring tail over per-occurrence feature rows
    * ([[docFeatureRows]]): left-join them to the model, fall back to the
    * unseen ratio, sum per doc with the prior folded into the SAME
    * aggregate (`first` of a params-constant — a second params consumer
    * after the groupBy cannot be column-pruned past the cross-join
    * cardinality, so Catalyst keeps a degenerate copy of the whole stats
    * subtree including an extra corpus scan; plan-pinned). `params` is one
    * row and rides as ONE reused broadcast — never a shuffle key.
    */
  private def nbScoreJoin(featRows: DataFrame, llr: DataFrame,
      params: DataFrame, idCol: String): DataFrame =
    featRows
      .join(llr, Seq("feat"), "left_outer")
      .crossJoin(F.broadcast(params))
      .groupBy(idCol)
      .agg((F.sum(F.coalesce(F.col("__llr"), nbUnseen)) + F.first(nbPrior))
        .as("nb_score"))

  /** Persist a fitted NB model — the fit-once/score-many serving shape
    * (same contract as the IVF index family: training cost is paid at
    * build, probes/scoring read the artifact). Layout: `path/llr` is the
    * (feat, __llr) table (never collected — written distributed),
    * `path/_params` the self-describing 1-row parameter sidecar.
    */
  def saveNbModel(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, path: String, numBuckets: Int = 1 << 16,
      smoothing: Double = 1.0): Unit = {
    val (llr, params) = nbFit(labeled, idCol, textCol, labelCol,
      numBuckets, smoothing)
    llr.write.mode("overwrite").parquet(s"$path/llr")
    params.repartition(1).write.mode("overwrite").parquet(s"$path/_params")
  }

  /** Score a frame against a persisted NB model ([[saveNbModel]]). The
    * only driver-side read is the feature flavor (`__numBuckets`) from the
    * 1-row sidecar (`StoreLayout.readParams`, cached while the sidecar's
    * files are unchanged) — it decides the query PLAN (exact strings vs
    * hashed kernel), so it cannot stay lazy; bounded by construction (same
    * class as the IVF centroid load). The llr table itself streams through
    * the feature join, never the driver.
    */
  def scoreWithNbModel(spark: org.apache.spark.sql.SparkSession,
      path: String, toScore: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val row = StoreLayout.readParams(spark, path)
    graft.functions.Tok.checkHashFamily(row, path)
    val numBuckets = row.getAs[Int]("__numBuckets")
    nbScoreJoin(docFeatureRows(toScore, idCol, textCol, numBuckets),
      spark.read.parquet(s"$path/llr"),
      StoreLayout.readSidecar(spark, path, "_params"), idCol)
  }

  /** Streaming face of [[scoreWithNbModel]]: per-occurrence feature rows
    * (stateless explode — [[docFeatureRows]]; a per-doc tf pre-aggregate
    * here would be a SECOND stateful aggregation, which streaming append
    * mode forbids), stream-static join to the model on the feature key, a
    * literal-key broadcast join to the 1-row params, then ONE watermarked
    * tumbling aggregation per (window, doc) emitting
    * `prior + sum(llr-or-unseen)`. State is bounded by the watermark; the
    * model is resolved per micro-batch from the artifact, never collected.
    */
  def scoreStreamWithNbModel(spark: org.apache.spark.sql.SparkSession,
      path: String, stream: DataFrame, idCol: String, textCol: String,
      tsCol: String, width: String = "1 hour",
      lateness: String = "1 hour"): DataFrame = {
    val paramsRow = StoreLayout.readParams(spark, path)
    graft.functions.Tok.checkHashFamily(paramsRow, path)
    val numBuckets = paramsRow.getAs[Int]("__numBuckets")
    val params = StoreLayout.readSidecar(spark, path, "_params")
    docFeatureRows(stream, idCol, textCol, numBuckets, carry = Seq(tsCol))
      .join(spark.read.parquet(s"$path/llr"), Seq("feat"), "left_outer")
      .withColumn("__pk", F.lit(1))
      .join(F.broadcast(params.withColumn("__pk", F.lit(1))), "__pk")
      .withWatermark(tsCol, lateness)
      .groupBy(F.window(F.col(tsCol), width), F.col(idCol))
      .agg((F.sum(F.coalesce(F.col("__llr"), nbUnseen)) + F.first(nbPrior))
        .as("nb_score"))
      .select(F.col("window"), F.col(idCol), F.col("nb_score"))
  }
}
