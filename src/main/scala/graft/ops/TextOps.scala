package graft.ops

import graft.GraftCache.GraftCachedOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared text primitives for the text-analysis and dedup layers.
  *
  * All hashing is md5-derived so the DuckDB oracle can reproduce values
  * bit-for-bit: `hash60` is the first 15 hex chars of md5 as a 60-bit
  * BIGINT (Spark `conv(_,16,10)` == DuckDB `CAST('0x'||_ AS BIGINT)`).
  * Everything here is pure Catalyst expressions — codegen-friendly, no
  * UDFs, no driver-side loops.
  */
object TextFns {
  /** Driver-side md5 hex digest — the Scala twin of the engines' md5()
    * SQL function, shared by every driver-side hash derivation (LSH plane
    * weights, keyed-lookup keys, frame digests) so all call sites stay
    * bit-identical to the oracle's closed form by construction.
    */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Whitespace tokens of `text` (fixture docs are single-space separated). */
  val toks: Column = split(col("text"), " ")

  /** 60-bit deterministic hash of a string column, oracle-reproducible. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct word-k-grams of a pre-split `toks` column (docs with fewer
    * than k tokens are excluded by callers on both sides).
    */
  def kgrams(k: Int): Column = expr(
    s"array_distinct(transform(sequence(0, size(toks) - $k), " +
      s"i -> concat_ws(' ', ${(0 until k).map(j => s"toks[i+$j]").mkString(", ")})))")

  /** Word-3-shingles — the dedup family's unit. */
  val shingles: Column = kgrams(3)
}

/** Text-analysis operators over `documents` — the language-ID / quality /
  * token-statistics layer a training-data pipeline runs before filtering.
  * Reference has no scalar-function surface at all (SURVEY.md §2.6); these
  * are all single-pass, shuffle-free projections (plus one top-k agg),
  * embarrassingly parallel at 100 TB.
  */
object TextOps {
  import graft.Tables._

  /** Quality scoring: token counts, type-token ratio, stopword ratio,
    * average token length, and a composite score. All ratios are exact
    * rationals of small ints — bit-identical on both engines.
    */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("toks", TextFns.toks)
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6).as("ttr"),
        round(expr("size(filter(toks, t -> t = 'the' OR t = 'a'))").cast("double")
                / size(col("toks")), 6).as("stop_ratio"),
        round((length(col("text")) - size(col("toks")) + 1).cast("double")
                / size(col("toks")), 6).as("avg_token_len"),
        round((size(array_distinct(col("toks"))).cast("double") / size(col("toks"))) *
                (lit(1.0) - expr("size(filter(toks, t -> t = 'the' OR t = 'a'))").cast("double")
                   / size(col("toks"))), 6).as("quality_score"))
      .orderBy(col("doc_id"))

  /** Language ID by stopword-marker voting (n-gram-lexicon heuristic).
    * Deterministic CASE cascade — ties resolve in en>de>fr>es order on
    * both engines.
    */
  /** Per-doc stopword-hit counts + argmax language prediction — shared by
    * [[qLangId]] (doc-level report) and [[qLangidConfusion]] (the
    * evaluation matrix). Pure projection; the tie order en>de>fr>es is
    * fixed by the CASE chain.
    */
  private def langPredictions(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("toks", TextFns.toks)
      .select(
        col("doc_id"), col("lang"),
        expr("size(filter(toks, t -> t = 'the' OR t = 'a'))").as("en_hits"),
        expr("size(filter(toks, t -> t = 'der' OR t = 'die' OR t = 'das' OR t = 'und'))").as("de_hits"),
        expr("size(filter(toks, t -> t = 'le' OR t = 'la' OR t = 'et'))").as("fr_hits"),
        expr("size(filter(toks, t -> t = 'el' OR t = 'los' OR t = 'y'))").as("es_hits"))
      .withColumn("pred_lang", expr(
        """CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
          |     WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
          |     WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
          |     WHEN es_hits > 0 THEN 'es'
          |     ELSE 'und' END""".stripMargin))

  def qLangId(spark: SparkSession, dir: String): DataFrame =
    langPredictions(spark, dir).orderBy(col("doc_id"))

  /** Language-ID evaluation: the (true lang × predicted lang) confusion
    * matrix with per-true-language share — the quality report any
    * classifier in the curation pipeline ships with. One ≤|langs|²-row
    * aggregate over the prediction projection; the per-lang totals come
    * from a second tiny aggregate joined back on the true-lang key.
    */
  def qLangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = langPredictions(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    cells.join(totals, Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"), col("n_lang"),
              expr("n * 1000000L div n_lang").as("share_ppm"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** T5-style span-corruption manifest: deterministic masked spans over
    * the whitespace token stream, one candidate span per 8-token block —
    * block-local placement makes spans NON-OVERLAPPING by construction
    * and embarrassingly parallel (no sequential greedy pass, which is the
    * part of span corruption that does not distribute). The placement
    * draw is the shared md5 surrogate (`hash60(doc_id:block) % 1000` —
    * the [[qWalkCorpus]] determinism rule: a seeded RNG is never
    * oracle-checkable, the hash is): start offset = h%6, length =
    * 1+(h÷6)%3, clipped to the block. Work is O(blocks), never O(tokens):
    * only `size(toks)` is computed per doc, then blocks explode from a
    * `sequence`.
    */
  def qSpanCorruption(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), size(TextFns.toks).as("n"))
      .select(col("doc_id"), col("n"),
              explode(expr("sequence(0, (n - 1) div 8)")).as("b"))
      .withColumn("s", least(lit(8), col("n") - col("b") * 8))
      .withColumn("h", pmod(TextFns.hash60(
        concat(col("doc_id").cast("string"), lit(":"), col("b").cast("string"))),
        lit(1000L)))
      .filter(expr("h % 6 < s"))
      .select(col("doc_id"), col("b").cast("long").as("sentinel"),
              expr("cast(b * 8 + h % 6 + 1 as bigint)").as("span_start"),
              expr("cast(least(1 + (h div 6) % 3, s - h % 6) as bigint)")
                .as("span_len"))
      .orderBy(col("doc_id"), col("sentinel"))

  /** Corpus-level term frequencies, top 20 (count desc, token asc). */
  def qTokenTopk(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(TextFns.toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(20)

  /** Document fingerprinting: full-text md5, 60-bit content hash, and a
    * prefix (first-8-token) hash for fast prefix-blocking.
    */
  def qDocFingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("toks", TextFns.toks)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_md5"),
        TextFns.hash60(col("text")).as("fp60"),
        TextFns.hash60(concat_ws(" ", slice(col("toks"), 1, 8))).as("prefix_fp60"))
      .orderBy(col("doc_id"))

  /** End-to-end corpus cleaning — the training-data pipeline in one plan:
    * quality gate (≥20 tokens, quality score ≥ 0.3) → near-dedup (n-gram
    * Jaccard ≥ 0.8, lang-blocked) with a deterministic keep-min policy
    * (any doc appearing as the greater id of a near-dup pair is dropped)
    * → per-language corpus statistics. Composes the library operators
    * [[DedupOps.ngramJaccardPairs]] and the quality formula of
    * [[qTextQuality]]; every stage mirrors exactly in the oracle.
    */
  def qCorpusClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val scored = docs
      .withColumn("toks", TextFns.toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("quality",
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))) *
          (lit(1.0) - expr("size(filter(toks, t -> t = 'the' OR t = 'a'))").cast("double")
             / size(col("toks"))))
      .filter(col("n_tokens") >= 20 && col("quality") >= 0.3)
    val drops = DedupOps.ngramJaccardPairs(docs)
      .select(col("doc_b").as("doc_id")).distinct()
    scored
      .join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           round(avg(col("quality")), 6).as("avg_quality"))
      .orderBy(col("lang"))
  }

  /** Benchmark decontamination — the training-pipeline step that flags
    * corpus documents leaking evaluation content: any non-benchmark
    * document sharing ≥ 1 distinct word-n-gram (n = 5) with a benchmark
    * document, with the hit count. The benchmark n-gram set is small by
    * construction, so it broadcasts and the corpus side is one linear
    * pass — no shuffle of the big side at any scale.
    */
  def decontaminate(docs: DataFrame, benchPred: Column, n: Int = 5): DataFrame = {
    val grams = docs
      .withColumn("toks", TextFns.toks)
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(TextFns.kgrams(n)).as("g"))
    val bench = grams.filter(benchPred).select(col("g")).distinct()
    grams.filter(!benchPred)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  def qDecontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminate(documents(spark, dir), col("doc_id") < 10)

  /** Deterministic reproducible sampling — the training-mix primitive:
    * keep ≈pct% of documents by thresholding a content-stable hash of the
    * key (md5 of doc_id). A pure filter: no RNG state, no shuffle,
    * identical output under any partitioning or cluster size, and
    * proportional per stratum in expectation; the oracle reproduces the
    * exact same sample from the same md5 closed form.
    */
  def deterministicSample(docs: DataFrame, pct: Int = 10): DataFrame =
    docs
      .filter(pmod(TextFns.hash60(col("doc_id").cast("string")), lit(100)) < pct)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  def qSampleDeterministic(spark: SparkSession, dir: String): DataFrame =
    deterministicSample(documents(spark, dir))

  /** Temperature-based language rebalancing (α = 0.5, the common
    * multilingual-mix temperature): post-sampling counts target
    * n_l^α, so the keep probability is sqrt(n_min/n_l) — the smallest
    * language keeps everything, dominant languages shed toward a
    * flatter mix. The keep decision is EXACT integer arithmetic, no
    * floats anywhere: keep iff h² · n_l < 10¹² · n_min where
    * h = md5-hash(doc_id) mod 10⁶ (⟺ h/10⁶ < sqrt(n_min/n_l)), with
    * the products in decimal(38) so 10¹²·n_l cannot overflow at any
    * corpus size. Content-stable hash threshold ⇒ identical output
    * under any partitioning; the per-lang counts broadcast (|langs|
    * rows), so the corpus makes one filtered pass and one aggregate.
    */
  def langRebalance(docs: DataFrame): DataFrame = {
    // Persisted (|langs| rows): counts is referenced through nMin, the
    // keep-rule join, and the report join — un-persisted, each clone
    // re-scanned the corpus (round-9 plan audit: 10 scans here).
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
      .graftCached
    val nMin = counts.agg(min(col("n_before")).as("n_min"))
    val withN = counts.crossJoin(broadcast(nMin))
    val kept = docs
      .join(broadcast(withN), Seq("lang"))
      .withColumn("h", pmod(TextFns.hash60(col("doc_id").cast("string")), lit(1000000L)))
      .filter(expr("cast(h * h as decimal(38,0)) * n_before < cast(1000000000000 as decimal(38,0)) * n_min"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_after"))
    val per = withN.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
              coalesce(col("n_after"), lit(0L)).as("n_after"))
      .graftCached
    // Flatness invariant as a pinned flag (exact cross-multiplied
    // rationals): the after-mix max/min ratio must not exceed the
    // before-mix ratio.
    val flag = per.agg(
      (max(col("n_after")) * min(col("n_before")) <=
        max(col("n_before")) * min(col("n_after"))).as("flattened_ok"))
    per.crossJoin(broadcast(flag)).orderBy(col("lang"))
  }

  def qLangRebalance(spark: SparkSession, dir: String): DataFrame =
    langRebalance(documents(spark, dir))

  /** Temperature-smoothed domain mixture plan — the α = 0.5 sampling
    * rule of the multilingual pretraining recipes (mBERT; Conneau &
    * Lample 2019, XLM): sample source i with probability ∝ √tokensᵢ, so
    * low-resource domains are boosted without letting any domain
    * dominate. Everything is EXACT integer arithmetic: token counts by
    * the shared whitespace tokenizer, √ via an integer-corrected
    * `floor(sqrt(·))` (the two-sided adjustment makes the result the
    * true ⌊√n⌋ even where the double rounds wrong — bit-identical on
    * both engines), shares in ppm by BIGINT `div`, and the per-domain
    * epoch factor (target tokens ÷ actual tokens, >10⁶ ppm means
    * upsampling) cross-multiplied in DECIMAL(38,0) before the division
    * so 100 TB token totals cannot overflow. One hash aggregate over
    * the corpus + a broadcast single-row totals join — the planning
    * pass costs one scan at any scale.
    */
  def mixturePlan(docs: DataFrame): DataFrame = {
    // |sources| rows; referenced by the totals aggregate AND the final
    // projection (un-persisted, each clone re-tokenizes the corpus).
    val per = docs.withColumn("toks", TextFns.toks)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(col("toks")).cast("long")).as("n_tokens"))
      .withColumn("s0", expr("cast(floor(sqrt(n_tokens)) as bigint)"))
      .withColumn("isq", expr(
        "case when (s0 + 1) * (s0 + 1) <= n_tokens then s0 + 1 " +
          "when s0 * s0 > n_tokens then s0 - 1 else s0 end"))
      .graftCached
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
                      sum(col("isq")).as("tot_isq"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000 div tot_tokens").as("share_ppm"),
        expr("isq * 1000000 div tot_isq").as("smooth_ppm"),
        expr("cast(isq * 1000000 div tot_isq as decimal(38,0)) " +
          "* tot_tokens div n_tokens").cast("long").as("epochs_ppm"))
      .orderBy(col("source"))
  }

  def qMixturePlan(spark: SparkSession, dir: String): DataFrame =
    mixturePlan(documents(spark, dir))

  /** Apply the [[mixturePlan]] — turn per-domain epoch factors into an
    * actual deterministic resample: document d of source i is emitted
    * `⌊epochsᵢ⌋` times plus one more iff
    * `hash60("mix:"+doc_id) mod 10⁶ < epochsᵢ mod 10⁶` — the
    * fractional-epoch Bernoulli drawn from the SAME md5-threshold rule
    * [[langRebalance]] downsamples by (reproducible at any parallelism,
    * E[copies] = epochsᵢ exactly). Reported per source: replicated doc
    * and token mass plus the achieved mixture share — which converges
    * on the plan's smooth_ppm as the law of large numbers kicks in.
    * Shape: the plan is |sources| rows broadcast onto one corpus pass;
    * the copies column is arithmetic, never an explode (a downstream
    * shard writer materializes repeats; the ACCOUNTING never should).
    */
  def mixtureApply(docs: DataFrame): DataFrame = {
    val plan = mixturePlan(docs).select(col("source"), col("epochs_ppm"))
    val per = docs.withColumn("toks", TextFns.toks)
      .select(col("doc_id"), col("source"),
              size(col("toks")).cast("long").as("n_toks"))
      .join(broadcast(plan), Seq("source"))
      .withColumn("h", pmod(TextFns.hash60(
        concat(lit("mix:"), col("doc_id").cast("string"))), lit(1000000L)))
      .withColumn("copies", expr(
        "epochs_ppm div 1000000 + if(h < epochs_ppm % 1000000, 1, 0)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_in"),
           sum(col("copies")).as("n_copies_out"),
           sum(expr("copies * n_toks")).as("tokens_out"))
      .graftCached
    val tot = per.agg(sum(col("tokens_out")).as("tot_out"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs_in"), col("n_copies_out"),
              col("tokens_out"),
              expr("tokens_out * 1000000 div tot_out").as("achieved_ppm"))
      .orderBy(col("source"))
  }

  def qMixtureApply(spark: SparkSession, dir: String): DataFrame =
    mixtureApply(documents(spark, dir))

  /** Balanced curriculum ordering — the batch-mixing pass that feeds a
    * training run so EVERY data window sees the full quality spectrum
    * (round-robin over quality deciles; the standard alternative to
    * easy-first curricula when quality annealing is handled by a later
    * schedule). Quality key = distinct-token ratio in exact ppm, decile
    * by the distributed [[AnalyticsOps.globalRank]] + ntile arithmetic
    * — and the rank WITHIN a decile needs no second shuffle: ntile
    * assigns each bin one contiguous grank run, so the bin's start is
    * closed-form from (n, bin) and `rank_in_bin = grank − start + 1`
    * is a projection. `curriculum_pos = (rank_in_bin − 1)·10 + bin − 1`
    * interleaves the bins; positions are unique because (rank, bin)
    * pairs are. No global single-partition window anywhere — the rank
    * is the two-phase distributed one.
    */
  def curriculumOrder(docs: DataFrame): DataFrame = {
    val scored = docs.withColumn("toks", TextFns.toks)
      .select(col("doc_id"), expr(
        "cast(size(array_distinct(toks)) as bigint) * 1000000 div size(toks)")
        .as("ttr_ppm"))
    AnalyticsOps.globalRank(scored, Seq(col("ttr_ppm").desc, col("doc_id")))
      .withColumn("bin", AnalyticsOps.ntileBucket(10))
      .withColumn("bstart", expr(
        "case when bin <= n % 10 then (bin - 1) * (n div 10 + 1) + 1 " +
          "else (n % 10) * (n div 10 + 1) + (bin - 1 - n % 10) * (n div 10) + 1 end"))
      .select(col("doc_id"), col("ttr_ppm"), col("bin"),
        (col("grank") - col("bstart") + 1).as("rank_in_bin"),
        ((col("grank") - col("bstart")) * 10 + col("bin") - 1)
          .as("curriculum_pos"))
      .orderBy(col("curriculum_pos"), col("doc_id"))
  }

  def qCurriculumOrder(spark: SparkSession, dir: String): DataFrame =
    curriculumOrder(documents(spark, dir))

  /** Context-window chunking — split each document into fixed-size token
    * windows with overlap (the sequence-preparation stage before
    * tokenization/packing). One `posexplode` per row over a transform of
    * window offsets: embarrassingly parallel, no shuffle except the
    * output ordering. Chunk count is ceil((n-window)/stride)+1 (≥ 1), so
    * every token is covered and consecutive chunks overlap by
    * window-stride tokens.
    */
  def chunkDocuments(docs: DataFrame, window: Int = 20, stride: Int = 15): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    require(stride <= window, "stride > window would leave uncovered token gaps")
    docs
      .withColumn("toks", TextFns.toks)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest(cast(ceil((size(toks) - $window) / cast($stride as double)) as int), 0)), " +
          s"i -> concat_ws(' ', slice(toks, i * $stride + 1, $window)))"))
        .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
              size(split(col("chunk"), " ")).as("n_tokens"),
              md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  def qChunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunkDocuments(documents(spark, dir))

  /** Repetition scoring (Gopher-style quality filter): the fraction of
    * duplicated words / 2-grams / 3-grams per document. Boilerplate and
    * templated spam score high; prose scores low. Pure projection over the
    * existing k-gram primitives (`kgrams` is distinct by construction, so
    * dup ratio = 1 - distinct/total) — shuffle-free, embarrassingly
    * parallel at 100 TB. Ratios are exact small-int rationals rounded to
    * 6dp, bit-identical on both engines.
    */
  def repetitionScore(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", TextFns.toks)
      .filter(size(col("toks")) >= 3)
      .select(
        col("doc_id"),
        round(lit(1.0) - size(array_distinct(col("toks"))).cast("double")
                / size(col("toks")), 6).as("dup_word_ratio"),
        round(lit(1.0) - size(TextFns.kgrams(2)).cast("double")
                / (size(col("toks")) - 1), 6).as("dup_2gram_ratio"),
        round(lit(1.0) - size(TextFns.kgrams(3)).cast("double")
                / (size(col("toks")) - 2), 6).as("dup_3gram_ratio"))
      .orderBy(col("doc_id"))

  def qRepetitionScore(spark: SparkSession, dir: String): DataFrame =
    repetitionScore(documents(spark, dir))

  /** Per-language quota sampling — the training-mix primitive that caps
    * each stratum at `quota` documents, chosen by a content-stable
    * pseudo-random rank (md5 of doc_id mod 1e6, exactly representable in
    * double so the physical operator's double-keyed heap is exact).
    * Runs on the custom `graft_topk` operator: bounded k-row map-side
    * heaps mean the exchange carries ≤ quota·|langs| rows per input
    * partition — at 100 TB the shuffle is tiny regardless of corpus
    * size, where the `row_number().over(lang)` form would sort every
    * row of every language partition (and skew on the dominant
    * language). Ties (hash collisions in the 1e6 space) break on
    * doc_id, mirroring the oracle's ORDER BY rank DESC, doc_id ASC.
    */
  def quotaSample(docs: DataFrame, quota: Int = 40): DataFrame =
    docs
      .withColumn("rscore", pmod(TextFns.hash60(col("doc_id").cast("string")), lit(1000000L)))
      .filter(call_function("graft_topk",
        col("lang"), col("rscore"), col("doc_id"), lit(quota)))
      .select(col("doc_id"), col("lang"), col("rscore"))
      .orderBy(col("doc_id"))

  def qQuotaSample(spark: SparkSession, dir: String): DataFrame =
    quotaSample(documents(spark, dir))

  /** Exclusive prefix sum of `tot` in `key` order over a (key, tot)
    * relation, fully distributed: cumsum within `key div bucketSize`
    * super-buckets (parallel), super-bucket totals offset by RECURSING
    * the same construction — each level is bucketSize× smaller.
    *
    * Cache contract: each call lazily persists its per-level totals
    * (see the inline comment for why); the entries are small
    * aggregates, but a long-lived session building MANY manifests
    * should `spark.catalog.clearCache()` between builds (Bench/Verify
    * already do) — the cache is keyed by plan, so repeated calls over
    * new inputs accumulate entries. Callers whose `totals` lineage is
    * ALREADY materialized (one aggregate over a localCheckpoint —
    * [[graft.ops.AnalyticsOps.globalRank]], peakConcurrency) pass
    * `reuseInput = false`: for them the per-level duplication is a
    * cheap block re-read and the cache-materialization jobs cost more
    * than they save (measured +0.3 s on q_peak_concurrency at sf0.1). The
    * recursion depth is STRUCTURAL (fixed `levels`, no data-dependent
    * count): a count() here would eagerly re-execute the entire upstream
    * pipeline when composed (measured 5× on the e2e capstone), while a
    * fixed depth just adds a few lazily-planned tiny aggregates. The
    * base-case global window after `levels` recursions sees at most
    * n / bucketSize^levels rows — with the defaults (256, 3) that's
    * ≤ 256 rows for anything up to 256⁴ ≈ 4·10⁹ input rows, i.e. ~10¹²
    * documents through [[packShards]]; bump `levels` for more.
    *
    * The offsets join is deliberately un-hinted: the window output is
    * already hash-partitioned by the join key, so at scale only the
    * (bucketSize×-smaller) offsets side shuffles, while AQE converts it
    * to a broadcast at fixture scale.
    */
  private[graft] def exclusiveOffsets(totals: DataFrame, bucketSize: Int,
                                      levels: Int,
                                      reuseInput: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (levels <= 0) {
      totals.withColumn("offset", coalesce(
        sum(col("tot")).over(
          Window.orderBy(col("key")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
        .select(col("key"), col("offset"))
    } else {
      // LAZY persist of each level's input: every level references its
      // totals TWICE (the within-super-bucket window and the recursed
      // super-totals), and Catalyst expands a doubly-referenced subtree
      // into two clones whose exchanges do NOT reuse — so without this
      // the input's whole lineage re-executes 2^levels times (measured:
      // the seq-pack tokenize pass ran 10× through the 3-level
      // hierarchy). The persist is lazy (composes into downstream
      // plans without an eager job), spill-safe, and tiny — level-0
      // input is already n/bucketSize aggregate rows, deeper levels
      // shrink by bucketSize× each.
      val t =
        if (reuseInput)
          totals.graftCached
        else totals
      val b = t.withColumn("sb", expr(s"key div $bucketSize"))
      val within = b.withColumn("pfx", coalesce(
        sum(col("tot")).over(
          Window.partitionBy(col("sb")).orderBy(col("key"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      val supTotals = b.groupBy(col("sb")).agg(sum(col("tot")).as("tot"))
        .select(col("sb").as("key"), col("tot"))
      val supOffsets = exclusiveOffsets(supTotals, bucketSize, levels - 1,
        reuseInput)
        .select(col("key").as("sb"), col("offset").as("sb_offset"))
      within.join(supOffsets, Seq("sb"))
        .select(col("key"), (col("sb_offset") + col("pfx")).as("offset"))
    }
  }

  /** Token-budget shard packing — assign documents (in doc_id order) to
    * consecutive output shards of ≈`budgetChars` characters: the step
    * that turns a cleaned corpus into training shards. shard_id =
    * floor(exclusive-prefix-sum(n_chars) / budget), computed as a
    * DISTRIBUTED prefix sum: a window cumsum WITHIN each `doc_id div
    * bucketSize` bucket (parallel across buckets), with bucket totals
    * turned into offsets by [[exclusiveOffsets]] — the recursive
    * bucket-of-buckets construction, so no window before the fixed-depth
    * base case runs unpartitioned, and the base case sees at most
    * n / bucketSize^(levels+1) rows (≤ bucketSize up to ~10¹² docs at
    * the defaults; PlanShapeSpec pins the contract). The naive
    * `sum().over(Window.orderBy(doc_id))` would serialize the entire
    * corpus through ONE partition — the classic global-window trap.
    */
  def packShards(docs: DataFrame, budgetChars: Long = 20000L,
                 bucketSize: Int = 256, levels: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Lazy persist: `b` feeds BOTH the windowed-prefix branch and the
    // bucket-totals branch; un-persisted, the doubly-referenced subtree
    // clones and the docs scan runs twice (see exclusiveOffsets).
    val b = docs.select(col("doc_id"), col("n_chars"))
      .withColumn("bucket", expr(s"doc_id div $bucketSize"))
      .graftCached
    val within = b.withColumn("pfx_within",
      sum(col("n_chars")).over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("n_chars"))
    val offsets = exclusiveOffsets(
      b.groupBy(col("bucket")).agg(sum(col("n_chars")).as("tot"))
        .select(col("bucket").as("key"), col("tot")),
      bucketSize, levels)
      .select(col("key").as("bucket"), col("offset"))
    within.join(offsets, Seq("bucket"))
      .select(col("doc_id"), col("n_chars"),
              expr(s"(offset + pfx_within) div $budgetChars").as("shard_id"))
      .orderBy(col("doc_id"))
  }

  def qShardPack(spark: SparkSession, dir: String): DataFrame =
    packShards(documents(spark, dir))

  /** The publish step: documents written as a parquet dataset PARTITIONED
    * BY shard_id (one directory per training shard — the layout a data
    * loader consumes), then the manifest recomputed from the READ-BACK
    * data, so the oracle pins the whole write→read round trip. Partition
    * columns come back type-inferred; the cast pins the comparison type.
    */
  def qShardPublish(spark: SparkSession, dir: String): DataFrame = {
    val target = s"${System.getProperty("java.io.tmpdir")}/graft_shards_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val docs = documents(spark, dir)
    packShards(docs.select(col("doc_id"), col("n_chars")))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      // Co-locate each shard in one task before partitionBy: one output
      // file per shard instead of (tasks × shards) small files. At real
      // scale add maxRecordsPerFile to re-split oversized shards.
      .repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(target)
    spark.read.parquet(target)
      .select(col("shard_id").cast("long").as("shard_id"), col("n_chars"), col("lang"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
           countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("shard_id"))
  }

  /** Deterministic train/val/test split — hash-threshold assignment
    * (train 80 / val 10 / test 10 by md5(doc_id) mod 100), reported as
    * per-(lang, split) counts. Content-stable: a document keeps its
    * split under any repartitioning, re-run, or corpus growth — the
    * property RNG-based splits lose. One narrow aggregation; the split
    * column itself is a pure projection usable as a partition key for
    * the output write.
    */
  def trainSplit(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", pmod(TextFns.hash60(col("doc_id").cast("string")), lit(100L)))
      .withColumn("split",
        when(col("h") < 80, lit("train")).when(col("h") < 90, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))

  def qTrainSplit(spark: SparkSession, dir: String): DataFrame =
    trainSplit(documents(spark, dir))

  /** Split-leakage audit: exact-duplicate texts that span train/val/test —
    * the eval-contamination check run before any benchmark number is
    * trusted. Groups by content digest (one linear aggregate), then one
    * global summary row: duplicate groups, cross-split groups, and the
    * exact leaked-pair count per split pair (n_a·n_b summed over groups).
    * Pure integers; the shuffle carries one row per distinct digest.
    */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .withColumn("h",
        pmod(TextFns.hash60(col("doc_id").cast("string")), lit(100L)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test"))
    d.groupBy(col("digest"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
           sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
           sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .agg(count(lit(1)).as("n_groups"),
           sum(when(col("n_train") + col("n_val") + col("n_test") > 1, 1L)
                 .otherwise(0L)).as("n_dup_groups"),
           sum(when((col("n_train") > 0).cast("int") +
                      (col("n_val") > 0).cast("int") +
                      (col("n_test") > 0).cast("int") > 1, 1L)
                 .otherwise(0L)).as("n_leaky_groups"),
           sum(col("n_train") * col("n_val")).as("leak_train_val"),
           sum(col("n_train") * col("n_test")).as("leak_train_test"),
           sum(col("n_val") * col("n_test")).as("leak_val_test"))
  }

  /** The capstone: the full training-data pipeline as ONE composed plan —
    * quality gate → near-dup cluster removal → per-language quota →
    * token-budget shard packing → per-shard manifest. Every stage is the
    * oracle-checked operator above; composition adds nothing driver-side,
    * so Catalyst still sees one tree (common scan reuse, pushdown through
    * the whole chain). This is the query a user of the library actually
    * ships.
    */
  def qPipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    // Deliberately NOT persisting the shared documents scan: measured at
    // sf0.1, caching the text column costs more than the second parquet
    // read it saves (the duplicated work is the cheap columnar scan, not
    // the shingle/join stages) — and at 100 TB one never caches the
    // corpus. Lazy composition keeps the whole pipeline one Catalyst
    // tree.
    val docs = documents(spark, dir)
    val scored = docs
      .withColumn("toks", TextFns.toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("quality",
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))) *
          (lit(1.0) - expr("size(filter(toks, t -> t = 'the' OR t = 'a'))").cast("double")
             / size(col("toks"))))
      .filter(col("n_tokens") >= 20 && col("quality") >= 0.3)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val dropped = DedupOps.dedupClusters(DedupOps.ngramJaccardPairs(docs))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    // No broadcast hint on the drop set: real web corpora are 30-80%
    // duplicates, so `dropped` is corpus-scale and a forced broadcast
    // OOMs at 100 TB. Left as a shuffled anti-join; AQE converts it to a
    // broadcast at fixture scale where it genuinely fits (the same fix
    // as dedupApply — see the pipeline_e2e_highdup probe in
    // ROUND5_NOTES: 13.4 s on a 50.8 %-duplicate corpus).
    val survivors = scored.join(dropped, Seq("doc_id"), "left_anti")
    val sampled = survivors
      .withColumn("rscore", pmod(TextFns.hash60(col("doc_id").cast("string")), lit(1000000L)))
      .filter(call_function("graft_topk",
        col("lang"), col("rscore"), col("doc_id"), lit(40)))
    val packed = packShards(sampled.select(col("doc_id"), col("n_chars")))
    packed.join(sampled.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
           countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("shard_id"))
  }

  /** Text normalization — the canonicalization stage before hashing/
    * dedup: lowercase, strip non-alphanumerics, collapse whitespace,
    * trim. Pure projection; the digest of the normalized form is what
    * URL/content-level dedup keys on. Regex classes are kept to the
    * dialect intersection (no shorthand escapes), so Java regex and RE2
    * agree byte-for-byte.
    */
  def qTextNormalize(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("norm",
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " ")))
      .select(col("doc_id"), length(col("norm")).as("norm_len"),
              md5(col("norm")).as("norm_md5"))
      .orderBy(col("doc_id"))

  /** TF-IDF top terms — the per-document salient-term extraction stage
    * (keyword indexing / topic features). tf and df are exact-integer
    * aggregates over one exploded token relation; idf = ln(N/df) with N
    * delivered by a broadcast 1-row aggregate (NOT `count().over()`, which
    * would funnel every row through one window partition). Ranking uses
    * the ROUNDED score on both engines so tie order is identical. Two
    * hash aggregations + one broadcast join + a per-doc window whose
    * partitions are documents — nothing global, balanced at any corpus
    * size.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(TextFns.toks).as("tok"))
    // df derives from the persisted tf aggregate (one row per (doc, tok),
    // so rows-per-token ≡ distinct docs per token — exactly equal), so
    // the corpus tokenize runs once, not per aggregation.
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .graftCached
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, Seq("tok")).crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  def qTfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(documents(spark, dir))

  /** Heavy hitters via a count-min sketch, with the exact counts beside
    * the estimates — the streaming-friendly frequency structure at 100 TB:
    * the sketch is D·W = 4096 counters regardless of corpus size (map-side
    * partial aggregation collapses each input partition to ≤ D·W rows
    * before the shuffle, so the exchange is O(D·W·partitions), never
    * O(tokens)). Buckets are md5-derived, so the estimates — not just the
    * flags — are deterministic and hash-pinned by the oracle. The CMS
    * guarantee (estimate never undercounts; overcount ≤ εN w.h.p.) is
    * emitted as boolean invariant columns, `q_sketch_accuracy`-style.
    */
  def heavyHitters(docs: DataFrame, k: Int = 20, W: Int = 1024,
                   D: Int = 4): DataFrame = {
    val seeds = array((0 until D).map(lit): _*)
    def bucket(seedCol: Column, tok: Column): Column =
      pmod(TextFns.hash60(concat(lit("cms"), seedCol, lit(":"), tok)), lit(W))

    // ONE tokenization pass: both the sketch and the exact top-k hang off
    // the SAME persisted token-count aggregate. The sketch then sums
    // pre-counted tokens: its input is the distinct-token relation, not
    // the corpus, and still collapses to <= D*W cells map-side before
    // its (tiny) exchange.
    val tokCounts = docs.select(explode(TextFns.toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
      // Persisted (vocab rows): the round-9 plan audit showed the
      // ReuseExchange claim above does not hold in the final plan —
      // sketch and exact-top-k each re-ran the corpus tokenization.
      .graftCached
    val sketch = tokCounts
      .select(explode(seeds).as("seed"), col("token"), col("exact_cnt"))
      .groupBy(col("seed"), bucket(col("seed"), col("token")).as("bucket"))
      .agg(sum(col("exact_cnt")).as("cnt"))
      .graftCached // D*W cells; fed to total + probe join
    val exact = tokCounts
      .orderBy(col("exact_cnt").desc, col("token").asc).limit(k)
    // N falls out of the sketch itself (each seed row partitions all
    // tokens across its buckets) — no third pass over the corpus.
    val total = sketch.filter(col("seed") === 0)
      .agg(sum(col("cnt")).as("n_total"))
    val probes = exact
      .select(col("token"), col("exact_cnt"), explode(seeds).as("seed"))
      .withColumn("bucket", bucket(col("seed"), col("token")))
    probes
      .join(broadcast(sketch), Seq("seed", "bucket"))
      .groupBy(col("token"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .crossJoin(broadcast(total))
      .select(col("token"), col("exact_cnt"), col("cms_est"),
              (col("cms_est") >= col("exact_cnt")).as("no_undercount"),
              (col("cms_est") <= col("exact_cnt") + col("n_total") / 100)
                .as("within_1pct_n"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
  }

  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(documents(spark, dir))

  /** Bigram language-model statistics: the top-k corpus bigrams with
    * their conditional probability p(w2|w1) = c(w1,w2)/c(w1·) — the
    * n-gram LM estimation pass of a text pipeline. One exploded bigram
    * relation feeds both counts (two hash aggregations, co-partitioned
    * join on w1); ties at the top-k boundary break on (w1, w2) so the
    * selected set is engine-independent.
    */
  def bigramLm(docs: DataFrame, k: Int = 20): DataFrame = {
    val bg = docs
      .withColumn("toks", TextFns.toks)
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] as w1, toks[i+1] as w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    // Marginal c1 derives from the bigram aggregate itself (c1 =
    // Σ_w2 c12 — exactly equal integer counts), so the corpus-scale
    // bigram explode runs ONCE into the persisted c12 instead of once
    // per aggregation (the round-9 lineage-clone audit).
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .graftCached
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    c12.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
              round(col("c12") / col("c1"), 6).as("p_cond"))
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  def qBigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLm(documents(spark, dir))

  /** Generation-diversity metric (distinct-n, Li et al. 2016): per
    * source, distinct unigrams / total and distinct bigrams / total in
    * exact ppm — the corpus-health check that a synthetic-data or
    * aggressive-dedup pipeline hasn't collapsed diversity (mode
    * collapse reads as a falling distinct-2). Two hash aggregates with
    * partial count_distinct; the bigram relation is [[bigramLm]]'s
    * adjacent-pair transform, so both n-gram spaces match the LM rows'.
    */
  def distinctNgrams(docs: DataFrame): DataFrame = {
    val uni = docs.select(col("source"), explode(TextFns.toks).as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_uni"), countDistinct(col("w")).as("d_uni"))
    val bi = docs.withColumn("toks", TextFns.toks)
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] as w1, toks[i+1] as w2))")).as("b"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bi"),
           countDistinct(col("b.w1"), col("b.w2")).as("d_bi"))
    uni.join(bi, Seq("source"))
      .select(col("source"), col("n_uni"), col("d_uni"), col("n_bi"), col("d_bi"),
        expr("d_uni * 1000000L div n_uni").as("distinct1_ppm"),
        expr("d_bi * 1000000L div n_bi").as("distinct2_ppm"))
      .orderBy(col("source"))
  }

  def qDistinctNgrams(spark: SparkSession, dir: String): DataFrame =
    distinctNgrams(documents(spark, dir))

  /** Feature-hashed bag-of-words vectorizer (HashingTF; Weinberger et
    * al. 2009): token → bucket `hash60("fh:" + token) % 1024`, per-doc
    * sparse count vector summarized as (nnz, n_tokens, vec_md5) where
    * vec_md5 digests the bucket-ordered `bucket:count` pairs — the
    * fixed-dimension feature-extraction step of a classical ML pipeline,
    * with the digest making the WHOLE vector oracle-checkable without
    * materializing 1024 columns. Two hash aggregates ((doc, bucket)
    * then doc); the in-row struct sort runs over ≤1024 entries.
    * Collisions are the scheme's documented tradeoff — both engines
    * share the md5 bucket map, so they collide identically.
    */
  def featureHash(docs: DataFrame, dim: Int = 1024): DataFrame =
    docs.select(col("doc_id"), explode(TextFns.toks).as("w"))
      .select(col("doc_id"),
              (TextFns.hash60(concat(lit("fh:"), col("w"))) % dim).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nnz"), sum(col("c")).as("n_tokens"),
           md5(concat_ws(",", expr(
             "transform(array_sort(collect_list(struct(bucket, c))), " +
               "s -> concat(s.bucket, ':', s.c))"))).as("vec_md5"))
      .orderBy(col("doc_id"))

  def qFeatureHash(spark: SparkSession, dir: String): DataFrame =
    featureHash(documents(spark, dir))

  /** Positional phrase search — the exact-adjacency retrieval the
    * AND-semantics [[qTermSearch]] can't express: a document matches
    * when the phrase's tokens occur at CONSECUTIVE positions. The plan
    * is the positional-postings shape a search engine runs: one
    * tokenize-with-position pass, each phrase term's posting list
    * filtered BEFORE any join (term selectivity prunes first), then
    * adjacency = an equi-join on (doc_id, pos − term_offset) — never a
    * string re-scan, never a cartesian. At 100 TB the postings relation
    * is the shared tokenize output and each leg is a pushed-down filter
    * of it; the joins carry only (doc_id, p0) pairs.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val toks = docs.select(col("doc_id"),
      posexplode(TextFns.toks).as(Seq("pos", "tok")))
    val legs = phrase.zipWithIndex.map { case (w, i) =>
      toks.filter(col("tok") === w)
        .select(col("doc_id"), (col("pos") - i).as("p0"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "p0")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
           min(col("p0")).as("first_pos"), max(col("p0")).as("last_pos"))
      .orderBy(col("doc_id"))
  }

  def qPhraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearch(documents(spark, dir), Seq("window", "join"))

  /** Deterministic synthetic SUPERVISION for the quality trainer: the
    * md5-closed-form teacher weights (the pre-round-13 serving weights,
    * now demoted from model to LABELER). The fixture ships no human
    * quality judgments, so labels y = sign≥0 of the teacher's raw-count
    * score stand in — deterministic, oracle-reproducible, and linearly
    * realizable, so the student's few-round fit is a real learnability
    * exercise rather than noise-chasing. A production run swaps this
    * relation for judged labels; nothing else changes. */
  private[graft] def teacherWeights(spark: SparkSession, dim: Int): DataFrame =
    spark.range(dim).select(col("id").as("bucket"),
      (TextFns.hash60(concat(lit("qw:"), col("id").cast("string")))
        % 2001 - 1000).as("twgt"))

  /** Hashed bag-of-words bucket counts `(doc_id, bucket, c)` — the ONE
    * corpus-width pass of both training and serving; every perceptron
    * round below runs over this narrow cached relation (at 100 TB it
    * would persist as a table between rounds). */
  private def bowCounts(docs: DataFrame, dim: Int): DataFrame =
    docs.select(col("doc_id"), explode(TextFns.toks).as("w"))
      .select(col("doc_id"),
        (TextFns.hash60(concat(lit("fh:"), col("w"))) % dim).as("bucket"))
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("c"))

  /** Fixed-round distributed BATCH PERCEPTRON over corpus-CENTERED
    * features with a 1/r step decay — the exact-integer trainer behind
    * [[qualityClassify]].
    *
    * Why centered: raw bucket counts share one dominant mean direction
    * (the fixture vocabulary is uniform across documents), so any
    * few-round first-order method just ping-pongs along it (measured:
    * lr-invariant period-2 oscillation, all-pass ↔ all-fail). Centering
    * x̃ = D·c − s (D = doc count, s_b = corpus bucket sums — exact
    * integers, no 1/D anywhere) removes that direction, after which the
    * batch iterates actually descend. Crucially the centering never
    * densifies anything: margin_d = D·(c_d·w) − Σ_b w_b·s_b — a sparse
    * dot plus ONE broadcast scalar — and the gradient over the
    * misclassified set M is g_b = D·Σ_M y·c_b − s_b·Σ_M y, a sparse
    * aggregate plus a scalar times the bucket-sum relation.
    *
    * The update w += trunc(g/r) (1/r decay; truncation-toward-zero
    * written as sign·(|g| div r) so Spark and DuckDB agree on negative
    * operands) converges to min-error accuracy 0.94–0.97 across SFs in
    * 8 rounds (swept against constant/halving × last/avg/pocket — 1/r +
    * last-iterate won). Every quantity is an order-independent integer
    * sum, so the DuckDB oracle unrolls the rounds bit-exactly (the
    * q_bpe_train pattern). Driver traffic per round is one stats row
    * (convergence-scalar class); weights/labels localCheckpoint so the
    * loop plan stays flat (the kTruss analyzer lesson).
    *
    * Returns (final weights, D, W = Σ w·s of the final weights, per-
    * round trajectory (n_mis, weight L1, position checksum)). */
  private def perceptronFit(docs: DataFrame, dim: Int, rounds: Int)
      : (DataFrame, Long, Long, Seq[(Int, Long, Long, Long)]) = {
    val spark = docs.sparkSession
    val counts = bowCounts(docs, dim).graftCached
    val dCount = docs.count()
    val labels = counts
      .join(broadcast(teacherWeights(spark, dim)), Seq("bucket"))
      .groupBy(col("doc_id")).agg(sum(col("c") * col("twgt")).as("tm"))
      .select(col("doc_id"), when(col("tm") >= 0, 1L).otherwise(-1L).as("y"))
      .localCheckpoint()
    val sb = spark.range(dim).select(col("id").as("bucket"))
      .join(counts.groupBy(col("bucket")).agg(sum(col("c")).as("s")),
        Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("s"), lit(0L)).as("s"))
      .localCheckpoint()
    var w = spark.range(dim)
      .select(col("id").as("bucket"), lit(0L).as("wgt")).localCheckpoint()
    var bigW = 0L
    val stats = Seq.newBuilder[(Int, Long, Long, Long)]
    for (r <- 1 to rounds) {
      val mis = counts.join(broadcast(w), Seq("bucket"))
        .groupBy(col("doc_id")).agg(sum(col("c") * col("wgt")).as("dot"))
        .join(labels, Seq("doc_id"))
        .filter(col("y") * (col("dot") * lit(dCount) - lit(bigW)) <= 0)
        .select(col("doc_id"), col("y"))
        .localCheckpoint()
      val misAgg = mis.agg(count(lit(1)).as("n"),
        coalesce(sum(col("y")), lit(0L)).as("ym")).head()
      val (nMis, ym) = (misAgg.getLong(0), misAgg.getLong(1))
      val gsp = counts.join(mis, Seq("doc_id"))
        .groupBy(col("bucket")).agg(sum(col("y") * col("c")).as("gs"))
      w = w.join(gsp, Seq("bucket"), "left").join(sb, Seq("bucket"))
        .withColumn("gg",
          coalesce(col("gs"), lit(0L)) * lit(dCount) - col("s") * lit(ym))
        .withColumn("upd", when(col("gg") < 0, -expr(s"(-gg) div ${r}L"))
          .otherwise(expr(s"gg div ${r}L")))
        .select(col("bucket"), (col("wgt") + col("upd")).as("wgt"))
        .localCheckpoint()
      val wAgg = w.join(sb, Seq("bucket"))
        .agg(sum(abs(col("wgt"))).as("l1"),
          sum((col("bucket") + 1) * col("wgt")).as("ck"),
          sum(col("wgt") * col("s")).as("ws")).head()
      bigW = wAgg.getLong(2)
      stats += ((r, nMis, wAgg.getLong(0), wAgg.getLong(1)))
    }
    (w, dCount, bigW, stats.result())
  }

  /** Quality-classifier TRAINING trajectory: one row per perceptron
    * round with the misclassified count and exact weight aggregates —
    * the convergence record a curation pipeline logs beside the model. */
  def qualityTrain(docs: DataFrame, dim: Int = 1024,
                   rounds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    perceptronFit(docs, dim, rounds)._4
      .toDF("round", "n_mis", "w_l1", "w_checksum")
      .orderBy(col("round"))
  }

  /** The trainer row now ALSO freezes its artifact: training goes
    * through [[qualityModelFor]], which persists the learned weights +
    * centering constants + trajectory in the KeyedStore (the ANN
    * codebook pattern, round-13 verdict item #3) — the serve rows read
    * the frozen model instead of silently re-running 8 full-corpus
    * rounds each (the round-13 bench's two `suspect` rows). */
  def qQualityTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    qualityModelFor(spark, dir, 1024, 8).stats
      .toDF("round", "n_mis", "w_l1", "w_checksum")
      .orderBy(col("round"))
  }

  /** A frozen quality model: the learned weight vector (driver-side —
    * `dim` rows, the size class of an ANN codebook), the centering
    * constants D and W that ship with it, the training trajectory, and
    * the corpus fingerprint it was trained on. */
  private[graft] final case class QualityModel(
      weights: Seq[(Long, Long)], d: Long, bigW: Long,
      stats: Seq[(Int, Long, Long, Long)], fp: Long)

  private val qualityMemo =
    new java.util.concurrent.ConcurrentHashMap[String, QualityModel]

  /** Cheap corpus fingerprint guarding frozen artifacts: models are
    * keyed by directory PATH, and a REGENERATED corpus at the same path
    * must invalidate them — one aggregate over (count, Σn_chars,
    * Σdoc_id) catches any regen without hashing text. */
  private def corpusFingerprint(docs: DataFrame): Long =
    docs.agg((count(lit(1)) * 1000003L + sum(col("n_chars")) * 31L +
      sum(col("doc_id"))).as("fp")).head().getLong(0)

  /** Train-once / serve-frozen registry (round-13 verdict item #3): the
    * model for (corpus dir, dim, rounds) resolves in order from (1) the
    * in-JVM memo, (2) the KeyedStore artifact table — IF its stored
    * corpus fingerprint still matches, exactly how a production
    * pipeline serves a model registry artifact — and only then (3) a
    * fresh [[perceptronFit]], whose result persists to the store
    * (replacing a stale artifact) before returning. Training is exact
    * integer arithmetic, so a frozen model is bit-identical to a fresh
    * train on the same corpus — TextExtSpec pins stored-vs-fresh score
    * equality, and the DuckDB oracle keeps unrolling the full training
    * (the frozen serve must still match it hash-for-hash). */
  private[graft] def qualityModelFor(spark: SparkSession, dir: String,
                                     dim: Int, rounds: Int): QualityModel = {
    val key = s"$dir|$dim|$rounds"
    // A memo hit returns without re-fingerprinting: the corpus cannot
    // change under a live JVM's run; the fingerprint guards the STORE
    // artifact across runs (fixture regeneration between rounds).
    val hit = qualityMemo.get(key)
    if (hit != null) return hit
    val docs = documents(spark, dir)
    val fp = corpusFingerprint(docs)
    val name = s"graft_model_quality_${dim}_${rounds}_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val loaded: Option[QualityModel] =
      if (KeyedStore.exists(spark, name)) {
        val rows = KeyedStore.scan(spark, name, "row_key", "a", "zz").collect()
        val byKind = rows.groupBy(_.getAs[String]("row_key").take(1))
        val meta = byKind("m").head
        if (meta.getAs[Long]("v0") != fp) None // stale: corpus regenerated
        else Some(QualityModel(
          byKind.getOrElse("w", Array.empty[org.apache.spark.sql.Row]).toSeq
            .map(r => (r.getAs[Long]("v0"), r.getAs[Long]("v1")))
            .sortBy(_._1),
          meta.getAs[Long]("v1"), meta.getAs[Long]("v2"),
          byKind.getOrElse("s", Array.empty[org.apache.spark.sql.Row]).toSeq
            .map(r => (r.getAs[Long]("v0").toInt, r.getAs[Long]("v1"),
              r.getAs[Long]("v2"), r.getAs[Long]("v3")))
            .sortBy(_._1),
          fp))
      } else None
    val model = loaded.getOrElse {
      val (w, d, bigW, stats) = perceptronFit(docs, dim, rounds)
      val weights = w.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq
      val m = QualityModel(weights, d, bigW, stats, fp)
      import spark.implicits._
      val rows =
        (Seq(("m0", fp, m.d, m.bigW, 0L)) ++
          weights.map { case (b, wg) => (f"w$b%06d", b, wg, 0L, 0L) } ++
          stats.map { case (r, nm, l1, ck) =>
            (f"s$r%06d", r.toLong, nm, l1, ck) })
          .toDF("row_key", "v0", "v1", "v2", "v3")
      if (KeyedStore.exists(spark, name)) KeyedStore.drop(spark, name)
      KeyedStore.create(spark, name, rows, "row_key", 4096)
      m
    }
    qualityMemo.put(key, model)
    model
  }

  /** Test hook: drop the in-JVM model memos so the next registry call
    * exercises the KeyedStore load path (TextExtSpec pins stored-vs-
    * fresh equality through it). */
  private[graft] def clearModelMemos(): Unit = {
    qualityMemo.clear()
    bpeMemo.clear()
  }

  /** Serve a weight relation + centering constants over a corpus — the
    * one-broadcast inference pass shared by the train-inline and the
    * frozen-model entry points. */
  private def classifyWith(docs: DataFrame, w: DataFrame, d: Long,
                           bigW: Long, dim: Int): DataFrame =
    bowCounts(docs, dim)
      .join(broadcast(w), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nnz"), sum(col("c")).as("n_tokens"),
           (sum(col("c") * col("wgt")) * lit(d) - lit(bigW)).as("score"))
      .withColumn("quality_pass", col("score") >= 0)
      .orderBy(col("doc_id"))

  private def modelWeightsDF(spark: SparkSession,
                             m: QualityModel): DataFrame = {
    import spark.implicits._
    m.weights.toDF("bucket", "wgt")
  }

  /** Quality-classifier INFERENCE over the hashed bag of words — the
    * fastText-style linear gate every corpus curation pipeline runs
    * (Brown et al. 2020's quality filter shape), serving the
    * [[perceptronFit]]-LEARNED model (no more md5 stand-in weights —
    * the closed form is now only the labeler, [[teacherWeights]]):
    * score = the student's centered margin D·Σ c·w − W as an exact
    * BIGINT, pass = score ≥ 0. The model side is one broadcast of the
    * dim-row weight relation onto the (doc, bucket, count) aggregate —
    * at 100 TB the corpus side partial-aggregates map-side and the
    * model never exceeds one broadcast, exactly how a trained
    * classifier serves in a Spark pipeline (the centering constants D
    * and W ship with the model like any feature-standardization
    * parameters). */
  def qualityClassify(docs: DataFrame, dim: Int = 1024,
                      rounds: Int = 8): DataFrame = {
    val (w, d, bigW, _) = perceptronFit(docs, dim, rounds)
    classifyWith(docs, w, d, bigW, dim)
  }

  /** The driver serve row reads the FROZEN model (registry → store →
    * train-once), so serving costs one broadcast join over the corpus
    * aggregate — not 8 hidden training rounds (round-13 verdict item
    * #3; the generic-relation [[qualityClassify]] keeps the train-
    * inline semantics for arbitrary inputs and now exposes `rounds`,
    * the round-13 ADVICE gap). */
  def qQualityClassify(spark: SparkSession, dir: String): DataFrame =
    classifyFrozen(spark, dir, documents(spark, dir))

  /** Serve the FROZEN model over an arbitrary document relation — the
    * per-batch scorer of [[graft.streaming.DocStream.qStreamQualityGate]]
    * and the corpus pass above. */
  private[graft] def classifyFrozen(spark: SparkSession, dir: String,
                                    docs: DataFrame): DataFrame = {
    val m = qualityModelFor(spark, dir, 1024, 8)
    classifyWith(docs, modelWeightsDF(spark, m), m.d, m.bigW, 1024)
  }

  /** Classifier-gated pipeline: [[qualityClassify]] as the quality gate,
    * exact content dedup among the survivors (keep-first by doc_id per
    * text digest — gate BEFORE dedup, so a high-scoring duplicate of a
    * rejected doc survives), per-language corpus report. The three
    * stages compose in one plan: gate join → digest window → language
    * aggregate, with only (digest, doc_id) pairs and per-doc scalars in
    * any exchange. */
  def qPipelineClassified(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val kept = qQualityClassify(spark, dir).filter(col("quality_pass"))
      .select(col("doc_id"), col("score"))
    val deduped = docs
      .join(kept, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    deduped.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           sum(col("score")).as("total_score"))
      .orderBy(col("lang"))
  }

  /** Top-20 collocations by pointwise mutual information over corpus
    * bigrams: PMI = ln(c12·Nb / (c1•·c•2)) with every count exact (the
    * bigram total and both directional marginals), min support 5, ranked
    * on the ROUNDED 6dp score with (w1, w2) ties so the selected set is
    * engine-independent. Same exploded bigram relation as [[bigramLm]];
    * three hash aggregations + a broadcast scalar + a TakeOrdered —
    * linear at any corpus size, marginals are vocabulary-sized.
    */
  def qPmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val bg = documents(spark, dir)
      .withColumn("toks", TextFns.toks)
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] as w1, toks[i+1] as w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    // All three marginals derive from the persisted bigram aggregate
    // (c1 = Σ_w2 c12, c2 = Σ_w1 c12, Nb = Σ c12 — exactly equal integer
    // counts), so the corpus explode runs once, not four times.
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .graftCached
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val nb = c12.agg(sum(col("c12")).as("nb"))
    c12.filter(col("c12") >= 5)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(nb))
      .withColumn("pmi", round(
        expr("ln(cast(c12 as double) * nb / (cast(c1 as double) * c2))"), 6))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
  }

  /** Token counting with a BPE-ish pre-tokenizer regex (letter runs, digit
    * runs, single punctuation) plus alpha-char mass.
    */
  def qBpeTokenCount(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(
        col("doc_id"),
        // regexp_count counts matches without materializing the token
        // strings (size(regexp_extract_all(...)) allocates them all)
        expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')").as("n_bpe_tokens"),
        length(regexp_replace(col("text"), "[^a-z]", "")).as("n_alpha"))
      .orderBy(col("doc_id"))

  /** Inverted-index build: token → document-frequency + posting-list
    * summary (bounds and an exact checksum), kept for tokens appearing in
    * ≥10% of the corpus (relative threshold, so the row set is stable
    * across scale factors). This is the search-index construction pass:
    * explode distinct per-doc tokens, one hash aggregation keyed on the
    * token. At 100 TB the posting lists themselves stay distributed
    * (token-partitioned); conjunctive queries are co-partitioned joins of
    * posting relations on doc_id — InvertedIndexSpec demonstrates the
    * AND-query against this index.
    */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
                explode(array_distinct(TextFns.toks)).as("token"))

  def qInvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    postings(docs)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"),
           sum(col("doc_id")).as("posting_sum"))
      .crossJoin(broadcast(nDocs)) // single-row corpus size
      .filter(col("df") * 10 >= col("n_docs"))
      .select(col("token"), col("df"), col("first_doc"), col("last_doc"),
              col("posting_sum"))
      .orderBy(col("df").desc, col("token"))
  }

  /** Exact stratified sampling: keep ceil(20%) of every language stratum,
    * selected by deterministic md5 hash order (content-stable — a doc's
    * membership survives repartitioning and re-runs; proportions are
    * EXACT per stratum, unlike Bernoulli `sample()`). One window pass:
    * the per-stratum count and rank share the lang partitioning, so the
    * query is a single shuffle on lang. At 100 TB with few strata,
    * rank-within-stratum would bottleneck on per-stratum sort width; the
    * same semantics then run as hash-threshold selection per stratum
    * (q_sample_deterministic's shape) with a quantile-estimated cutoff.
    */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val wRank = Window.partitionBy(col("lang")).orderBy(col("hkey"), col("doc_id"))
    val wAll = Window.partitionBy(col("lang"))
    documents(spark, dir)
      .select(col("doc_id"), col("lang"),
              TextFns.hash60(col("doc_id").cast("string")).as("hkey"))
      .withColumn("n_l", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") * 5 - 4 <= col("n_l")) // rn <= ceil(n_l / 5)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic weighted sampling without replacement (priority
    * sampling): k = 100 docs selected with probability increasing in
    * weight (n_chars), via priority = hash60(doc_id) / weight — the
    * smallest-k priorities win, so a doc with twice the weight is twice
    * as likely to beat any given hash draw. Content-stable (a doc's
    * priority never depends on partitioning or corpus membership), so
    * samples are reproducible across runs AND incrementally mergeable:
    * the k smallest priorities of a union are computable from per-shard
    * top-k — a TakeOrdered, never a global sort. The priority is one
    * IEEE division of the oracle-shared 60-bit hash by an exact integer,
    * identical on both engines; ties are impossible (distinct hashes).
    */
  def qPrioritySample(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (TextFns.hash60(col("doc_id").cast("string")).cast("double") / col("n_chars"))
          .as("prio"))
      .orderBy(col("prio"), col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("lang"), col("n_chars"), round(col("prio"), 6).as("prio"))

  /** The custom Generator (UDTF surface): `graft_sliding(toks, 5, 3)`
    * fans each document out to its stride-3 5-token windows through
    * Spark's own GenerateExec — the same physical treatment as `explode`,
    * but the fan-out logic is the custom [[graft.functions.SlidingWindows]]
    * expression injected by GraftExtensions. Per-doc window census with
    * lexicographic first/last window strings pins every emitted row.
    */
  def qSlidingWindows(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"),
              call_function("graft_sliding", TextFns.toks, lit(5), lit(3))
                .as("win"))
      .select(col("doc_id"), array_join(col("win"), " ").as("ws"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_wins"),
           countDistinct(col("ws")).as("n_distinct"),
           min(col("ws")).as("first_win"), max(col("ws")).as("last_win"))
      .orderBy(col("doc_id"))

  /** Ranked conjunctive retrieval over the corpus: score = Σ tf(t,d) ·
    * idf_scaled(t) for the query terms, AND semantics (every term must
    * hit), top-20 by (score desc, doc_id). idf is the integer-scaled
    * rational (N·10⁶) div df — deterministic on both engines, no log. The
    * per-term posting lists are the only thing scanned after the explode;
    * idf rides a broadcast of |terms| rows. At 100 TB the tf relation is
    * the precomputed inverted index (q_inverted_index) and this query is
    * two index joins + TakeOrdered — no corpus scan at all.
    */
  def qTermSearch(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "join")
    val docs = documents(spark, dir)
    // Persisted (query-term postings only): feeds idf AND the score join
    // — un-persisted, the corpus tokenize ran per reference.
    val tf = docs
      .select(col("doc_id"), explode(TextFns.toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .graftCached
    val idf = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("token"), col("df"),
              expr("(n_docs * 1000000) div df").as("idf_s"))
    tf.join(broadcast(idf), "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("idf_s")).as("score"),
           count(lit(1)).as("n_terms_hit"))
      .filter(col("n_terms_hit") === terms.size)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones): idf(t) =
    * ln((N − df + 0.5)/(df + 0.5) + 1), per-doc term weight
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) with k1 = 1.2, b = 0.75.
    * Each term's contribution is rounded to integer MICRO-points BEFORE
    * the per-doc sum, so the doc score is an exact BIGINT — float adds
    * reordered by partial aggregation can drift in the last ulp; exact
    * micro-units cannot. OR semantics over the query terms; top-20 by
    * (score desc, doc_id). Same access shape as [[qTermSearch]]: posting
    * lists for the query terms only, broadcast per-term idf, one per-doc
    * aggregate — at 100 TB this runs off the precomputed inverted index
    * (q_inverted_index) with no corpus scan at all.
    */
  /** `(doc_id, score_micro, n_terms_hit)` — the full BM25-scored
    * relation [[qBm25]] cuts to top-20 and the hybrid RRF fusion
    * ([[SimilarityOps.hybridRrf]]) re-ranks against a dense retriever.
    * OR semantics (docs hitting ≥1 query term). */
  private[ops] def bm25Scores(docs: DataFrame, terms: Seq[String]): DataFrame = {
    // lens (2 longs/doc) and the query-term postings are each referenced
    // twice; persisted so the two tokenize passes run once each.
    val lens = docs.select(col("doc_id"), size(TextFns.toks).as("dl"))
      .graftCached
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = docs
      .select(col("doc_id"), explode(TextFns.toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .graftCached
    val idf = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("token"), col("df"), col("n_docs"), col("total_dl"),
        expr("ln((cast(n_docs as double) - df + 0.5) / (df + 0.5) + 1.0)").as("idf"))
    tf.join(broadcast(idf), "token")
      .join(lens, "doc_id")
      .withColumn("contrib_micro", expr(
        "cast(round(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (cast(total_dl as double) / n_docs))) * 1000000.0) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_micro")).as("score_micro"), count(lit(1)).as("n_terms_hit"))
  }

  def qBm25(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(documents(spark, dir), Seq("spark", "join", "data"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(20)

  /** MRR@10 ranking evaluation of the BM25 retriever — the eval loop any
    * retrieval stack ships with. Per query term, documents rank by the
    * per-term BM25 contribution (identical formula to [[qBm25]]); the
    * graded relevance label is `tf ≥ 3` (derived, deterministic); the
    * reciprocal rank 10⁶/k is exact integer ppm — no logs, no floats in
    * the metric itself. The top-10 cut runs on the custom `graft_topk`
    * operator (bounded map-side heaps — the exchange carries ≤ 10·|terms|
    * rows per input partition, where a per-term rank window would sort
    * every posting of every term, single-task per hot term); the ranking
    * window after the cut sees ≤ 10 rows per term.
    */
  def qMrrEval(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "join", "data")
    val docs = documents(spark, dir)
    val lens = docs.select(col("doc_id"), size(TextFns.toks).as("dl"))
      .graftCached
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = docs
      .select(col("doc_id"), explode(TextFns.toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .graftCached
    val idf = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("token"),
        expr("ln((cast(n_docs as double) - df + 0.5) / (df + 0.5) + 1.0)").as("idf"),
        col("n_docs"), col("total_dl"))
    val scored = tf.join(broadcast(idf), "token").join(lens, "doc_id")
      .withColumn("score_micro", expr(
        "cast(round(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / " +
        "(cast(total_dl as double) / n_docs))) * 1000000.0) as bigint)"))
    val w = Window.partitionBy(col("token"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored
      // score_micro ≪ 2^53 — exact in the operator's double-keyed heap.
      .filter(call_function("graft_topk",
        col("token"), col("score_micro").cast("double"), col("doc_id"), lit(10)))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_ranked"),
           min(when(col("tf") >= 3, col("rn"))).as("fr"))
      .select(col("token"), col("n_ranked"),
              coalesce(col("fr"), lit(0)).cast("long").as("first_rank"),
              coalesce(expr("cast(1000000 div fr as bigint)"), lit(0L))
                .as("rr_ppm"))
      .orderBy(col("token"))
  }

  /** Per-language vocabulary size via HyperLogLog (Flajolet et al. 2007),
    * m = 256 registers, reported beside the exact distinct count. The
    * registers are exact integers off the oracle-shared 60-bit md5 hash:
    * register = h mod m, rank = leading-zero count of the remaining 52
    * bits + 1 (via binary-string length — no floats anywhere in the
    * sketch). The harmonic mean runs off an EXACT BIGINT
    * Z = Σⱼ 2^(53−Mⱼ) (≤ m·2^53 < 2^63, empty registers contribute 2^53),
    * so the only floating arithmetic is the final α·m²·2^53/Z — one
    * shared IEEE expression — plus the standard small-range
    * linear-counting correction (E ≤ 2.5m with V empty registers →
    * m·ln(m/V)). The per-register maxima partial-aggregate map-side to
    * ≤ m rows per partition per lang, so the exchange is O(langs·m),
    * never O(tokens) — the mergeable-sketch shape that replaces exact
    * count-distinct at 100 TB (and `q_sketch_accuracy`-style, the exact
    * count rides along to pin the error).
    */
  /** HLL register maxima (key, reg, mrho) for a keyed string relation —
    * the mergeable partial state: registers from disjoint slices of the
    * data combine by per-register max (HllSketchSpec pins this), which is
    * exactly what Spark's partial aggregation does map-side here.
    */
  def hllRegisters(rel: DataFrame, key: Column, value: Column,
                   m: Int = 256): DataFrame =
    rel.select(key.as("key"), TextFns.hash60(value).as("h"))
      .withColumn("reg", pmod(col("h"), lit(m)))
      .withColumn("w", expr(s"h div $m"))
      .withColumn("rho", when(col("w") === 0, lit(53))
        .otherwise(lit(53) - length(regexp_replace(bin(col("w")), "^0+", ""))))
      .groupBy(col("key"), col("reg"))
      .agg(max(col("rho")).as("mrho"))

  def qHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val m = 256
    val toks = documents(spark, dir)
      .select(col("lang"), explode(TextFns.toks).as("token"))
    val regs = hllRegisters(toks, col("lang"), col("token"), m)
      .withColumnRenamed("key", "lang")
    val sketch = regs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_hit"),
           sum(expr("shiftleft(cast(1 as bigint), cast(53 - mrho as int))")).as("z_hit"))
      .withColumn("z", col("z_hit") + (lit(m) - col("n_hit")) * lit(1L << 53))
      .withColumn("v", lit(m) - col("n_hit"))
      .withColumn("e_raw",
        expr(s"0.7213 / (1.0 + 1.079 / $m) * $m * $m * 9007199254740992.0 / z"))
      .withColumn("est", expr(
        s"cast(round(case when e_raw <= 2.5 * $m and v > 0 " +
          s"then $m * ln(cast($m as double) / v) else e_raw end) as bigint)"))
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("token")).as("exact_distinct"))
    sketch.join(exact, Seq("lang"))
      .select(col("lang"), col("n_hit"), col("est"), col("exact_distinct"),
        (abs(col("est") - col("exact_distinct")) * 5 <= col("exact_distinct"))
          .as("within_20pct"))
      .orderBy(col("lang"))
  }

  /** Perplexity-based quality filter: score every document by its average
    * negative log-likelihood under the corpus's own bigram LM (the
    * [[bigramLm]] statistics) and flag high-perplexity outliers — the
    * model-based quality gate of an LLM data pipeline (fluent,
    * corpus-typical text scores low; repetitive or anomalous text scores
    * high). Per bigram: nll = ln(c(w1·)/c(w1,w2)), rounded to integer
    * MICRO-nats before the per-doc sum so the total is an exact BIGINT —
    * order-independent under any partial-aggregation schedule; avg is an
    * exact integer division.
    *
    * Shape: the bigram explode collapses IMMEDIATELY to per-(doc, bigram)
    * counts — one partial-combined aggregate whose exchange every
    * downstream branch reuses (c12, c1, and the LM join all read the same
    * shuffle, so the tokenize+explode runs once, not three times), and the
    * wide LM join's probe side is distinct-bigrams-per-doc, not raw bigram
    * occurrences (the per-doc score weights each bigram's nll by its
    * count: Σ cnt·nll ≡ Σ-over-occurrences nll exactly). This is the
    * pre-aggregate-before-the-wide-stage rule that keeps the explode-bound
    * cost sublinear in corpus repetition. The LM relation itself is
    * vocabulary-sized, not corpus-sized.
    */
  def qPerplexityFilter(spark: SparkSession, dir: String): DataFrame = {
    // ≈ p90 of the fixture's avg-NLL distribution (stable 3.25–3.64
    // nats across SFs): flags the high-perplexity tail as drop candidates.
    val keepBelowMicroNats = 3420000L // avg NLL ≤ 3.42 nats ≈ ppl ≤ 30.6
    val bgc = documents(spark, dir)
      .withColumn("toks", TextFns.toks)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] as w1, toks[i+1] as w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      // Persisted: the shared-exchange claim above did NOT hold in the
      // final plan (round-9 audit: 3 corpus explodes); c12/c1/score all
      // read this per-(doc,bigram) aggregate.
      .graftCached
    val c12 = bgc.groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("c12"))
    val c1 = bgc.groupBy(col("w1")).agg(sum(col("cnt")).as("c1"))
    val nll = c12.join(c1, Seq("w1"))
      .withColumn("nll_micro", expr(
        "cast(round(ln(cast(c1 as double) / c12) * 1000000.0) as bigint)"))
      .select(col("w1"), col("w2"), col("nll_micro"))
    bgc.join(nll, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("nll_micro")).as("nll_total_micro"),
           sum(col("cnt")).as("n_bigrams"))
      .withColumn("avg_nll_micro", expr("nll_total_micro div n_bigrams"))
      .withColumn("keep_doc", col("avg_nll_micro") <= lit(keepBelowMicroNats))
      .orderBy(col("doc_id"))
  }

  /** Quantile-threshold quality filter: drop the bottom quartile of each
    * language by document length — the "keep docs above the corpus p25"
    * curation step, with the quantile computed EXACTLY as an order
    * statistic (rank > floor(n/4) in (n_chars, doc_id) order) rather than
    * an interpolated percentile, so both engines agree bit-for-bit
    * including ties. One shuffle: the rank and the per-lang count share
    * the lang partitioning. The per-lang sort is the honest cost; at
    * 100 TB with few langs the same rule runs off a sampled-quantile
    * cutoff + one filter pass (no rank), trading exactness for linearity.
    */
  /** Parameterized core of [[qQuantileFilter]]: within each `group`, keep
    * rows above the exact `dropNum/dropDen` order-statistic cut on
    * (`score`, `tie`) order. Returns the kept rows with `n_l` (group
    * size) attached.
    */
  def quantileThresholdFilter(df: DataFrame, group: String, score: String,
                              tie: String, dropNum: Int = 1,
                              dropDen: Int = 4): DataFrame = {
    val wRank = Window.partitionBy(col(group)).orderBy(col(score), col(tie))
    val wAll = Window.partitionBy(col(group))
    df
      .withColumn("n_l", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") > expr(s"(n_l * $dropNum) div $dropDen"))
      .drop("rn")
  }

  def qQuantileFilter(spark: SparkSession, dir: String): DataFrame =
    quantileThresholdFilter(
      documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "n_chars", "doc_id")
      .groupBy(col("lang"))
      .agg(max(col("n_l")).as("n_total"), count(lit(1)).as("n_kept"),
           min(col("n_chars")).as("min_kept_chars"),
           sum(col("n_chars")).as("sum_kept_chars"))
      .orderBy(col("lang"))

  /** Sequence packing for LLM pre-training: documents are concatenated in
    * doc_id order and split into fixed `binTokens`-token training
    * sequences; each document is assigned to the bin its first token
    * lands in, and the report aggregates per-bin document count, token
    * mass, and the doc_id span — the shape a packed-dataset manifest has.
    * Token counts use the BPE-ish pre-tokenizer of [[qBpeTokenCount]].
    *
    * The global token prefix sum is the DISTRIBUTED bucket construction
    * of [[packShards]]/[[exclusiveOffsets]] — a window cumsum within each
    * `doc_id div 256` bucket in parallel, bucket offsets via the
    * fixed-depth recursive hierarchy — so no window before the ≤256-row
    * base case runs unpartitioned at ANY corpus size. The per-bin
    * aggregate then shuffles on bin (high cardinality: corpus_tokens /
    * binTokens keys) — never a single-task stage.
    */
  def packSequences(docs: DataFrame, binTokens: Long = 2048L,
                    bucketSize: Int = 256, levels: Int = 3): DataFrame = {
    // regexp_count: match counting without materializing token strings —
    // the tokenize pass is this operator's dominant cost at scale.
    val toked = docs.select(col("doc_id"),
      expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')")
        .cast("long").as("n_tokens"))
    packSequencesBy(toked, binTokens, bucketSize, levels)
  }

  /** [[packSequences]]' packing tail over a caller-supplied per-document
    * token-count relation `(doc_id, n_tokens)` — lets the packer consume
    * REAL tokenizer counts ([[qSeqPackBpe]]) instead of the regex
    * pre-tokenizer's. */
  def packSequencesBy(toked: DataFrame, binTokens: Long = 2048L,
                      bucketSize: Int = 256, levels: Int = 3): DataFrame = {
    val b = toked.withColumn("bucket", expr(s"doc_id div $bucketSize"))
    // LAZY persist of the windowed relation: it feeds both the bucket
    // totals and the final join. The round-6 assumption that the two
    // consumers would share one exchange via ReusedExchange was WRONG —
    // the doubly-referenced subtree clones with fresh exprIds and
    // nothing reuses, so the regexp tokenization over full document
    // text (the dominant cost) ran once PER CLONE: with the offsets
    // hierarchy's own doubling, 10 scans per evaluation (round-9 plan
    // audit). Persisted (4 small columns/doc, spill-safe, lazily
    // materialized so the operator still composes), the tokenize runs
    // exactly once.
    val within = b.withColumn("pfx_within",
      sum(col("n_tokens")).over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("n_tokens"))
      .graftCached
    // Bucket totals come off the WINDOWED relation (max inclusive prefix
    // ≡ Σ n_tokens per bucket — prefixes are monotone over non-negative
    // counts), so the totals branch reads the persisted blocks, never
    // re-tokenizes.
    val offsets = exclusiveOffsets(
      within.groupBy(col("bucket"))
        .agg(max(col("pfx_within") + col("n_tokens")).as("tot"))
        .select(col("bucket").as("key"), col("tot")),
      bucketSize, levels)
      .select(col("key").as("bucket"), col("offset"))
    within.join(offsets, Seq("bucket"))
      .select(col("doc_id"), col("n_tokens"),
              expr(s"(offset + pfx_within) div $binTokens").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("bin"))
  }

  def qSeqPack(spark: SparkSession, dir: String): DataFrame =
    packSequences(documents(spark, dir))

  /** Sequence packing fed by the LEARNED tokenizer: per-document token
    * counts come from [[bpeEncode]]'s chain (merges applied over the
    * distinct-word table, counts joined back), so bins hold real
    * learned-BPE token mass instead of the regex pre-tokenizer's
    * approximation — the actual pre-training packing input. Documents
    * with no [a-z] words pack with zero tokens (they still occupy a
    * manifest row slot at their offset). */
  def packSequencesBpe(docs: DataFrame, rounds: Int = 16,
                       binTokens: Long = 2048L): DataFrame =
    packSequencesBpeFrom(docs, bpeEncodedWords(docs, rounds), binTokens)

  private def packSequencesBpeFrom(docs: DataFrame, enc: DataFrame,
                                   binTokens: Long): DataFrame = {
    val counts = docs.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .join(enc.select(col("word"), col("n_ids")), Seq("word"))
      .groupBy(col("doc_id")).agg(sum(col("n_ids")).as("n_tokens"))
    val toked = docs.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    packSequencesBy(toked, binTokens)
  }

  def qSeqPackBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    packSequencesBpeFrom(docs, bpeEncodedWordsWith(docs,
      bpeMergesFor(spark, dir).map(t => (t._1, t._2, t._3, t._4))),
      binTokens = 2048L)
  }

  /** One statistics round of BPE merge learning: the adjacent-character
    * pair frequencies over the word-frequency table — the argmax of this
    * relation is the next BPE merge (Sennrich et al. 2016). Computed the
    * way a tokenizer trainer must at corpus scale: aggregate words FIRST
    * (the heavy, linear pass), then expand pairs over the DISTINCT word
    * table only — pair-expansion work is Σ|distinct words|, independent
    * of corpus repetition, and each pair row carries the word's count.
    * Top 20 pairs by weighted frequency, pair string as tie-break.
    */
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val wc = documents(spark, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
    wc
      .select(col("word"), col("n"),
              explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substr(word, i, 2)").as("pair"), col("n"))
      .groupBy(col("pair")).agg(sum(col("n")).as("n_pair"))
      .orderBy(col("n_pair").desc, col("pair"))
      .limit(20)
  }

  /** Iterative BPE merge LEARNING (Sennrich et al. 2016) — [[qBpeMerges]]'
    * one-round statistics closed into the training loop: per round, count
    * adjacent symbol-pair frequencies over the distinct-word table, take
    * the argmax (ties broken lexicographically on the pair — identical
    * string collation on both engines for the [a-z]+ symbol alphabet),
    * apply the merge to every word, repeat. The merge-apply is a single
    * left-to-right `aggregate` fold per word — greedy non-overlapping
    * exactly like the reference algorithm ("aaaa" + (a,a) → [aa, aa]) —
    * and each round's argmax is ONE collected row (the convergence-scalar
    * class: 16 single-row collects, never data). Word tables
    * `localCheckpoint` every round — 16 nested fold expressions would
    * otherwise blow codegen and plan-depth limits (the kTruss lesson).
    *
    * Scale: the heavy pass is the ONE corpus scan building the word
    * frequency table; all 16 rounds run over |distinct words| rows with
    * counts attached, independent of corpus repetition — exactly how
    * production BPE trainers stay tractable at 100 TB.
    */
  /** The BPE training word table: distinct words (length ≥ 2) with
    * occurrence counts, split into character symbols — the loop state
    * of [[bpeTrain]], exposed `private[graft]` for plan dumps. */
  private[graft] def bpeWords(docs: DataFrame): DataFrame =
    docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
      .select(expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))").as("syms"),
              col("n"))

  /** One round's pair statistics + argmax over a word table — the
    * per-round relation whose single collected row is the next merge. */
  private[graft] def bpePairStats(words: DataFrame): DataFrame =
    words
      // Merged-out words shrink to one symbol; Spark's sequence(1, 0)
      // DESCENDS ([1, 0]) rather than being empty, so they must drop
      // before the pair explode (DuckDB's generate_series(1, 0) is
      // empty — the engines differ exactly here).
      .filter(size(col("syms")) >= 2)
      .select(col("syms"), col("n"),
              explode(expr("sequence(1, size(syms) - 1)")).as("i"))
      .select(expr("element_at(syms, i)").as("l"),
              expr("element_at(syms, i + 1)").as("r"), col("n"))
      .groupBy(col("l"), col("r")).agg(sum(col("n")).as("n_pair"))
      .orderBy(col("n_pair").desc, col("l"), col("r"))
      .limit(1)

  /** Apply one merge (l, rt) to a word table's `syms` column via the
    * greedy left-to-right fold, preserving every other column — THE
    * merge-apply projection shared by [[bpeTrain]], [[bpeFertility]]
    * and [[bpeEncode]]'s chain. */
  private[graft] def bpeApplyMerge(words: DataFrame, l: String,
                                   rt: String): DataFrame = {
    // Symbols are concatenations of [a-z] chars by construction; the
    // guard keeps the literal injection below trivially safe.
    require(l.matches("[a-z]+") && rt.matches("[a-z]+"), s"bad symbol: $l|$rt")
    val folded = expr(
      s"""aggregate(syms, cast(array() as array<string>),
         |  (acc, x) -> case
         |    when size(acc) = 0 then array(x)
         |    when element_at(acc, -1) = '$l' and x = '$rt'
         |      then concat(slice(acc, 1, size(acc) - 1), array('${l + rt}'))
         |    else concat(acc, array(x)) end)""".stripMargin).as("syms")
    words.select(words.columns.map(c =>
      if (c == "syms") folded else col(c)): _*)
  }

  def bpeTrain(docs: DataFrame, rounds: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    var words = bpeWords(docs).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = bpePairStats(words).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rt, np) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, l, rt, l + rt, np))
        words = bpeApplyMerge(words, l, rt).localCheckpoint()
        r += 1
      }
    }
    import spark.implicits._
    merges.result().toDF("merge_round", "lhs", "rhs", "merged", "n_pair")
      .orderBy(col("merge_round"))
  }

  /** Frozen BPE merge table (the second artifact of round-13 verdict
    * item #3): same registry discipline as [[qualityModelFor]] — memo →
    * KeyedStore artifact (fingerprint-guarded) → train-once-and-persist.
    * The merge table is 16 tiny rows; what freezing saves is the 16
    * sequential argmax JOBS over the distinct-word table that every
    * BPE-family row silently re-ran. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Int, String, String, String, Long)]]

  private[graft] def bpeMergesFor(spark: SparkSession, dir: String,
                                  rounds: Int = 16)
      : Seq[(Int, String, String, String, Long)] = {
    val key = s"$dir|$rounds"
    val docs = documents(spark, dir)
    lazy val fp = corpusFingerprint(docs)
    val hit = bpeMemo.get(key)
    if (hit != null) return hit
    val name = s"graft_model_bpe_${rounds}_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val loaded: Option[Seq[(Int, String, String, String, Long)]] =
      if (KeyedStore.exists(spark, name)) {
        val rows = KeyedStore.scan(spark, name, "row_key", "a", "zz").collect()
        val meta = rows.find(_.getAs[String]("row_key") == "m0").get
        if (meta.getAs[Long]("np") != fp) None
        else Some(rows.filter(_.getAs[String]("row_key").startsWith("r"))
          .map(r => (r.getAs[Long]("rnd").toInt, r.getAs[String]("lhs"),
            r.getAs[String]("rhs"), r.getAs[String]("merged"),
            r.getAs[Long]("np")))
          .sortBy(_._1).toSeq)
      } else None
    val merges = loaded.getOrElse {
      val m = bpeTrain(docs, rounds).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      import spark.implicits._
      val rows = (Seq(("m0", 0L, "", "", "", fp)) ++
        m.map { case (r, l, rt, mg, np) =>
          (f"r$r%06d", r.toLong, l, rt, mg, np) })
        .toDF("row_key", "rnd", "lhs", "rhs", "merged", "np")
      if (KeyedStore.exists(spark, name)) KeyedStore.drop(spark, name)
      KeyedStore.create(spark, name, rows, "row_key", 4096)
      m
    }
    bpeMemo.put(key, merges)
    merges
  }

  def qBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMergesFor(spark, dir)
      .toDF("merge_round", "lhs", "rhs", "merged", "n_pair")
      .orderBy(col("merge_round"))
  }

  /** Tokenizer fertility under the LEARNED merges: train [[bpeTrain]]'s
    * 16 merges on the corpus, apply them to the per-language word tables,
    * and report exact per-language totals — occurrences, characters, and
    * post-merge BPE tokens (16 merges cut tokens/chars measurably; the
    * regex-pretokenizer twin is [[qTokenizerFertility]]). The apply pass
    * is the same per-word fold, run once per merge over distinct
    * (lang, word) rows. */
  def bpeFertility(docs: DataFrame, rounds: Int = 16): DataFrame =
    bpeFertilityWith(docs, bpeTrain(docs, rounds).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq)

  private def bpeFertilityWith(docs: DataFrame,
                               m: Seq[(String, String)]): DataFrame = {
    var words = docs
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
      .select(col("lang"), col("word"),
        expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))").as("syms"),
        col("n"))
      .localCheckpoint()
    m.foreach { case (l, rt) =>
      words = bpeApplyMerge(words, l, rt).localCheckpoint()
    }
    words
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_occurrences"),
           sum(col("n") * length(col("word"))).as("n_chars"),
           sum(col("n") * size(col("syms"))).as("n_bpe_tokens"))
      .orderBy(col("lang"))
  }

  def qBpeFertility(spark: SparkSession, dir: String): DataFrame =
    bpeFertilityWith(documents(spark, dir),
      bpeMergesFor(spark, dir).map(t => (t._2, t._3)))

  /** The distinct-word relation ENCODED under [[bpeTrain]]'s learned
    * merges: `(word, n_ids, idsum, wsum)` where the ids are token ids in
    * the learned vocabulary — base chars a..z = 1..26, each merge output
    * = 26 + its (first) merge round — and the aggregates are the exact
    * integers the per-document encode needs (token count, Σid, Σ j·id
    * with j the 1-based in-word position). The merge application is the
    * same greedy left-to-right fold as [[bpeFertility]], run once per
    * merge over DISTINCT words only (corpus-repetition-independent); a
    * symbol missing from the vocabulary (impossible by construction —
    * every fold output is a base char or a merge output) raises loudly
    * rather than nulling out. */
  private def bpeEncodedWords(docs: DataFrame, rounds: Int): DataFrame =
    bpeEncodedWordsWith(docs, bpeTrain(docs, rounds).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq)

  private def bpeEncodedWordsWith(docs: DataFrame,
      m: Seq[(Int, String, String, String)]): DataFrame = {
    val vocab: Map[String, Long] =
      (('a' to 'z').zipWithIndex.map { case (c, i) => c.toString -> (i + 1).toLong } ++
        m.groupBy(_._4).view.mapValues(rs => 26L + rs.map(_._1).min).toSeq).toMap
    var words = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .distinct()
      .select(col("word"),
        expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))").as("syms"))
      .localCheckpoint()
    m.foreach { case (_, l, rt, _) =>
      words = bpeApplyMerge(words, l, rt).localCheckpoint()
    }
    val vocabCol = map(vocab.toSeq.sortBy(_._1)
      .flatMap { case (s, i) => Seq(lit(s), lit(i)) }: _*)
    words
      .withColumn("ids", transform(col("syms"), s => element_at(vocabCol, s)))
      .withColumn("ids", expr(
        "case when exists(ids, x -> x is null) " +
          "then raise_error(concat('bpeEncode: symbol outside vocab in word ', word)) " +
          "else ids end"))
      .select(col("word"), size(col("ids")).cast("long").as("n_ids"),
        expr("aggregate(ids, cast(0 as bigint), (a, x) -> a + x)").as("idsum"),
        expr("aggregate(zip_with(ids, sequence(1, size(ids)), (x, j) -> x * j), " +
          "cast(0 as bigint), (a, z) -> a + z)").as("wsum"))
  }

  /** BPE ENCODER — tokenize the corpus into token-id sequences under the
    * [[bpeTrain]]-learned vocabulary (the pass a real pipeline runs
    * between tokenizer training and sequence packing; [[qSeqPackBpe]]
    * consumes it). Per document: word count, learned-BPE token count,
    * alpha char mass, an exact order-pinning sequence checksum
    * (Σ over words of (word_pos+1)·1024·Σid + Σ j·id — every term an
    * exact BIGINT), and tokens-per-word fertility in integer micro
    * units.
    *
    * Scale shape: merges apply over DISTINCT words (the [[bpeTrain]]
    * invariant); the only corpus-width work is the word explode and one
    * equi-join of (doc, word_pos, word) onto the encoded word table —
    * at 100 TB the join key is a word hash and the encoded table is
    * vocabulary-sized (often broadcastable). Documents with no [a-z]
    * words carry no tokens and emit no row (the oracle drops them the
    * same way). */
  def bpeEncode(docs: DataFrame, rounds: Int = 16): DataFrame =
    bpeEncodeFrom(docs, bpeEncodedWords(docs, rounds))

  private def bpeEncodeFrom(docs: DataFrame, enc: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as(Seq("wp", "word")))
      .join(enc, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
           sum(col("n_ids")).as("n_bpe_tokens"),
           sum(length(col("word")).cast("long")).as("n_alpha_chars"),
           sum((col("wp") + 1) * lit(1024L) * col("idsum") + col("wsum"))
             .as("ids_fp"))
      .withColumn("fertility_micro", expr("n_bpe_tokens * 1000000L div n_words"))
      .orderBy(col("doc_id"))
  }

  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    bpeEncodeFrom(docs, bpeEncodedWordsWith(docs,
      bpeMergesFor(spark, dir).map(t => (t._1, t._2, t._3, t._4))))
  }

  /** Zipf-law fit over the token frequency distribution: least-squares
    * slope of ln(freq) on ln(rank) across the top 100 tokens — the
    * corpus-health diagnostic (natural text ≈ −1; a slope collapsing
    * toward 0 flags boilerplate/template contamination). The corpus-scale
    * work is ONE token count aggregate + a 100-row TakeOrdered; the
    * rank window and regression run on the 100-row relation (explicitly
    * bounded — never the corpus). Regression inputs are micro-nat-rounded
    * BIGINTs, so num/den are exact integers (the [[AnalyticsOps
    * .qTrendSlope]] determinism rule); slope = num/den to 6dp is the one
    * shared float.
    */
  def qTokenZipf(spark: SparkSession, dir: String): DataFrame = {
    val top = documents(spark, dir)
      .select(explode(TextFns.toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(100)
    val ranked = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
      .select(
        expr("cast(round(ln(cast(rank as double)) * 1000000) as bigint)").as("x"),
        expr("cast(round(ln(cast(cnt as double)) * 1000000) as bigint)").as("y"))
    ranked.agg(
      count(lit(1)).as("n_fit"),
      (count(lit(1)) * sum(col("x") * col("y")) -
        sum(col("x")) * sum(col("y"))).as("slope_num"),
      (count(lit(1)) * sum(col("x") * col("x")) -
        sum(col("x")) * sum(col("x"))).as("slope_den"))
      .select(col("n_fit"), col("slope_num"), col("slope_den"),
              round(col("slope_num").cast("double") / col("slope_den"), 6)
                .as("zipf_slope"))
  }

  /** Mutual information between two categorical document facets
    * (lang × source) — the feature-relevance / leakage-audit primitive of
    * a dataset curation pipeline. Exact integer joint and marginal counts
    * from ONE pass (marginals re-aggregate the ~|langs|·|sources| joint
    * relation, not the corpus); the only float is the per-cell PMI,
    * rounded to micro-nats (the [[qPmiCollocations]] determinism rule:
    * both engines evaluate ln on identical exact-integer-derived doubles).
    * The per-cell `n_xy·pmi` terms sum to corpus MI; emitting the cells
    * keeps the result auditable and the schema join-free downstream.
    */
  def qMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val joint = documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_xy"))
      // Persisted (|langs|·|sources| rows): marginals + total + the cell
      // join all read it — un-persisted, 4 corpus scans (round-9 audit).
      .graftCached
    val mx = joint.groupBy(col("lang")).agg(sum(col("n_xy")).as("n_x"))
    val my = joint.groupBy(col("source")).agg(sum(col("n_xy")).as("n_y"))
    val n = joint.agg(sum(col("n_xy")).as("n_total"))
    joint.join(mx, Seq("lang")).join(my, Seq("source")).crossJoin(broadcast(n))
      .withColumn("pmi_micronat",
        expr("cast(round(ln(cast(n_xy as double) * n_total / " +
             "(cast(n_x as double) * n_y)) * 1000000) as bigint)"))
      .select(col("lang"), col("source"), col("n_xy"), col("n_x"),
              col("n_y"), col("n_total"), col("pmi_micronat"))
      .orderBy(col("lang"), col("source"))
  }

  /** Character-entropy quality filter: per-doc Shannon entropy of the
    * character distribution in micro-nats — low entropy flags repetitive
    * or degenerate text (keyboard mash, repeated padding), a standard
    * gibberish gate beside [[qTextQuality]]'s ratio features. Character
    * counts are exact ints off one explode + aggregate; each character's
    * −p·ln(p) term rounds to micro-nats once (the PMI determinism rule)
    * and the per-doc sum is order-independent. The keep flag is an exact
    * integer comparison. Shuffle carries one row per (doc, distinct
    * char) — bounded by the alphabet, ≪ corpus size.
    */
  def qEntropyFilter(spark: SparkSession, dir: String): DataFrame = {
    val ch = documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val n = ch.groupBy(col("doc_id")).agg(sum(col("c")).as("n_ch"))
    ch.join(n, Seq("doc_id"))
      .withColumn("term", expr(
        "cast(round(-(cast(c as double) / n_ch) * " +
        "ln(cast(c as double) / n_ch) * 1000000) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_ch")).as("n_chars"),
           count(lit(1)).as("n_distinct_chars"),
           sum(col("term")).as("entropy_micronat"))
      .withColumn("keep", col("entropy_micronat") >= 2000000L)
      .orderBy(col("doc_id"))
  }

  /** Tokenizer fertility per language: BPE-ish tokens per whitespace word
    * (in ppm) — the standard "how much does my tokenizer fragment this
    * language" metric driving vocab-size decisions. Two `size()`
    * projections per doc (no explode anywhere), one tiny aggregate.
    */
  def qTokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"),
              size(TextFns.toks).cast("long").as("ws"),
              expr("cast(regexp_count(text, " +
                   "'[a-z]+|[0-9]+|[^a-z0-9 ]') as bigint)").as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
           sum(col("bpe")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
              expr("bpe_tokens * 1000000L div ws_tokens").as("fertility_ppm"))
      .orderBy(col("lang"))

  /** Chi-square independence test for lang × source — the categorical
    * drift detector beside [[qMutualInfo]] (same joint/marginal
    * machinery). Each cell's contribution (O−E)²/E is computed as
    * (O·N − nx·ny)² / (N·nx·ny): the numerator and denominator are exact
    * BIGINTs (at extreme corpus sizes they move to DECIMAL(38,0) — the
    * q_anomaly_zscore precedent), and the single float division rounds to
    * micro-units once per cell on identical doubles in both engines.
    * Absent cells (O=0) still contribute E — they are generated by the
    * marginal cross join, not skipped. dof = (|langs|−1)(|sources|−1).
    */
  def qChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val joint = documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_xy"))
      .graftCached // see qMutualInfo
    val mx = joint.groupBy(col("lang")).agg(sum(col("n_xy")).as("n_x"))
    val my = joint.groupBy(col("source")).agg(sum(col("n_xy")).as("n_y"))
    val n = joint.agg(sum(col("n_xy")).as("n_total"))
    val cells = mx.crossJoin(my).crossJoin(broadcast(n))
      .join(joint, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("n_xy"), lit(0L)))
      .withColumn("chi_micro", expr(
        "cast(round(cast((o * n_total - n_x * n_y) as double) * " +
        "(o * n_total - n_x * n_y) / " +
        "(cast(n_total as double) * n_x * n_y) * 1000000) as bigint)"))
    cells
      .agg(count(lit(1)).as("n_cells"),
           countDistinct(col("lang")).as("n_langs"),
           countDistinct(col("source")).as("n_sources"),
           sum(col("chi_micro")).as("chi2_micro"))
      .select(col("n_cells"), col("chi2_micro"),
              ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"))
  }

  /** Tokenizer vocabulary coverage: per-language OOV rate against the
    * corpus top-64 token vocabulary — the "how much of slice X does my
    * vocab cover" check run before committing a tokenizer. The corpus is
    * tokenized ONCE; the vocabulary is a TakeOrdered over the token-count
    * aggregate (deterministic tie-break on the token string) and joins
    * back as a broadcast left join — V rows against the token stream, so
    * the coverage pass adds no shuffle beyond the final per-lang
    * aggregate. OOV share is a truncating integer ppm.
    */
  def qVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val V = 64
    // Tokenize ONCE: the per-(lang, token) count relation feeds BOTH the
    // vocabulary derivation and the coverage sums (the heavy-hitters
    // lesson — never explode the corpus twice). Everything after the
    // first aggregate runs on |distinct (lang, token)| rows, not tokens.
    val ltc = documents(spark, dir)
      .select(col("lang"), explode(TextFns.toks).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val vocab = ltc.groupBy(col("token"))
      .agg(sum(col("cnt")).as("tcnt"))
      .orderBy(col("tcnt").desc, col("token"))
      .limit(V)
      .select(col("token"), lit(1L).as("in_vocab"))
    ltc.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_tokens"),
           sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L))
             .as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
              expr("n_oov * 1000000L div n_tokens").as("oov_ppm"))
      .orderBy(col("lang"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 — the MOSS scheme): hash every word-3-gram, slide a w=4 window
    * over the hash sequence, select each window's minimum — guaranteeing
    * any match of ≥ w+k−1 tokens shares a fingerprint, at ~2/(w+1)
    * selection density. The window minimum is `min(struct(h, pos))`
    * (leftmost tie — deterministic on both engines, struct comparison is
    * lexicographic); selected (position, hash) pairs dedupe per doc. The
    * only sort is the per-document window — partitioned by doc_id (high
    * cardinality, bounded doc length), never global. Downstream, plagiarism
    * /near-dup candidates are an equi-join on `fp60`.
    */
  def qWinnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprints(documents(spark, dir))

  /** Parameterized core of [[qWinnowFingerprint]] over any relation with
    * `doc_id` and `text` columns.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val grams = docs
      .select(col("doc_id"), TextFns.toks.as("toks"))
      .filter(size(col("toks")) >= k + w - 1) // at least one full window
      .select(col("doc_id"), (size(col("toks")) - (k - 1)).as("nk"),
              posexplode(expr(
                s"transform(sequence(0, size(toks) - $k), " +
                  s"i -> concat_ws(' ', ${(0 until k).map(j => s"toks[i+$j]").mkString(", ")}))")))
      .select(col("doc_id"), col("nk"), (col("pos") + 1).as("pos"),
              TextFns.hash60(col("col")).as("h"))
    val wnd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("sel", min(struct(col("h"), col("pos"))).over(wnd))
      .filter(col("pos") <= col("nk") - (w - 1)) // full windows only
      .select(col("doc_id"), col("sel.pos").cast("long").as("sel_pos"),
              col("sel.h").as("fp60"))
      .distinct()
      .orderBy(col("doc_id"), col("sel_pos"))
  }

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * 3-grams that occur in NO other document — the contamination-adjacent
    * "how much of this doc is boilerplate" score used for corpus curation.
    *
    * Shape — ONE heavy shuffle, no join back onto the exploded relation:
    * `shingles` is already per-doc-distinct, so a doc's gram total is just
    * `size(shingles)` — a per-row projection, no explode, since `doc_id`
    * is the table's key. And a corpus-unique gram (df = 1) has exactly
    * one (doc, gram) row, so `min(doc_id)` in the same gram-keyed
    * aggregate IS its owning document: the per-doc unique counts fall out
    * of the document-frequency aggregate directly. The only
    * corpus-width exchange is the gram aggregate (map-side partial
    * combine); everything after it is O(docs), not O(grams). The earlier
    * explode → df → join-back form shuffled the exploded relation twice
    * more — 6.3× wall at 20× data vs ~3× for this form.
    */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val t = documents(spark, dir)
      .select(col("doc_id"), TextFns.toks.as("toks"))
      .filter(size(col("toks")) >= 3) // the kgrams contract (oracle: len >= 3)
      .select(col("doc_id"), TextFns.shingles.as("grams"))
    val perDoc = t.select(col("doc_id"),
                          size(col("grams")).cast("long").as("n_grams"))
    val uniq = t.select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("ud"))
      .filter(col("df") === 1)
      .groupBy(col("ud")).agg(count(lit(1)).as("n_unique"))
      .select(col("ud").as("doc_id"), col("n_unique"))
    perDoc.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
              coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty_ppm", expr("n_unique * 1000000L div n_grams"))
      .orderBy(col("doc_id"))
  }

  /** Dataset card: the per-source summary table published beside a
    * training corpus — doc/char/token totals, language spread, dominant
    * language (most docs, ties to the lexically smallest via a
    * `min_by` over a (−count, lang) struct — no window), mean doc length
    * as an exact integer division. Two partial-combined aggregates; the
    * second input is one row per (source, lang).
    */
  def qDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val sl = documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"), sum(col("n_chars")).as("chars_l"),
           sum(size(TextFns.toks)).as("toks_l"))
    sl.groupBy(col("source"))
      .agg(sum(col("nl")).as("n_docs"),
           sum(col("chars_l")).as("tot_chars"),
           expr("sum(chars_l) div sum(nl)").as("mean_chars"),
           count(lit(1)).as("n_langs"),
           min_by(col("lang"), struct((-col("nl")).as("neg"), col("lang")))
             .as("top_lang"),
           sum(col("toks_l")).as("tot_tokens"))
      .orderBy(col("source"))
  }
}
