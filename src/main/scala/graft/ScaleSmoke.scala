package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: weak-scaling smoke for the heavy operator families.
  *
  * Builds a FACTOR×-sf0.1 corpus in /tmp by unioning FACTOR copies with
  * per-copy word remapping (`w -> w_c`): shingle/token spaces are disjoint
  * across copies, so each copy keeps exactly sf0.1's near-dup structure
  * and the corpus-wide candidate volume scales linearly — an honest weak-
  * scaling setup (no cross-copy mega-clusters, no artificial dedup).
  * Embeddings union with vec_id offsets. Prints per-operator wall times
  * at 1× and FACTOR×; results recorded in ROUND3_NOTES.md.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    // Optional second arg: comma list of op-name substrings to run
    // (focused re-probe of one family without the full battery).
    val onlyOps = args.drop(1).headOption.map(_.split(",").toSet)
    def wanted(name: String): Boolean =
      onlyOps.forall(_.exists(name.contains))
    val base = "/root/testdata/sf0.1"
    val scaled = s"${System.getProperty("java.io.tmpdir")}/graft_scale_${factor}x"
    val spark = GraftSession.local(32)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val docs = Tables.documents(spark, base)
    val nDocs = docs.count()
    val embs = Tables.embeddings(spark, base)
    val nVecs = embs.count()
    // Focused re-probes reuse an already-built scaled corpus
    // (SPARK_GRAFT_SCALE_REUSE=1) instead of paying the multi-minute
    // rebuild; the build is deterministic, so reuse is value-identical.
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$scaled/lineitem.parquet"))
    if (!reuse) {
    (0 until factor).map { c =>
      docs.select(
        (col("doc_id") + lit(c.toLong * 1000000L)).as("doc_id"),
        col("lang"), col("source"), col("n_chars"),
        (if (c == 0) col("text")
         else array_join(transform(split(col("text"), " "),
           w => concat(w, lit(s"_$c"))), " ")).as("text"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$scaled/documents.parquet")
    (0 until factor).map { c =>
      embs.select((col("vec_id") + lit(c.toLong * 1000000L)).as("vec_id"),
                  col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$scaled/embeddings.parquet")
    println(s"SCALE corpus ${nDocs * factor} docs / ${nVecs * factor} vecs at $scaled")

    // Events / orders / lineitem replicas with DISJOINT id spaces per copy
    // (user/order/part/cust keys offset by 10⁹·c): per-key window and join
    // structure replicates exactly, so candidate volumes scale linearly —
    // honest weak scaling for the event-time and basket families.
    val off = (c: Int) => lit(c.toLong * 1000000000L)
    (0 until factor).map { c =>
      Tables.events(spark, base).select(
        (col("event_id") + off(c)).as("event_id"), col("ts"),
        (col("user_id") + off(c)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$scaled/events.parquet")
    (0 until factor).map { c =>
      Tables.orders(spark, base).select(
        (col("o_orderkey") + off(c)).as("o_orderkey"),
        (col("o_custkey") + off(c)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$scaled/orders.parquet")
    (0 until factor).map { c =>
      Tables.part(spark, base).select(
        (col("p_partkey") + off(c)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$scaled/part.parquet")
    (0 until factor).map { c =>
      Tables.lineitem(spark, base).select(
        (col("l_orderkey") + off(c)).as("l_orderkey"),
        (col("l_partkey") + off(c)).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$scaled/lineitem.parquet")
    } // end corpus build (skipped under SPARK_GRAFT_SCALE_REUSE)

    def time(name: String, dir: String)(f: String => DataFrame): Unit =
      if (wanted(name)) {
        val t0 = System.nanoTime()
        val n = f(dir).count()
        println(f"SCALE $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
        // Per-probe isolation: drop persisted/localCheckpoint blocks so a
        // probe's storage doesn't linger and poison later measurements
        // (observed: late-battery probes 4-8x inflated once dozens of
        // checkpointed relations had accumulated in the block manager).
        GraftCache.releaseAllStorage(spark)
      }
    Seq("1x" -> base, s"${factor}x" -> scaled).foreach { case (tag, dir) =>
      println(s"SCALE ---- $tag ($dir)")
      time(s"ngram_pairs_$tag", dir)(d => ops.DedupOps.qDedupNgramJaccard(spark, d))
      time(s"minhash_pairs_$tag", dir)(d => ops.DedupOps.qDedupMinhashLsh(spark, d))
      time(s"simhash_pairs_$tag", dir)(d => ops.DedupOps.qDedupSimhash(spark, d))
      time(s"clusters_$tag", dir)(d => ops.DedupOps.qDedupClusters(spark, d))
      time(s"pipeline_e2e_$tag", dir)(d => ops.TextOps.qPipelineE2e(spark, d))
      time(s"shard_pack_$tag", dir)(d => ops.TextOps.qShardPack(spark, d))
      time(s"ann_ivf_$tag", dir)(d => ops.SimilarityOps.qAnnIvf(spark, d))
      time(s"ann_quant_rescore_$tag", dir)(d =>
        ops.SimilarityOps.qAnnQuantizedRescore(spark, d))
      time(s"ann_ivf_pq_$tag", dir)(d => ops.SimilarityOps.qAnnIvfPq(spark, d))
      time(s"ann_index_serve_$tag", dir)(d =>
        ops.AnnIndexOps.qAnnIndexServe(spark, d))
      time(s"ann_index_rebal_$tag", dir)(d =>
        ops.AnnIndexOps.qAnnIndexRebalance(spark, d))
      time(s"mmr_rerank_$tag", dir)(d => ops.SimilarityOps.qMmrRerank(spark, d))
      time(s"hybrid_rrf_$tag", dir)(d => ops.SimilarityOps.qHybridRrf(spark, d))
      time(s"hard_negatives_$tag", dir)(d =>
        ops.SimilarityOps.qHardNegatives(spark, d))
      time(s"embed_drift_$tag", dir)(d =>
        ops.SimilarityOps.qEmbeddingDrift(spark, d))
      time(s"kmeans_$tag", dir)(d => ops.SimilarityOps.qKmeans(spark, d))
      time(s"lpa_communities_$tag", dir)(d => ops.GraphOps.qLpaCommunities(spark, d))
      time(s"kcore_$tag", dir)(d => ops.GraphOps.qKcore(spark, d))
      time(s"feature_hash_$tag", dir)(d => ops.TextOps.qFeatureHash(spark, d))
      time(s"distinct_ngrams_$tag", dir)(d => ops.TextOps.qDistinctNgrams(spark, d))
      time(s"ann_filtered_$tag", dir)(d => ops.SimilarityOps.qAnnFiltered(spark, d))
      time(s"ann_index_delete_$tag", dir)(d => ops.AnnIndexOps.qAnnIndexDelete(spark, d))
      time(s"ann_index_filt_$tag", dir)(d =>
        ops.AnnIndexOps.qAnnIndexFiltered(spark, d))
      time(s"image_phash_$tag", dir)(d => ops.MultimodalOps.qImagePhash(spark, d))
      time(s"keyed_ttl_$tag", dir)(d => ops.SourceSinkOps.qKeyedTtl(spark, d))
      time(s"keyed_secidx_$tag", dir)(d =>
        ops.SourceSinkOps.qKeyedSecondaryIndex(spark, d))
      time(s"dedup_keep_best_$tag", dir)(d => ops.DedupOps.qDedupKeepBest(spark, d))
      time(s"mixture_plan_$tag", dir)(d => ops.TextOps.qMixturePlan(spark, d))
      time(s"curriculum_$tag", dir)(d => ops.TextOps.qCurriculumOrder(spark, d))
      time(s"vstore_restore_$tag", dir)(d => ops.SourceSinkOps.qVstoreRestore(spark, d))
      time(s"ktruss_$tag", dir)(d => ops.GraphOps.qKtruss(spark, d))
      time(s"ann_late_inter_$tag", dir)(d =>
        ops.SimilarityOps.qAnnLateInteraction(spark, d))
      time(s"mixture_apply_$tag", dir)(d => ops.TextOps.qMixtureApply(spark, d))
      time(s"temporal_split_$tag", dir)(d => ops.EventOps.qTemporalSplit(spark, d))
      time(s"m4_downsample_$tag", dir)(d => ops.EventOps.qM4Downsample(spark, d))
      time(s"exact_dedup_$tag", dir)(d => ops.DedupOps.qDedupExact(spark, d))
      time(s"heavy_hitters_$tag", dir)(d => ops.TextOps.qHeavyHitters(spark, d))
      time(s"para_dedup_$tag", dir)(d => ops.ScrubOps.qParagraphDedup(spark, d))
      time(s"pii_redact_$tag", dir)(d => ops.ScrubOps.qPiiRedact(spark, d))
      time(s"lang_rebalance_$tag", dir)(d => ops.TextOps.qLangRebalance(spark, d))
      time(s"dedup_incr_$tag", dir)(d => ops.DedupOps.qDedupIncremental(spark, d))
      time(s"fuzzy2_$tag", dir)(d => ops.DedupOps.qFuzzyMatch2(spark, d))
      time(s"copurchase_$tag", dir)(d => ops.AnalyticsOps.qCopurchase(spark, d))
      time(s"spend_deciles_$tag", dir)(d => ops.AnalyticsOps.qSpendDeciles(spark, d))
      time(s"skyline_$tag", dir)(d => ops.AnalyticsOps.qSkyline(spark, d))
      time(s"scd2_$tag", dir)(d => ops.EventOps.qScd2(spark, d))
      time(s"peak_conc_$tag", dir)(d => ops.EventOps.qPeakConcurrency(spark, d))
      time(s"attribution_$tag", dir)(d => ops.EventOps.qAttribution(spark, d))
      time(s"time_weighted_$tag", dir)(d => ops.EventOps.qTimeWeighted(spark, d))
      time(s"group_median_$tag", dir)(d => ops.EventOps.qGroupMedian(spark, d))
      time(s"resample_$tag", dir)(d => ops.EventOps.qEventsResample(spark, d))
      time(s"hll_distinct_$tag", dir)(d => ops.TextOps.qHllDistinct(spark, d))
      time(s"perplexity_$tag", dir)(d => ops.TextOps.qPerplexityFilter(spark, d))
      time(s"bm25_$tag", dir)(d => ops.TextOps.qBm25(spark, d))
      // SemDeDup's scale knob: the codebook grows with the corpus so the
      // expected cluster size — and the per-cluster quadratic pair work —
      // stays constant. k is what a real deployment would tune; holding
      // k fixed while n grows 20× is the documented anti-pattern.
      val kSem = if (dir == base) 8 else 8 * factor
      time(s"semdedup_k${kSem}_$tag", dir)(d =>
        ops.SimilarityOps.semanticDedup(Tables.embeddings(spark, d), k = kSem))
      time(s"containment_$tag", dir)(d => ops.DedupOps.qContainmentDedup(spark, d))
      time(s"markov_$tag", dir)(d => ops.EventOps.qMarkovTransitions(spark, d))
      time(s"zscore_$tag", dir)(d => ops.EventOps.qAnomalyZscore(spark, d))
      time(s"seq_pack_$tag", dir)(d => ops.TextOps.qSeqPack(spark, d))
      time(s"bpe_merges_$tag", dir)(d => ops.TextOps.qBpeMerges(spark, d))
      // kNN planes grow with log2(n) — constant per-bucket membership, the
      // same corpus-tracking knob as SemDeDup's codebook size below.
      val pl = if (dir == base) 8
               else 8 + (31 - Integer.numberOfLeadingZeros(factor))
      time(s"label_smooth_p${pl}_$tag", dir)(d =>
        ops.SimilarityOps.labelSmooth(Tables.embeddings(spark, d), planes = pl))
      time(s"next_event_$tag", dir)(d => ops.EventOps.qNextEventExamples(spark, d))
      time(s"ewma_$tag", dir)(d => ops.EventOps.qEwmaSmooth(spark, d))
      time(s"shortest_path_$tag", dir)(d => ops.GraphOps.qShortestPath(spark, d))
      time(s"walk_corpus_$tag", dir)(d => ops.GraphOps.qWalkCorpus(spark, d))
      time(s"token_zipf_$tag", dir)(d => ops.TextOps.qTokenZipf(spark, d))
      // Round-5 session-3 additions: text fingerprints/scores (per-doc
      // windows and explodes), the triple-rank RFM, rank-based Gini,
      // basket rules, per-user rolling windows, two-pass MAD, and the
      // degree-join assortativity — each must scale sublinearly per unit
      // data on the disjoint-id replicas.
      time(s"winnow_fp_$tag", dir)(d => ops.TextOps.qWinnowFingerprint(spark, d))
      time(s"ngram_novelty_$tag", dir)(d => ops.TextOps.qNgramNovelty(spark, d))
      time(s"vocab_cover_$tag", dir)(d => ops.TextOps.qVocabCoverage(spark, d))
      time(s"span_corrupt_$tag", dir)(d => ops.TextOps.qSpanCorruption(spark, d))
      time(s"rfm_$tag", dir)(d => ops.AnalyticsOps.qRfmSegments(spark, d))
      time(s"gini_$tag", dir)(d => ops.AnalyticsOps.qGiniSpend(spark, d))
      time(s"assoc_rules_$tag", dir)(d => ops.AnalyticsOps.qAssocRules(spark, d))
      time(s"rolling_median_$tag", dir)(d => ops.EventOps.qRollingMedian(spark, d))
      time(s"mad_$tag", dir)(d => ops.EventOps.qMadRobust(spark, d))
      time(s"assortativity_$tag", dir)(d => ops.GraphOps.qDegreeAssortativity(spark, d))
      time(s"entropy_$tag", dir)(d => ops.TextOps.qEntropyFilter(spark, d))
      time(s"session_paths_$tag", dir)(d => ops.EventOps.qSessionPaths(spark, d))
      time(s"pit_join_$tag", dir)(d => ops.EventOps.qPitJoin(spark, d))
      time(s"cohort_ltv_$tag", dir)(d => ops.EventOps.qCohortLtv(spark, d))
      time(s"funnel_latency_$tag", dir)(d => ops.EventOps.qFunnelLatency(spark, d))
      time(s"neg_samples_$tag", dir)(d => ops.AnalyticsOps.qNegSamples(spark, d))
      time(s"bootstrap_$tag", dir)(d => ops.EventOps.qBootstrapCi(spark, d))
      time(s"mrr_eval_$tag", dir)(d => ops.TextOps.qMrrEval(spark, d))
      time(s"snaive_$tag", dir)(d => ops.EventOps.qSnaiveBacktest(spark, d))
      time(s"split_leak_$tag", dir)(d => ops.TextOps.qSplitLeakage(spark, d))
      // Round-12 additions: true-PQ ADC retrieval (in-memory + durable),
      // BPE merge learning (16 sequential argmax rounds over the distinct-
      // word table — should scale with |distinct words|, not corpus
      // repetition), the substring-dedup apply splice, the classifier
      // gate + its composed pipeline, the GDPR cascade (3 store builds +
      // 2 cascades, fixed commit overhead amortizing with data), and the
      // adaptive-rounds k-core.
      time(s"ann_pq_adc_$tag", dir)(d =>
        ops.SimilarityOps.annPqAdc(Tables.embeddings(spark, d), col("vec_id") < 5))
      time(s"ann_pq_store_$tag", dir)(d => ops.AnnIndexOps.qAnnPq(spark, d))
      time(s"bpe_train_$tag", dir)(d => ops.TextOps.qBpeTrain(spark, d))
      time(s"bpe_fertility_$tag", dir)(d => ops.TextOps.qBpeFertility(spark, d))
      time(s"substr_apply_$tag", dir)(d => ops.DedupOps.qSubstrApply(spark, d))
      time(s"substr_exact_$tag", dir)(d => ops.DedupOps.qSubstrApplyExact(spark, d))
      time(s"quality_classify_$tag", dir)(d => ops.TextOps.qQualityClassify(spark, d))
      time(s"pipeline_class_$tag", dir)(d => ops.TextOps.qPipelineClassified(spark, d))
      time(s"forget_cascade_$tag", dir)(d => ops.ScrubOps.qForgetCascade(spark, d))
      time(s"kcore_full_$tag", dir)(d => ops.GraphOps.qKcoreFull(spark, d))
      time(s"ktruss_full_$tag", dir)(d => ops.GraphOps.qKtrussFull(spark, d))
      time(s"phrase_search_$tag", dir)(d => ops.TextOps.qPhraseSearch(spark, d))
      time(s"ann_pq_delete_$tag", dir)(d => ops.AnnIndexOps.qAnnPqDelete(spark, d))
      // Round-13 additions: winnowing-gated exact-span removal (the
      // expensive stride-1 stage runs only inside candidate docs), the
      // BPE encoder + learned-token packing (distinct-word fold chain +
      // one corpus join), and the perceptron trainer (8 rounds over the
      // cached narrow design matrix).
      time(s"substr_gated_$tag", dir)(d => ops.DedupOps.qSubstrApplyGated(spark, d))
      time(s"selfrep_apply_$tag", dir)(d => ops.DedupOps.qSelfrepApply(spark, d))
      time(s"suffix_dedup_$tag", dir)(d => ops.DedupOps.qSuffixDedup(spark, d))
      time(s"bpe_encode_$tag", dir)(d => ops.TextOps.qBpeEncode(spark, d))
      time(s"seq_pack_bpe_$tag", dir)(d => ops.TextOps.qSeqPackBpe(spark, d))
      time(s"quality_train_$tag", dir)(d => ops.TextOps.qQualityTrain(spark, d))
      time(s"stream_pq_idx_$tag", dir)(d => graft.streaming.VectorStream.qStreamPqIndex(spark, d))
      time(s"time_travel_$tag", dir)(d => ops.SourceSinkOps.qTimeTravel(spark, d))
      time(s"snapshot_diff_$tag", dir)(d => ops.SourceSinkOps.qSnapshotDiff(spark, d))
      time(s"vstore_compact_$tag", dir)(d => ops.SourceSinkOps.qVstoreCompact(spark, d))
      time(s"keyed_bloom_$tag", dir)(d => ops.SourceSinkOps.qKeyedBloom(spark, d))

      // FIXED-OBJECT-COUNT store probes: the *_$tag rows above reuse the
      // driver rows' miniaturized region/file targets, so at FACTOR×
      // data they create FACTOR× more regions/leaves BY CONSTRUCTION —
      // the battery was conflating object-creation cost with engine
      // cost. Here the target scales with the data (≈24 regions / ≈32
      // leaves at ANY size — the production shape), so the 1×→FACTOR×
      // ratio isolates the engine's own scaling.
      if (wanted("keyed_bloom_fixed")) {
        val name = "graft_scale_keyed_fixed"
        val n = Tables.orders(spark, dir).count()
        val t0 = System.nanoTime()
        ops.KeyedStore.create(spark, name,
          Tables.orders(spark, dir).select(col("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")),
          "o_orderkey", targetRowsPerRegion = math.max(2048L, n / 24))
        val probes = Seq(100L, 2000L, 5000L, 10000100L, 10002000L, 10005000L)
        val rows = ops.KeyedStore.get(spark, name, "o_orderkey", probes).count()
        println(f"SCALE keyed_bloom_fixed_$tag%-10s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$rows")
        ops.KeyedStore.drop(spark, name)
        GraftCache.release(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
      if (wanted("vstore_compact_fixed")) {
        import spark.implicits._
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_scale_vcf_$tag"
        graft.streaming.EventStream.deleteRecursively(
          java.nio.file.Paths.get(store))
        val vbase = Tables.orders(spark, dir).select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        val n = vbase.count()
        val t0 = System.nanoTime()
        ops.VersionedStore.init(spark, store, vbase, "o_orderkey",
          targetRowsPerFile = math.max(2048L, n / 32))
        ops.VersionedStore.commit(spark, store,
          vbase.filter(col("o_orderkey") % 5 =!= 0)
            .select(col("o_orderkey"), lit("D").as("op"), col("cents")),
          "o_orderkey")
        ops.VersionedStore.compact(spark, store, "o_orderkey")
        println(f"SCALE vstore_compact_fixed_$tag%-6s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=1")
        graft.streaming.EventStream.deleteRecursively(
          java.nio.file.Paths.get(store))
        GraftCache.release(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }

      // seq_pack per-stage decomposition (round-9 ask: where does the
      // 3.7x weak-scaling tail live?). Replicates packSequences'
      // internal stages with a localCheckpoint barrier between them so
      // each stage is timed in isolation: (1) the regexp tokenize pass
      // over full text — the data-linear floor; (2) the within-bucket
      // window + the exclusiveOffsets hierarchy; (3) the per-bin
      // aggregate + sort. Probe-only decomposition — the production
      // operator keeps its single fused plan (the checkpoint here
      // exists to ATTRIBUTE time, not to help it).
      if (wanted("seq_pack_stages")) {
        val d3 = Tables.documents(spark, dir)
        var t0 = System.nanoTime()
        val toked = d3.select(col("doc_id"),
          expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')")
            .cast("long").as("n_tokens"))
          .localCheckpoint()
        println(f"SCALE seq_pack_tok_$tag%-8s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=${toked.count()}")
        t0 = System.nanoTime()
        val b = toked.withColumn("bucket", expr("doc_id div 256"))
        val within = b.withColumn("pfx_within",
          sum(col("n_tokens")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("bucket")).orderBy(col("doc_id"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                           org.apache.spark.sql.expressions.Window.currentRow))
            - col("n_tokens"))
        val offsets = ops.TextOps.exclusiveOffsets(
          within.groupBy(col("bucket"))
            .agg(max(col("pfx_within") + col("n_tokens")).as("tot"))
            .select(col("bucket").as("key"), col("tot")), 256, 3)
          .select(col("key").as("bucket"), col("offset"))
        val binned = within.join(offsets, Seq("bucket"))
          .select(col("doc_id"), col("n_tokens"),
                  expr("(offset + pfx_within) div 2048").as("bin"))
          .localCheckpoint()
        println(f"SCALE seq_pack_pfx_$tag%-8s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=${binned.count()}")
        t0 = System.nanoTime()
        val n3 = binned.groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
               min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy(col("bin")).count()
        println(f"SCALE seq_pack_agg_$tag%-8s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n3")
        GraftCache.releaseAllStorage(spark)
      }

      // Sidecar IO per 1-key merge with the region count SCALING with
      // the data (fixed 2048-row target → 20x regions at 20x): pins the
      // chunked directory's O(touched chunks) write claim at real region
      // counts — bytes must stay ~flat (one chunk + the list), never
      // O(regions).
      if (wanted("sidecar_merge_bytes")) {
        import spark.implicits._
        val name = "graft_scale_sidecar_probe"
        ops.KeyedStore.create(spark, name,
          Tables.orders(spark, dir).select(col("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")),
          "o_orderkey", targetRowsPerRegion = 2048)
        val nReg = ops.KeyedStore.readRegions(spark, name).regions.size
        ops.KeyedStore.invalidateDirCache(spark, name)
        ops.KeyedStore.sidecarBytesRead.set(0)
        ops.KeyedStore.sidecarBytesWritten.set(0)
        val t0 = System.nanoTime()
        ops.KeyedStore.upsert(spark, name, "o_orderkey",
          Seq((42L * 5L, "U", "X", 1.0)).toDF("o_orderkey", "op",
            "o_orderstatus", "o_totalprice"))
        println(f"SCALE sidecar_merge_bytes_$tag%-6s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
          f"   regions=$nReg read=${ops.KeyedStore.sidecarBytesRead.get()}" +
          f" written=${ops.KeyedStore.sidecarBytesWritten.get()}")
        ops.KeyedStore.drop(spark, name)
        GraftCache.release(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }

      // Region-scoped locks must buy REAL wall-clock concurrency: three
      // disjoint-key-range sinks into one store, sequential vs
      // concurrent (same batches, fresh store each way). Overlap ratio
      // >1 means the merges genuinely interleave; the committer stage
      // serializes (shared _temporary staging) but the merge compute —
      // the dominant cost — runs in parallel.
      if (wanted("disjoint_sink_overlap")) {
        import spark.implicits._
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val name = "graft_scale_disjoint_probe"
        val nOrd = Tables.orders(spark, dir).count()
        def freshStore(): Unit = ops.KeyedStore.create(spark, name,
          Tables.orders(spark, dir).select(col("o_orderkey"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents")),
          "o_orderkey", targetRowsPerRegion = math.max(2048L, nOrd / 24))
        // In-range key spans at opposite thirds of the key space —
        // out-of-range keys would all route to the boundary region and
        // silently serialize the "disjoint" writers.
        val spans = Seq(1L, nOrd / 3, 2 * nOrd / 3)
        def batch(lo: Long) = (lo until lo + 64L).map(k => (k, 1L))
          .toDF("o_orderkey", "delta")
        def merge(a: org.apache.spark.sql.DataFrame,
                  b: org.apache.spark.sql.DataFrame) = {
          val bb = b.select(col("o_orderkey").as("__k"), col("delta"))
          a.join(bb, col("o_orderkey") === col("__k"), "full_outer")
            .select(coalesce(col("o_orderkey"), col("__k")).as("o_orderkey"),
              (coalesce(col("cents"), lit(0L)) +
               coalesce(col("delta"), lit(0L))).as("cents"))
        }
        freshStore()
        val tSeq0 = System.nanoTime()
        spans.foreach(lo => ops.KeyedStore.mergeInto(spark, name,
          "o_orderkey", batch(lo), merge))
        val tSeq = (System.nanoTime() - tSeq0) / 1e9
        freshStore()
        val tCon0 = System.nanoTime()
        val fs = spans.map(lo => Future(ops.KeyedStore.mergeInto(spark, name,
          "o_orderkey", batch(lo), merge)))
        fs.foreach(Await.result(_, 600.seconds))
        val tCon = (System.nanoTime() - tCon0) / 1e9
        println(f"SCALE disjoint_sink_overlap_$tag%-4s seq=$tSeq%6.2f s  conc=$tCon%6.2f s" +
          f"   overlap=${tSeq / tCon}%4.2fx")
        ops.KeyedStore.drop(spark, name)
        GraftCache.release(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }

      // The store layer's CENTRAL scale claim, probed directly: a 1-key
      // merge/commit costs O(changed regions/files) — the SAME wall time
      // at 1x and 20x table size (create/init excluded from the timing;
      // production targets so region/file COUNT also stays realistic).
      if (wanted("keyed_1key_merge")) {
        import spark.implicits._
        val name = "graft_scale_keyed_probe"
        ops.KeyedStore.create(spark, name,
          Tables.orders(spark, dir).select(col("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")),
          "o_orderkey", targetRowsPerRegion = 8192)
        val t0 = System.nanoTime()
        ops.KeyedStore.upsert(spark, name, "o_orderkey",
          Seq((42L * 5L, "U", "X", 1.0)).toDF("o_orderkey", "op",
            "o_orderstatus", "o_totalprice"))
        println(f"SCALE keyed_1key_merge_$tag%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=1")
        ops.KeyedStore.drop(spark, name)
        GraftCache.release(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
      // Versioned point-GET: O(keys) leaves read at any table size —
      // wall time must stay ~flat from 1x to FACTORx (leaf count scales
      // with the data at the fixed 8192-row target).
      if (wanted("vstore_pointget")) {
        import spark.implicits._
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_scale_vget_$tag"
        graft.streaming.EventStream.deleteRecursively(
          java.nio.file.Paths.get(store))
        ops.VersionedStore.init(spark, store,
          Tables.orders(spark, dir).select(col("o_orderkey"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents")),
          "o_orderkey", targetRowsPerFile = 8192)
        val nLeaves = ops.VersionedStore.asOf(spark, store, 1)
          .inputFiles.length
        val t0 = System.nanoTime()
        val rows = ops.VersionedStore.getAsOf(spark, store, 1, "o_orderkey",
          Seq(100L, 2000L, 5000L, 10000100L)).count()
        println(f"SCALE vstore_pointget_$tag%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$rows leaves=$nLeaves")
        graft.streaming.EventStream.deleteRecursively(
          java.nio.file.Paths.get(store))
        GraftCache.release(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
      if (wanted("vstore_1key_commit")) {
        import spark.implicits._
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_scale_vstore_$tag"
        graft.streaming.EventStream.deleteRecursively(
          java.nio.file.Paths.get(store))
        ops.VersionedStore.init(spark, store,
          Tables.orders(spark, dir).select(col("o_orderkey"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents")),
          "o_orderkey", targetRowsPerFile = 8192)
        val t0 = System.nanoTime()
        ops.VersionedStore.commit(spark, store,
          Seq((42L * 5L, "U", 1L)).toDF("o_orderkey", "op", "cents"),
          "o_orderkey")
        println(f"SCALE vstore_1key_commit_$tag%-10s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=1")
        graft.streaming.EventStream.deleteRecursively(
          java.nio.file.Paths.get(store))
        GraftCache.release(spark, blocking = true)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
    }

    // Round-14: the de-skewed suffix-array rank path under a
    // FREQUENCY-SKEWED corpus — every third token forced to one value
    // (~33% corpus frequency), the shape the round-13 verdict flagged:
    // the per-group rank()/row_number() windows would serialize a third
    // of all suffixes through ONE window-sort task. The hot-token
    // frequency passes 2^16 at both scales, so suffixDedupStats flips
    // to deskewedGroupRank automatically; the probe's 1×→FACTOR× ratio
    // is the verdict's ≤2× acceptance bar.
    if (wanted("suffix_skew")) {
      val skewDir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_skew"
      def skewify(d: DataFrame): DataFrame = d.withColumn("text",
        expr("array_join(transform(split(text, ' '), " +
          "(w, i) -> if(i % 3 = 2, 'hotxyz', w)), ' ')"))
      skewify(docs).repartition(32)
        .write.mode("overwrite").parquet(s"$skewDir/1x/documents.parquet")
      skewify(Tables.documents(spark, scaled)).repartition(32)
        .write.mode("overwrite").parquet(
          s"$skewDir/${factor}x/documents.parquet")
      // deskewAbove = 0 forces the deskew path at BOTH scales (the
      // default threshold is task-sized, 2^22 — this probe measures the
      // 100-TB path's scaling, not the default's routing).
      time("suffix_skew_1x", s"$skewDir/1x")(d =>
        ops.DedupOps.suffixDedupStats(
          Tables.documents(spark, d), 0, 0L))
      time(s"suffix_skew_${factor}x", s"$skewDir/${factor}x")(d =>
        ops.DedupOps.suffixDedupStats(
          Tables.documents(spark, d), 0, 0L))
    }

    // Round-14 rows: suffix-array span REMOVAL (the full SA build +
    // adjacent-LCP min-chains + splice) and cross-modal retrieval
    // (towers + broadcast bounded query slice × image corpus).
    if (wanted("suffix_apply")) {
      // INLINE removal path (q_suffix_apply now serves from the durable
      // store, whose warm/cold state would make the 1×/10× ratio
      // meaningless — the inline build+splice is the state-free probe)
      time("suffix_apply_1x", base)(d =>
        ops.DedupOps.suffixDedupApply(Tables.documents(spark, d)))
      time(s"suffix_apply_${factor}x", scaled)(d =>
        ops.DedupOps.suffixDedupApply(Tables.documents(spark, d)))
    }
    // Round-15 rows: the durable suffix-index lifecycle. Build is the
    // priced artifact (expect ≈ factor × a little extra from the extra
    // doubling round); serve is a region-pruned scan + per-(doc,run)
    // windows — data-proportional, NO suffix ranking, so its ratio
    // should track corpus size and nothing more. Append is probed at
    // several delta fractions against the rebuild price: compute is
    // delta-proportional but the covering-region WRITE approaches a
    // table rewrite once delta suffixes ≫ regions, so the crossover
    // fraction (record in ROUND15_NOTES) is the honest
    // append-vs-rebuild decision rule.
    if (wanted("suffix_index")) {
      Seq("1x" -> base, s"${factor}x" -> scaled).foreach { case (tag, dir) =>
        val name = s"graft_scale_sfxidx_$tag"
        ops.DedupOps.suffixIndexDrop(spark, name)
        time(s"suffix_index_build_$tag", dir)(d =>
          ops.DedupOps.suffixIndexBuild(Tables.documents(spark, d), name))
        time(s"suffix_index_serve_$tag", dir)(d =>
          ops.DedupOps.suffixIndexServe(Tables.documents(spark, d), name))
        // FIXED 32-query batch at both scales (doc_id < 10^6 = the c=0
        // copy, so the scaled corpus serves the SAME queries): the
        // serving claim is corpus-size independence — region-capped
        // k-ary rounds + probed-doc-only reads — so this ratio should
        // stay ~flat while the corpus grows 10×.
        time(s"suffix_index_search_$tag", dir) { d =>
          val docs = Tables.documents(spark, d)
          val qs = docs.filter(col("doc_id") % 389 === 0 &&
              col("doc_id") < 1000000L && size(ops.TextFns.toks) >= 5)
            .select(col("doc_id").as("query_id"),
              slice(ops.TextFns.toks, 1, 5).as("q_tokens"))
          ops.DedupOps.suffixIndexSearch(docs, name, qs)
        }
        ops.DedupOps.suffixIndexDrop(spark, name)
      }
      Seq((1000L, "01pct", base), (100L, "1pct", base),
          (20L, "5pct", base), (1000L, s"01pct_${factor}x", scaled),
          (10000L, s"fixeddocs_${factor}x", scaled)).foreach {
        case (m, tag, pdir) =>
          val name = s"graft_scale_sfxapp_$tag"
          val docs = Tables.documents(spark, pdir)
          val delta = docs.filter(col("doc_id") % lit(m) === 0L)
          val baseD = docs.filter(col("doc_id") % lit(m) =!= 0L)
          ops.DedupOps.suffixIndexDrop(spark, name)
          ops.DedupOps.suffixIndexBuild(baseD, name).collect()
          GraftCache.releaseAllStorage(spark)
          val t0 = System.nanoTime()
          ops.DedupOps.suffixIndexAppend(baseD, delta, name)
          println(f"SCALE suffix_index_append_$tag%-14s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
          GraftCache.releaseAllStorage(spark)
          ops.DedupOps.suffixIndexDrop(spark, name)
      }
      // DELETE probe (round-16; round-17 rewired FIND): a FIXED doomed
      // doc set (the c=0 copy's % 10000 ids, same docs at both scales)
      // against a full-corpus store. FIND is now a reverse-sub-store
      // point lookup + covering-region getBatch — but at the DEFAULT
      // region budget the sandbox store is a handful of regions, so
      // covering ≈ all and this ratio still partly tracks corpus size;
      // the suffix_finedel probe below is the pruning claim proper.
      Seq("1x" -> base, s"${factor}x" -> scaled).foreach { case (tag, dir) =>
        val name = s"graft_scale_sfxdel_$tag"
        val docs = Tables.documents(spark, dir)
        val doomed = docs.filter(col("doc_id") % 10000 === 0L &&
          col("doc_id") < 1000000L).select(col("doc_id"))
        ops.DedupOps.suffixIndexDrop(spark, name)
        ops.DedupOps.suffixIndexBuild(docs, name).collect()
        GraftCache.releaseAllStorage(spark)
        val t0 = System.nanoTime()
        ops.DedupOps.suffixIndexDelete(docs, doomed, name)
        println(f"SCALE suffix_index_delete_$tag%-13s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        GraftCache.releaseAllStorage(spark)
        ops.DedupOps.suffixIndexDrop(spark, name)
      }
    }
    if (wanted("suffix_fine")) {
      // FIXED-doc append at PRODUCTION-SHAPED region budgets (round-16):
      // with 65536-row regions a ~12-doc delta's 2.4k suffixes touch
      // every sandbox region, so the covering set IS the table and the
      // fixed-doc ratio tracks corpus size. At targetRows = 600 the
      // region count outruns the delta at both scales (≈4k regions at
      // 1×, ≈40k at 10×), the covering set is ~min(delta, regions)
      // regions at BOTH — so THIS ratio is the design's actual
      // delta-proportionality claim, measured.
      Seq(("fine_1x", base, 10000L), (s"fine_${factor}x", scaled, 10000L))
        .foreach { case (tag, pdir, m) =>
          val name = s"graft_scale_sfxapp_$tag"
          val docs = Tables.documents(spark, pdir)
          val delta = docs.filter(col("doc_id") % lit(m) === 0L &&
            col("doc_id") < 1000000L)
          val baseD = docs.join(delta.select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          ops.DedupOps.suffixIndexDrop(spark, name)
          ops.DedupOps.suffixIndexBuild(baseD, name, targetRows = 600)
            .collect()
          GraftCache.releaseAllStorage(spark)
          val t0 = System.nanoTime()
          ops.DedupOps.suffixIndexAppend(baseD, delta, name)
          println(f"SCALE suffix_index_append_$tag%-14s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
          GraftCache.releaseAllStorage(spark)
          ops.DedupOps.suffixIndexDrop(spark, name)
      }
    }
    if (wanted("suffix_finedel")) {
      // FIXED-doc DELETE at production-shaped region budgets (round-17,
      // verdict item #2 follow-through): with ~4k regions at 1× and
      // ~40k at 10×, the ~100 doomed docs' ~2.4k suffixes cover a
      // bounded region set at BOTH scales, so the reverse-sub-store
      // FIND + covering-region patch should hold the 1×→10× ratio
      // ~flat — the former linear FIND tracked corpus size
      // (7.6 → 12.1 s, ROUND16_NOTES §5).
      Seq(("fine_1x", base), (s"fine_${factor}x", scaled)).foreach {
        case (tag, pdir) =>
          val name = s"graft_scale_sfxdel_$tag"
          val docs = Tables.documents(spark, pdir)
          val doomed = docs.filter(col("doc_id") % 10000 === 0L &&
            col("doc_id") < 1000000L).select(col("doc_id"))
          ops.DedupOps.suffixIndexDrop(spark, name)
          ops.DedupOps.suffixIndexBuild(docs, name, targetRows = 600)
            .collect()
          GraftCache.releaseAllStorage(spark)
          val t0 = System.nanoTime()
          ops.DedupOps.suffixIndexDelete(docs, doomed, name)
          println(f"SCALE suffix_index_delete_$tag%-14s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
          GraftCache.releaseAllStorage(spark)
          ops.DedupOps.suffixIndexDrop(spark, name)
      }
    }
    // Round-16 stretch (verdict item #7): the nested two-level boundary
    // descent vs the flat crossJoin on a DELIBERATELY fine-regioned
    // store (~4k regions at sf0.1, targetRows = 600) — the many-region
    // routing cliff. Same store, same probes; the fanout sys-prop
    // forces flat mode for the comparison leg.
    if (wanted("suffix_routing")) {
      val name = "graft_scale_sfxroute"
      val docs = Tables.documents(spark, base)
      val delta = docs.filter(col("doc_id") % 400 === 0L)
      val baseD = docs.filter(col("doc_id") % 400 =!= 0L)
      // derived straight from parquet — NOT checkpointed (the per-leg
      // releaseAllStorage would drop the blocks between legs)
      val qs = docs.filter(col("doc_id") % 389 === 0 &&
          size(ops.TextFns.toks) >= 5)
        .select(col("doc_id").as("query_id"),
          slice(ops.TextFns.toks, 1, 5).as("q_tokens"))
      Seq("nested" -> "1024", "flat" -> "1000000000").foreach {
        case (tag, fan) =>
          ops.DedupOps.suffixIndexDrop(spark, name)
          ops.DedupOps.suffixIndexBuild(baseD, name, targetRows = 600)
            .collect()
          GraftCache.releaseAllStorage(spark)
          sys.props("graft.sfx.route.fanout") = fan
          var t0 = System.nanoTime()
          ops.DedupOps.suffixIndexSearch(baseD, name, qs).count()
          println(f"SCALE suffix_route_search_$tag%-9s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
          GraftCache.releaseAllStorage(spark)
          t0 = System.nanoTime()
          ops.DedupOps.suffixIndexAppend(baseD, delta, name)
          println(f"SCALE suffix_route_append_$tag%-9s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
          GraftCache.releaseAllStorage(spark)
      }
      sys.props.remove("graft.sfx.route.fanout")
      ops.DedupOps.suffixIndexDrop(spark, name)
    }
    if (wanted("crossmodal")) {
      time("crossmodal_1x", base)(d =>
        ops.MultimodalOps.qCrossmodalRetrieval(spark, d))
      time(s"crossmodal_${factor}x", scaled)(d =>
        ops.MultimodalOps.qCrossmodalRetrieval(spark, d))
    }

    // dedupApply under HIGH duplication: real web corpora shed 30–80% of
    // documents at dedup, so the drop set is corpus-scale, not "vanishing".
    // Build a corpus where every base doc has a near-identical twin (≥50%
    // drop rate), force autoBroadcastJoinThreshold=-1 so the anti-join MUST
    // take the shuffled path, and verify it completes linearly — the probe
    // that proves removing the forced broadcast(dropped) was safe.
    val hd = s"${System.getProperty("java.io.tmpdir")}/graft_scale_highdup"
    if (wanted("dedup_apply_highdup") || wanted("pipeline_e2e_highdup")) {
      val twin = docs
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
        // drop the first word: same shingle set minus a few → near-dup twin
        .withColumn("text", expr("substring(text, instr(text, ' ') + 1)"))
      docs.unionByName(twin).repartition(32)
        .write.mode("overwrite").parquet(s"$hd/documents.parquet")
    }
    def noBroadcast(body: SparkSession => Unit): Unit =
      GraftSession.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
    if (wanted("dedup_apply_highdup")) noBroadcast { s =>
      val t0 = System.nanoTime()
      val docs2 = Tables.documents(s, hd)
      val kept = ops.DedupOps.dedupApply(docs2, ops.DedupOps.ngramJaccardPairs(docs2)).count()
      val total = nDocs * 2
      println(f"SCALE dedup_apply_highdup  ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        f"   kept=$kept/$total (dropped ${100.0 * (total - kept) / total}%.1f%%, no broadcast)")
    }
    // The capstone under the same high-duplication corpus with broadcast
    // joins OFF: its dedup anti-join drop set is ~50% of the corpus, so
    // this is the probe that proves removing the forced
    // broadcast(dropped) (the round-4 weak label) was safe.
    if (wanted("pipeline_e2e_highdup")) noBroadcast { s =>
      val t0 = System.nanoTime()
      val n = ops.TextOps.qPipelineE2e(s, hd).count()
      println(f"SCALE pipeline_e2e_highdup ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        f"   rows=$n (no broadcast)")
    }

    // Skew probes for the distributed-window rewrites: each one builds an
    // input whose OLD plan (global window) or whose obvious alternative
    // (fixed time buckets) would funnel nearly all rows through one task.
    if (wanted("peak_conc_skew")) {
      // 2M sessions, 90% of them inside ONE hour (10% tail over a month):
      // fixed hour buckets would put ~1.8M boundaries in one window
      // partition; the range partitioning must stay balanced.
      val base = 1700000000000000L
      val sk = spark.range(2000000).select(
        when(pmod(col("id"), lit(10)) === 0,
             lit(base) + pmod(col("id"), lit(720)) * 3600000000L)
          .otherwise(lit(base) + pmod(hash(col("id")), lit(3600000L)) * 1000L).as("s"))
        .withColumn("e", col("s") + 600000000L)
      val t0 = System.nanoTime()
      val r = ops.EventOps.peakConcurrency(sk).collect().toSeq
      println(f"SCALE peak_conc_skew       ${(System.nanoTime() - t0) / 1e9}%8.2f s   $r")
    }
    if (wanted("deciles_skew") || wanted("skyline_skew")) {
      // 4M orders: half on ONE whale customer (groupBy key skew), half
      // spread over 1M customers with only 16 distinct prices — massive
      // rank/frontier ties on the sort axis.
      val sd = s"${System.getProperty("java.io.tmpdir")}/graft_scale_tieskew"
      spark.range(4000000).select(
        col("id").as("o_orderkey"),
        when(pmod(col("id"), lit(2)) === 0, lit(0L))
          .otherwise(pmod(col("id"), lit(1000000L))).as("o_custkey"),
        (pmod(col("id"), lit(16)).cast("double") * 100.0 + 1.0).as("o_totalprice"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$sd/orders.parquet")
      if (wanted("deciles_skew")) {
        val t0 = System.nanoTime()
        val n = ops.AnalyticsOps.qSpendDeciles(spark, sd).count()
        println(f"SCALE deciles_skew         ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
      }
      if (wanted("skyline_skew")) {
        val t0 = System.nanoTime()
        val n = ops.AnalyticsOps.qSkyline(spark, sd).count()
        println(f"SCALE skyline_skew         ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
      }
    }
    spark.stop()
  }
}
