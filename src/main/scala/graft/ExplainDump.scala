package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain(formatted)` for representative queries into
  * PLANS.md — the plan-shape evidence (pushdown, broadcast, partial
  * aggregation, codegen, custom operators) at a glance.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val dir = "/root/testdata/sf0.001"
    val picks = Seq(
      "q_flight_report" -> "Flagship reproduction: filter → two-level agg → pivot → format",
      "q_join_broadcast" -> "Dimension joins broadcast; fact side never shuffles",
      "q_join_sortmerge" -> "Fact-fact sort-merge join co-partitioned on the key",
      "q_pricing_summary" -> "Predicate pushdown + 8 aggregates in one scan",
      "q_dedup_minhash_lsh" -> "MinHash signatures via min-aggregates; LSH band equi-join",
      "q_ann_bruteforce" -> "Broadcast query set; fused native cosine_dot inner loop",
      "q_topk_custom" -> "Custom TopKPerKey operator: Partial/Final exec + one exchange",
      "q_corpus_clean" -> "End-to-end pipeline: quality gate → near-dedup → corpus stats",
      "q_dedup_ngram_jaccard" -> "Df-capped shingle inverted index: rare-shingle candidates + exact-verify recount",
      "q_dedup_simhash" -> "Pigeonhole Hamming-band LSH equi-join (no all-pairs)",
      "q_set_ops" -> "UNION/INTERSECT/EXCEPT off one full-outer join via presence flags",
      "q_dedup_embedding_cosine" -> "Sign-LSH banded blocking with literal planes; narrow candidate join",
      "q_keyed_lookup" -> "Keyed point-lookup: static key-range-region PartitionFilters + pushed IN list over the catalog KeyedStore",
      "q_keyed_range" -> "Keyed range scan: regions intersecting [from,to] pruned driver-side; range predicate pushed into key-sorted files",
      "q_keyed_bloom" -> "Row-bloom GET: absent probes rejected by per-region blooms before any scan; present keys resolve normally",
      "q_sql_keyed_pushdown" -> "Raw-SQL keyed read: KeyedRegionPrune injects kr IN (...) from the region directory (+ blooms for IN probes); PartitionFilters + PushedFilters with no API call",
      "q_sql_keyed_join" -> "Raw-SQL multiGet shape: join rewrite equates kr with the probe key's holding region (boundary-bucket + closure explode) so Spark's own DPP prunes the store scan at runtime via broadcast reuse",
      "q_time_travel_get" -> "Versioned point-GET: probes route to their covering manifest leaves driver-side — the scan lists O(keys) files, with the key IN-list pushed for row-group skipping below",
      "q_vstore_compact" -> "Versioned-store OPTIMIZE: post-compact snapshot read — identical rows, bin-packed leaves",
      "q_incr_view_cdc" -> "Incremental view refresh: v1 view + per-bucket CDC deltas (full-outer diff), never a v2 rescan",
      "q_quota_sample" -> "Per-language quota via graft_topk: bounded map-side heaps, tiny exchange",
      "q_shard_pack" -> "Distributed two-phase prefix sum: bucketed windows + broadcast offsets",
      "q_kmeans" -> "Lloyd rounds: broadcast centroids, map-side partial argmin + exact-int update",
      "q_pipeline_e2e" -> "Capstone pipeline: quality gate → dedup apply → quota → shard manifest, one tree",
      "q_partition_prune" -> "Hive-layout read: PartitionFilters prune to the selected directories",
      "q_dpp_prune" -> "Dynamic partition pruning: broadcast dim filter reused as a runtime partition filter",
      "q_bucketed_join" -> "Bucketed co-located SMJ: Bucketed: true, no exchange on either join key",
      "q_upsert" -> "Keyed MERGE through the catalog KeyedStore: post-merge table read (merge core plan asserted in PlanShapeSpec)",
      "q_ann_recall" -> "Recall invariant: brute-force truth joined to three approximate paths",
      "q_top_orders" -> "TPC-H Q3 shape: pushed filters, broadcast segment, merge-joined facts, exact-int top-N",
      "q_region_volume" -> "TPC-H Q5 shape: 6-way join with broadcast dims and co-partitioned facts",
      "q_heavy_hitters" -> "Count-min sketch: ONE tokenization (ReusedExchange feeds sketch + exact top-k), <= D*W cells at the exchange",
      "q_paragraph_dedup" -> "Sub-document dedup: only (digest, doc_id, pid) triples shuffle",
      "q_federated_join" -> "CSV keys + JSON dim + parquet fact joined in one plan",
      "q_pagerank" -> "Iterative PageRank: co-partitioned equi-join rounds, exact-integer rank state",
      "q_dedup_incremental" -> "Batch-vs-corpus dedup: digest semi-join + banded cross-pair near-dup, exact-first",
      "q_lang_rebalance" -> "Temperature rebalance: broadcast per-lang counts, one filtered pass, exact-int keep rule",
      "q_ann_ivf" -> "Multi-assign IVF: broadcast codebook, map-side top-2 cells, narrow (q,m,cos) dedup",
      "q_copurchase" -> "Market-basket pairs: order-key co-partitioned self-join, partial-agg'd pair counts, TakeOrdered",
      "q_skyline" -> "Pareto frontier: range-partitioned suffix maxima + broadcast per-partition carry, no global window",
      "q_spend_deciles" -> "Equi-depth deciles: distributed rank (range partition + exclusive offsets), no window over data",
      "q_events_resample" -> "Gap-fill: partial-agg'd hourly relation; sequence+explode grid joined back",
      "q_term_search" -> "Scored retrieval: pruned posting scan, broadcast idf, AND-filtered TakeOrdered",
      "q_peak_concurrency" -> "Sweep line: range-partitioned two-phase prefix sum over boundary rows, skew-immune",
      "q_percentile_bands" -> "Exact multi-quantile: rank window + band aggregate share one hash exchange",
      "q_interval_merge" -> "Interval union: running end-max island merge, exact covered mass",
      "q_type_bitmask" -> "Bitwise segment census: mergeable bit_or partials, one row per user at the exchange",
      "q_semantic_dedup" -> "SemDeDup: broadcast Lloyd codebook assignment; pair join keyed on c_id (partition-local quadratic, k scales with n)",
      "q_knn_graph" -> "All-vectors kNN: narrow (q_id,bucket) probe fanout, bucket equi-join, embeddings joined back post-prune, per-vec top-k",
      "q_containment_dedup" -> "Asymmetric containment: A-prefix probes the full df-capped index; exact verify on hash-set signatures",
      "q_hll_distinct" -> "HLL: register maxima partial-agg map-side to <= m rows/partition; exchange is O(langs*m), never O(tokens)",
      "q_bm25" -> "BM25: posting lists only, broadcast idf/stats, exact micro-point per-doc sums",
      "q_perplexity_filter" -> "Bigram-LM NLL: token-partitioned count joins, exact micro-nat doc totals",
      "q_anomaly_zscore" -> "Exact-integer moments pass, broadcast-back, linear filter — no windows",
      "q_seq_pack" -> "Sequence packing: distributed token prefix sum (bucketed windows + offset hierarchy), per-bin aggregate on a high-cardinality key",
      "q_label_smooth" -> "kNN label vote: edge relation joined to labels on neighbor_id, (q_id,label) count, max_by argmax — no window, no driver state",
      "q_next_event_examples" -> "Example builder: six window functions off ONE per-user exchange+sort, O(1) frame state",
      "q_mutual_info" -> "MI: joint counts once, marginals off the joint relation, broadcast scalar total",
      "q_bpe_merges" -> "BPE pair stats: corpus-heavy word count first, pair explode over DISTINCT words only",
      "q_pivot" -> "Explicit-value PIVOT compiled to one conditional aggregate (no distinct-collect pass)",
      "q_knn_graph" -> "LSH join, embeddings-in-probe shape: cosine computed in the bucket-join projection, no fat-row sort downstream",
      "q_token_zipf" -> "Corpus-scale token count + 100-row TakeOrdered; regression on the bounded relation only",
      "q_winnow_fingerprint" -> "Winnowing: k-gram hashes from one generator projection, per-doc window min (doc-partitioned, never global)",
      "q_rfm_segments" -> "Triple NTILE via distributed rank: three range exchanges over the customer aggregate, zero windows over data",
      "q_gini_spend" -> "Gini: globalRank + one partial-combined sum — rank arithmetic, no ntile/window",
      "q_assoc_rules" -> "Association rules: basket-co-partitioned pair join, item counts attached by narrow equi-joins, broadcast N",
      "q_bootstrap_ci" -> "Poisson bootstrap: 64x explode partial-aggregates to |types|*64 rows before the only exchange; rank window over 64 rows/type",
      "q_degree_assortativity" -> "Assortativity: degree aggregate joined back twice, one global exact-integer moment row",
      "q_psi_drift" -> "PSI: two pruned-scan aggregates, tiny full-outer bucket join, broadcast totals",
      "q_pit_join" -> "Point-in-time join: user-co-partitioned SMJ with interval residual, <=1 match per event",
      "q_session_paths" -> "Journey mining: per-user sessionization window, in-row struct sort, one row per session at the exchange",
      "q_mrr_eval" -> "Ranking eval: graft_topk bounded heaps cut to 10/term before the rank window",
      "q_split_leakage" -> "Leakage audit: digest-grouped split counts, one summary aggregate",
      "q_ann_index_serve" -> "Store-served IVF-PQ: ONE multi-range store scan (scanMulti) covers all probed cells' regions; corpus floats fetched by id only for the k*expand survivors",
      "q_mmr_rerank" -> "MMR rerank: broadcast-query pool build, then the k-sequential greedy runs per query GROUP via typed flatMapGroups over <=pool rows — parallel across queries, no driver loop",
      "q_hybrid_rrf" -> "RRF fusion: each retriever cut is a distributed TakeOrdered; rank windows see <=20 rows; the fuse is a tiny full-outer join",
      "q_hard_negatives" -> "Hard negatives: label disagreement folded into the broadcast join predicate — pruned before any scoring work",
      "q_embedding_drift" -> "Drift PSI: broadcast codebook, map-side-aggregate argmax assignment, 16-row histogram with broadcast totals — no window over the corpus",
      "q_k_anonymity" -> "k-anonymity/l-diversity: ONE hash aggregate on the QI key with partial count-distinct; |QI groups| rows at the exchange",
      "q_kcore" -> "k-core peel: per round one endpoint count + two semi-joins against the surviving node set, O(edges) shuffled rows, edge-count early stop",
      "q_ann_filtered" -> "Filtered vector search: member labels ride the posting rows into the coarse join; the label filter runs BEFORE the k*expand cut",
      "q_image_phash" -> "aHash near-dup: mapPartitions decode+hash, 4x16-bit banded self-equi-join candidates, codegen'd bit_count(xor) verify — never all-pairs",
      "q_keyed_ttl" -> "TTL sweep: pushed-down age scan finds expired keys; the delete anti-join rewrites only regions holding one",
      "q_keyed_secondary_index" -> "Secondary index: prefix range scan over the index table's regions, then a primary getBatch pruned to the holding regions",
      "q_curriculum_order" -> "Curriculum interleave: distributed globalRank + closed-form rank-in-bin projection — no per-bin window, no second shuffle",
      "q_dedup_keep_best" -> "Quality-aware dedup: cluster-member argmax by exact-ppm TTR (max_by struct), anti-join keep — corpus shuffles only on doc_id",
      "q_ann_late_interaction" -> "Late interaction: 16 facet cosines + 4 maxes + the facet sum in ONE codegen'd projection over the broadcast-query corpus scan",
      "q_ktruss" -> "k-truss rounds: degree-ordered triangle enumeration, 3-edge explode, support filter — localCheckpoint truncates the ~8x/round plan growth",
      "q_temporal_split" -> "Temporal split: distributed globalRank cuts, no data-scale global window",
      "q_m4_downsample" -> "M4 downsample: broadcast extent scalar, then ONE hash aggregate per (series, pixel) — min_by/max_by partials, no window anywhere",
      "q_ann_pq" -> "True-PQ ADC serve: stored sub-codebooks broadcast into per-query LUT maps; posting scan reads m codes + one bigint per member; float rescore by id",
      "q_substr_apply" -> "Substring-dedup apply: duplicated-window islands per doc (running end-max), survivor splice via sorted segment concat — text only rides the final projection",
      "q_phrase_search" -> "Positional phrase retrieval: per-term filtered posting legs (selectivity prunes before any join), adjacency equi-join on (doc_id, pos - offset)",
      "q_quality_classify" -> "Linear quality gate serving the LEARNED perceptron weights: broadcast model join onto the hashed-BoW aggregate; centered-margin score, exact BIGINT arithmetic, no UDF",
      "q_substr_apply_gated" -> "Winnowing-gated exact-span removal: hash-only fingerprint pass selects candidates; only they pay the stride-1 window groupBy + island splice",
      "q_bpe_encode" -> "BPE encoder: merges applied over DISTINCT words (checkpointed chain), doc explode equi-joined onto the vocabulary-sized encoded table",
      "q_seq_pack_bpe" -> "Sequence packing from LEARNED token counts: encode chain feeds the distributed prefix-sum packing tail",
      "q_selfrep_apply" -> "Within-doc repetition removal: keep-first window-min over (doc, content) partitions; shared island/splice tail",
      "q_suffix_dedup" -> "Suffix-array LCP statistics: final plan = checkpointed rank-table leaves -> one lazy binary-descent join chain -> doc-crossing credit aggregate (the doubling rounds materialize per round; schedule in the scaladoc)",
      "q_suffix_apply" -> "Suffix-array exact-span removal SERVED from the durable index (round-15): region-pruned store scan -> per-(doc,run) window min-chains -> char-interval splice; a warm artifact leaves NO suffix ranking anywhere in the plan",
      "q_crossmodal_retrieval" -> "Cross-modal serving: both stub towers + literal integer alignment heads fold into codegen'd projections; bounded query slice broadcast against the image corpus, per-query top-5 window",
      "q_suffix_index_serve" -> "Durable-suffix-index serve: region-pruned store scan -> per-(doc,run) window min-chains -> per-doc max; no suffix ranking, no descent, no corpus text",
      "q_suffix_index_incremental" -> "Incremental suffix-index lifecycle, WARM resolution: the final plan is the serve shape (the append's binary-search rounds checkpoint per round and only run when the store is at base state; merge mechanics in suffixIndexAppend's scaladoc)",
      "q_suffix_search" -> "SA range search: final plan = rank-difference join of the two checkpointed binary-search boundaries + one region-pruned multi-range scan of the matched intervals for distinct docs; no ranking (in-region ordinals are STORED since round 16), no corpus-wide work",
      "q_suffix_index_delete" -> "GDPR delete off the durable index, WARM resolution: the final plan is the serve shape over the patched store (the delete itself is one linear find pass + run-grouped seam patches + covering-region COW; mechanics in suffixIndexDelete's scaladoc)")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append("Generated by `graft.ExplainDump` on sf0.001 (plan shapes are\n")
    sb.append("scale-independent). Things to look for: `PushedFilters`/`ReadSchema`\n")
    sb.append("on every scan, `BroadcastHashJoin` under dimension joins,\n")
    sb.append("`partial_*` aggregate modes before each exchange, `(N)` whole-stage\n")
    sb.append("codegen spans, `cosine_dot` in the ANN projections, and the\n")
    sb.append("`PartialTopK`/`FinalTopK` pair of the custom operator.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // let AQE finalize
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("\n```\n")
    }

    // ---- Multi-action operators: per-round / per-leg plans + schedule.
    // A single executedPlan can't show an iterative op (each round
    // localCheckpoints, so the final plan is just a Scan ExistingRDD);
    // these sections dump the LOOP BODY / each LEG's relation plus the
    // schedule that drives it.
    sb.append("\n# Multi-action operators — per-round / per-leg plans\n\n")
    sb.append("Iterative and multi-store ops materialize each round/leg ")
    sb.append("(`localCheckpoint` / store commit), so the query's own final ")
    sb.append("plan is a scan of the last materialization. The plans below ")
    sb.append("are the REPEATED UNIT each schedule drives.\n")
    def dumpPhaseStrings(name: String, schedule: String,
                         phases: Seq[(String, String)]): Unit = {
      sb.append(s"\n## $name\n\n**Schedule:** $schedule\n")
      phases.foreach { case (title, plan) =>
        sb.append(s"\n### $title\n\n```\n")
        sb.append(plan.take(4000))
        sb.append("\n```\n")
      }
    }
    def dumpPhases(name: String, schedule: String,
                   phases: Seq[(String, org.apache.spark.sql.DataFrame)]): Unit =
      dumpPhaseStrings(name, schedule, phases.map { case (title, df) =>
        df.collect()
        title -> df.queryExecution.executedPlan.toString
      })
    val docs = graft.Tables.documents(spark, dir)
    val edges = ops.GraphOps.copurchaseEdges(spark, dir, minOrders = 2)
      .localCheckpoint()
    dumpPhases("q_kcore_full",
      "peel UNTIL FIXPOINT under cap 64; per round the body below runs, " +
        "localCheckpoint(lazy) + count materializes it (plan truncation — " +
        "the analyzer hangs on the un-truncated ~5x/round tree), and the " +
        "loop stops when the surviving edge count stops changing.",
      Seq("one peel round (degree count + two semi-joins against the survivors)" ->
        ops.GraphOps.peelRound(edges, 2)))
    dumpPhases("q_ktruss_full",
      "peel UNTIL FIXPOINT under cap 32; per round the body below runs " +
        "(degree-ordered triangle enumeration, 3-edge explode, support " +
        "filter), localCheckpoint + count per round, edge-count early stop; " +
        "a final support pass over the surviving subgraph emits the output.",
      Seq("one truss round (triangle support join + threshold filter)" ->
        ops.GraphOps.trussRound(edges, 3)))
    val words = ops.TextOps.bpeWords(docs).localCheckpoint()
    val top = ops.TextOps.bpePairStats(words).collect()(0)
    dumpPhases("q_bpe_train",
      "16 rounds (or until pair exhaustion); per round: collect the ONE " +
        "argmax row of the pair-stats plan (convergence-scalar class), " +
        "apply the merge fold to the distinct-word table, localCheckpoint. " +
        "The corpus is scanned once (word table build); every round runs " +
        "over |distinct words| rows.",
      Seq(
        "per-round pair statistics + argmax (the collected merge decision)" ->
          ops.TextOps.bpePairStats(words),
        "per-round merge apply (greedy left-to-right fold projection)" ->
          ops.TextOps.bpeApplyMerge(words, top.getString(0), top.getString(1))))
    dumpPhases("q_quality_train",
      "8 perceptron rounds; per round: margins + misclassified set " +
        "(one pass over the cached design matrix, weights broadcast), " +
        "then the decayed weight update (second pass, bucket aggregate); " +
        "weights localCheckpoint each round; driver sees one stats row " +
        "per round.",
      ops.TextOps.perceptronPhasePlans(docs))
    dumpPhaseStrings("q_forget_cascade",
      "three store legs, each ONE action, idempotent: keyed anti-join " +
        "merge (rewrites only regions covering doomed keys), versioned " +
        "DELETE commit (CDC-visible; hard erasure = vacuum), ANN posting " +
        "delete (keys recomputed from the frozen assignment). Phase " +
        "counts around the legs fold into one checkpoint action each.",
      ops.ScrubOps.forgetPhasePlans(spark, dir))

    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("PLANS.md written")
    spark.stop()
  }
}
