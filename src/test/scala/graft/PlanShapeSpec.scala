package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical/optimized plan shape assertions — the 100 TB design contracts:
  * dimension joins broadcast, filters and projections reach the parquet
  * scan, the dot-product rule fuses the ANN inner loop, and hot paths stay
  * inside whole-stage codegen.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val p = physical(ops.RelationalOps.qJoinBroadcast(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("merge-hinted fact-fact join uses sort-merge") {
    val p = physical(ops.RelationalOps.qJoinSortMerge(spark, Sf))
    assert(p.contains("SortMergeJoin"), p.take(2000))
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = physical(ops.RelationalOps.qPricingSummary(spark, Sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      p.take(3000))
  }

  test("projection pruning: filter query reads only needed columns") {
    val p = physical(ops.FlightOps.qFilterYear(spark, Sf))
    assert(p.contains("ReadSchema"), p.take(2000))
    assert(!p.contains("props"), "unused events.props column must be pruned")
  }

  test("flagship year filter pushes a raw ts range into the parquet scan") {
    // year(derived ts) is not pushable; the raw ts range twin must appear
    // as PushedFilters. Row groups of other years are skipped only where
    // Spark converts the filter for the physical type (INT64 nanos,
    // instant micros) — not for the TIMESTAMP_NTZ micros form the sf
    // fixtures ship, which reads every row group of the files it lists
    // (FooterPlanSpec pins the skip of whole files).
    Seq(ops.FlightOps.qFlightReport(spark, Sf),
        ops.FlightOps.qFilterYear(spark, Sf)).foreach { df =>
      val p = physical(df)
      assert(p.contains("GreaterThanOrEqual(ts,") && p.contains("LessThan(ts,"),
        p.take(3000))
    }
  }

  test("the successful-flight filter parses the props JSON once per row") {
    // Each reference to the `k` alias is inlined into the filter, and a
    // filter does no common-subexpression elimination: one reference
    // means one byte scan per row, and one get_json_object, evaluated
    // only where the scan leaves the string undecided (the coalesce
    // fallback). The filter stays inside whole-stage codegen.
    import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, GetJsonObject}
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def count(es: Seq[Expression])(pf: PartialFunction[Expression, Any]): Int =
      es.map(_.collect(pf).size).sum
    def hasScan(e: Expression) = e.exists(_.isInstanceOf[graft.functions.FlatJsonIntegral])
    // (filter, inside a codegen stage) for every FilterExec of the plan
    def filters(p: SparkPlan, inStage: Boolean): Seq[(FilterExec, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => filters(a.executedPlan, false)
      case q: QueryStageExec => filters(q.plan, false)
      case w: WholeStageCodegenExec => filters(w.child, true)
      case i: InputAdapter => filters(i.child, false)
      case f: FilterExec => (f, inStage) +: filters(f.child, inStage)
      case o => o.children.flatMap(filters(_, inStage))
    }
    Seq(ops.FlightOps.qFlightReport(spark, Sf),
        ops.FlightOps.qSecondary(spark, Sf)).foreach { df =>
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.collect { case p => p.expressions }.flatten
      val shown = plan.toString.take(3000)
      assert(count(exprs) { case e: graft.functions.FlatJsonIntegral => e } == 1, shown)
      assert(count(exprs) { case e: GetJsonObject => e } == 1, shown)
      val fallbacks = count(exprs) {
        case c: Coalesce if c.children.head.isInstanceOf[graft.functions.FlatJsonIntegral] =>
          c.children.tail.map(_.collect { case e: GetJsonObject => e }.size).sum
      }
      assert(fallbacks == 1, shown)
      df.collect() // materialize so AQE finalizes the plan
      val scanned = filters(df.queryExecution.executedPlan, false)
        .filter { case (f, _) => hasScan(f.condition) }
      assert(scanned.size == 1 && scanned.forall(_._2),
        df.queryExecution.executedPlan.toString.take(3000))
    }
  }

  test("dedup pair generators are equi-joins — no cartesian/all-pairs remains") {
    Seq("simhash" -> ops.DedupOps.qDedupSimhash(spark, Sf),
        "embedding_cosine" -> ops.DedupOps.qDedupEmbeddingCosine(spark, Sf),
        "ngram_jaccard" -> ops.DedupOps.qDedupNgramJaccard(spark, Sf),
        "minhash_lsh" -> ops.DedupOps.qDedupMinhashLsh(spark, Sf)).foreach {
      case (name, df) =>
        val p = physical(df)
        assert(!p.contains("CartesianProduct"), s"$name has a cartesian join")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
    }
  }

  test("FuseDotProduct fires inside the real ANN query") {
    val opt = ops.SimilarityOps.qAnnBruteforce(spark, Sf)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("cosine_dot"), opt.take(3000))
  }

  test("flagship aggregation runs partial -> final HashAggregate (map-side combine)") {
    // The reference ships every (month,delay) pair across the shuffle (no
    // combiner, SURVEY.md §4); Spark's partial_sum proves map-side combine.
    val p = physical(ops.FlightOps.qGroupMonthSumCount(spark, Sf))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("partial_sum"), p.take(2000))
  }

  test("quota sample runs on the custom TopKPerKey operator, not a window sort") {
    val p = physical(ops.TextOps.qQuotaSample(spark, Sf))
    assert(p.contains("PartialTopK") && p.contains("FinalTopK"), p.take(3000))
    assert(!p.contains("Window"), "quota path must not fall back to a window sort")
  }

  test("shard packing windows are bucket-partitioned (no full-corpus window)") {
    val plan = ops.TextOps.qShardPack(spark, Sf).queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    // The doc-level window (over the full corpus) must be partitioned by
    // bucket; only the bucket-totals window (bucketSize× smaller input)
    // may be global.
    val docLevel = windows.filter(_.windowExpressions.toString.contains("n_chars"))
    assert(docLevel.nonEmpty && docLevel.forall(_.partitionSpec.nonEmpty),
      windows.map(w => w.partitionSpec).mkString("; "))
  }

  test("fact scan carries a dynamic partition pruning subquery from the dim filter") {
    // The dim predicate (above-average frequency) is not a literal, so
    // static pruning can't fire; the broadcast of the filtered dim must be
    // reused as a runtime partition filter on the fact scan.
    val p = physical(ops.SourceSinkOps.qDppPrune(spark, Sf))
    assert(p.contains("dynamicpruning"), p.take(4000))
  }

  test("partition-pruned layout read keeps PartitionFilters in the driver query") {
    val df = ops.SourceSinkOps.qPartitionPrune(spark, Sf)
    val p = physical(df)
    assert(p.contains("PartitionFilters: [") && p.contains("event_type#"), p.take(3000))
  }

  test("prefix-sum recursion: no window at any level is global over >bucketSize rows") {
    // bucketSize=4 over ~500 docs forces 3+ recursion levels; every window
    // except the final <=bucketSize base case must be bucket-partitioned,
    // and the deep recursion must agree with the single-level default.
    val docs = graft.Tables.documents(spark, Sf)
    val deep = ops.TextOps.packShards(docs, bucketSize = 4)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = deep.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.size >= 4, s"expected a multi-level recursion, got ${windows.size} windows")
    assert(windows.count(_.partitionSpec.isEmpty) <= 1,
      "only the <=bucketSize base case may run as a global window")
    val wide = ops.TextOps.packShards(docs)
    assert(deep.collect().toSeq == wide.collect().toSeq,
      "recursion depth must not change shard assignment")
  }

  test("bucketed join reads Bucketed: true and shuffles neither side") {
    val df = ops.SourceSinkOps.qBucketedJoin(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("Bucketed: true"), p.take(3000))
    assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
           !p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join still shuffles:\n${p.take(3000)}")
  }

  test("merge-upsert broadcasts the touched-key set; the base never shuffles") {
    // The merge CORE (qUpsert now runs it eagerly inside the KeyedStore
    // staging write, so the returned relation is just the table read).
    val base = graft.Tables.orders(spark, Sf)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val changes = base.filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), lit("U").as("op"), lit("X").as("o_orderstatus"))
    val p = physical(ops.SourceSinkOps.mergeUpsert(base, changes, "o_orderkey"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(3000))
  }

  test("kmeans assignment broadcasts the centroids; fact side never shuffles for the join") {
    val p = physical(ops.SimilarityOps.qKmeans(spark, Sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
  }

  test("salted join executes as a shuffle join on the salted key") {
    val p = physical(ops.SourceSinkOps.qSkewSaltedJoin(spark, Sf))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("AQE splits the skewed join partition (declarative twin of salting)") {
    // Thresholds sized to the sf0.001 fixture (hot partition a few KB compressed);
    // the decision logic is identical to 256 MB defaults at cluster scale.
    // The execution profile skips keys the scoped session sets, so the
    // fixture-sized advisory override below wins.
    GraftSession.scoped(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1024",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024") { s =>
      val df = ops.SourceSinkOps.skewAqeJoin(s, Sf)
      df.collect() // finalize the adaptive plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skewed"), plan.take(4000))
    }
  }

  test("runtime bloom filter prunes the probe side of the selective join") {
    GraftSession.scoped(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1024") { s =>
      val opt = ops.SourceSinkOps.bloomPruneJoin(s, Sf)
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        opt.take(4000))
    }
  }

  test("paragraph dedup windows see only digests — text never shuffles") {
    val df = ops.ScrubOps.qParagraphDedup(spark, Sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    // The digest-partitioned rank's exchange carries the window child's
    // columns; paragraph/text payloads must be projected away below it.
    windows.foreach { w =>
      val names = w.child.output.map(_.name).toSet
      assert(!names.contains("para") && !names.contains("text"),
        s"window input carries text payload: $names")
    }
  }

  test("pagerank rounds are equi-joins with per-round truncated lineage — no cartesian blowup") {
    val df = ops.GraphOps.qPagerank(spark, Sf)
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // Per-round localCheckpoint: the final plan reads the materialized
    // last round (Scan ExistingRDD), not an iters-deep join chain — the
    // round's joins/aggregates ran inside the checkpoint jobs.
    assert(p.contains("ExistingRDD"), p.take(3000))
    assert(p.linesIterator.size < 40, p.take(3000))
  }

  test("count-min sketch aggregates partially before the exchange") {
    val p = physical(ops.TextOps.qHeavyHitters(spark, Sf))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("federated join broadcasts the JSON dim and merge-joins the CSV keys") {
    val df = ops.SourceSinkOps.qFederatedJoin(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("SortMergeJoin"), p.take(3000))
  }

  test("copurchase pair stage: one repartition exchange, reused by the self-join") {
    // Cache substitution is global by canonical plan: another operator's
    // persisted basket relation (assocRules' `li` over the same fixture)
    // would replace this query's repartition subtree with a cache read —
    // value-identical, but this test asserts the UNCACHED plan shape.
    spark.catalog.clearCache()
    val df = ops.AnalyticsOps.qCopurchase(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_COL"), p.take(3000))
    assert(p.contains("ReusedExchange"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("skyline: fact table partial-aggregates before the window ranks") {
    val p = physical(ops.AnalyticsOps.qSkyline(spark, Sf))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
  }

  test("scd2: all three window functions share ONE hash exchange") {
    val p = physical(ops.EventOps.qScd2(spark, Sf))
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected 1 hash exchange, got $nHash\n${p.take(3000)}")
  }

  test("percentile bands: rank window and band aggregate share the exchange") {
    val p = physical(ops.EventOps.qPercentileBands(spark, Sf))
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected 1 hash exchange, got $nHash\n${p.take(3000)}")
  }

  test("distributed rank/sweep/frontier: no global window over data-scale input") {
    // The round-4 weak labels: deciles (global ntile), peak concurrency
    // (global running sum), skyline (global range window) each funneled a
    // data-scale relation through ONE task. The rewrites may keep at most
    // one global window — the bounded combine step over per-partition /
    // per-bucket summaries (<= #partitions rows, a structural constant).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    Seq("spend_deciles" -> ops.AnalyticsOps.qSpendDeciles(spark, Sf),
        "skyline" -> ops.AnalyticsOps.qSkyline(spark, Sf),
        "peak_concurrency" -> ops.EventOps.qPeakConcurrency(spark, Sf),
        // Session-3 consumers of the same distributed-rank machinery —
        // three NTILEs, a Gini, and funnel percentiles, all windowless
        // over data by construction. RFM invokes globalRank three times
        // (one per score dimension), so it may carry up to three of the
        // <=256-row offset base-case windows; everything else at most one.
        "rfm_segments" -> ops.AnalyticsOps.qRfmSegments(spark, Sf),
        "gini_spend" -> ops.AnalyticsOps.qGiniSpend(spark, Sf),
        "funnel_latency" -> ops.EventOps.qFunnelLatency(spark, Sf)).foreach {
      case (name, df) =>
        val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        val nGlobal = windows.count(_.partitionSpec.isEmpty)
        val cap = if (name == "rfm_segments") 3 else 1
        assert(nGlobal <= cap,
          s"$name: $nGlobal global windows of ${windows.size} — data-scale sort on one task")
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("ntile"), s"$name fell back to a global ntile")
    }
  }

  test("TTL discovery read pushes the age predicate and prunes columns") {
    import spark.implicits._
    val name = "graft_plan_ttl"
    ops.KeyedStore.create(spark, name,
      (0L until 64L).map(k => (k, k, s"v$k")).toDF("k", "ts", "v"),
      "k", targetRowsPerRegion = 16)
    // The exact read shape KeyedStore.expire issues for discovery.
    val p = physical(spark.table(name).filter(col("ts") < 10L).select(col("k")))
    assert(p.contains("PushedFilters: [IsNotNull(ts), LessThan(ts,10)]"),
      p.take(3000))
    assert(!p.contains("v#") || !p.contains("ReadSchema: struct<k:bigint,ts:bigint,v"),
      "payload column must be pruned from the discovery scan")
  }

  test("image phash candidates are an equi-join — no all-pairs plan") {
    val p = physical(ops.MultimodalOps.qImagePhash(spark, Sf))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("m4 downsample: one hash aggregate over (series, pixel) — no window, " +
       "extent is a broadcast scalar") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = ops.EventOps.qM4Downsample(spark, Sf)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.isEmpty, s"${windows.size} windows — M4 must be pure aggregation")
    val p = physical(df)
    // min_by/max_by partials collapse map-side: exactly one grouped hash
    // aggregate pair (plus the single-row extent aggregate), no sort of
    // the event relation beyond the output orderBy.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "extent scalar should broadcast")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val nAgg = "HashAggregate".r.findAllIn(p).length
    assert(nAgg <= 6, s"$nAgg HashAggregate nodes — more than extent + M4 pairs:\n${p.take(3000)}")
  }

  test("curriculum order: rank/bin come from the distributed globalRank — " +
       "no data-scale global window, no ntile fallback") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = ops.TextOps.qCurriculumOrder(spark, Sf)
    // globalRank's offset hierarchy windows over PARTITION-COUNT-sized
    // relations are fine (the prefix-sum recursion rule); what must not
    // appear is more than one global window or any ntile over the data.
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    val nGlobal = windows.count(_.partitionSpec.isEmpty)
    assert(nGlobal <= 1, s"$nGlobal global windows of ${windows.size}")
    assert(!physical(df).contains("ntile"), "fell back to a global ntile")
  }

  test("k-core rounds peel via anti-joins against the dead set, " +
       "never cartesian") {
    // The loop localCheckpoints each round (plan truncation — the
    // analyzer hangs on the un-truncated ~5^round plan), so the final
    // plan is a LogicalRDD; pin the ROUND plan directly instead.
    val round = ops.GraphOps.peelRound(
      ops.GraphOps.copurchaseEdges(spark, Sf, minOrders = 2), k = 2)
    val p = physical(round)
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("forget-cascade legs: keyed anti-join, versioned DELETE change " +
       "set, ANN posting keys from the frozen assignment — no cartesian") {
    // forgetPhasePlans renders the executed plans itself (and drops its
    // temp stores + vstore dir before returning — the round-13 ADVICE
    // leak fix), so the assertions run over plan STRINGS here.
    val phases = ops.ScrubOps.forgetPhasePlans(spark, Sf)
    val byName = phases.map { case (t, p) => t.split(":")(0) -> p }.toMap
    val keyed = byName("keyed leg")
    assert(keyed.contains("LeftAnti"), keyed.take(3000))
    val vstore = byName("versioned leg")
    // the DELETE set joins head rows to the (small) doomed id set
    assert(vstore.contains("Join") || vstore.contains("BroadcastHashJoin"),
      vstore.take(3000))
    val ann = byName("ann leg")
    // assignment routes via the broadcast stored codebook; posting keys
    // are a projection of it — never a cartesian, never a corpus window
    assert(ann.contains("BroadcastNestedLoopJoin") ||
      ann.contains("BroadcastHashJoin"), ann.take(3000))
    phases.foreach { case (t, p) =>
      assert(!p.contains("CartesianProduct"), s"$t: ${p.take(2000)}")
    }
    // and the temp stores really are gone from the catalog
    assert(!spark.catalog.tableExists(
      "graft_forget_docs_plans_" + Sf.replaceAll("[^a-zA-Z0-9]", "_")))
    assert(!spark.catalog.tableExists(
      "graft_forget_ann_plans_" + Sf.replaceAll("[^a-zA-Z0-9]", "_")))
  }

  test("filtered ANN broadcasts the query-label side") {
    val p = physical(ops.SimilarityOps.qAnnFiltered(spark, Sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("m_label"),
      p.take(3000))
  }

  test("Secondary aggregates map-side below its first exchange, then " +
       "exchanges the aggregated rows 10 ways by carrier") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = ops.FlightOps.qSecondary(spark, Sf)
    df.collect() // materialize so AQE finalizes the plan
    val shown = df.queryExecution.executedPlan.toString.take(4000)
    val exchanges = planNodes(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    def below(e: ShuffleExchangeExec) = planNodes(e.child)
    val first = exchanges.filter(e => !below(e).exists(_.isInstanceOf[ShuffleExchangeExec]))
    assert(first.size == 1, shown)
    assert(below(first.head).exists {
      case h: HashAggregateExec => h.aggregateExpressions.exists(_.mode == Partial)
      case _ => false
    }, shown)
    val tenWay = exchanges.filter(_.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), 10) => a.name == "carrier"
      case _ => false
    })
    assert(tenWay.size == 1 && below(tenWay.head).contains(first.head), shown)
  }

  test("flight report and Secondary: no range exchange, and no per-row " +
       "timestamp cast of ts under UTC") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.TimestampType
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    Seq(ops.FlightOps.qFlightReport(spark, Sf), ops.FlightOps.qSecondary(spark, Sf)).foreach { df =>
      df.collect() // materialize so AQE finalizes the plan
      val nodes = planNodes(df.queryExecution.executedPlan)
      val shown = df.queryExecution.executedPlan.toString.take(4000)
      assert(!nodes.exists {
        case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      }, shown)
      val exprs = nodes.flatMap {
        case f: FilterExec => Seq(f.condition)
        case p: ProjectExec => p.projectList
        case _ => Nil
      }
      assert(exprs.nonEmpty, shown)
      val casts = exprs.flatMap(_.collect { case c: Cast if c.dataType == TimestampType => c })
      assert(casts.isEmpty, shown)
    }
  }

  test("flight job budget: report <= 2 jobs, Secondary <= 3") {
    // Report: the scan + partial-aggregate map stage, and one task that
    // runs the final aggregate and the sort. Secondary adds the 10-way
    // carrier exchange. The read plans from the footers, so there is no
    // schema-inference job; one, or a sampled range exchange (two more
    // jobs), fails here.
    assert(jobsOf(ops.FlightOps.qFlightReport(spark, Sf).collect()) <= 2)
    assert(jobsOf(ops.FlightOps.qSecondary(spark, Sf).collect()) <= 3)
  }

  test("hot paths compile to whole-stage codegen") {
    val df = ops.FlightOps.qGroupMonthSumCount(spark, Sf)
    df.collect() // materialize so AQE finalizes the plan
    // WholeStageCodegen stages print as "*(n)" in the simple plan string.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(3000))
  }
}
