package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.functions.JsonFunctions.flatJsonIntegral

/** Extension layer — relational operators the reference lacks entirely
  * (SURVEY.md §2.6: no joins, windows, sorts, set ops, distinct, rollup,
  * scalar function library). Each query is a declarative Catalyst plan over
  * the TPC-H-ish fixtures with an exact DuckDB oracle in
  * [[RelationalOracles]].
  *
  * Scale design (100 TB targets):
  *  - Dimension joins (region/nation/supplier/part ≤ thousands of rows even
  *    at SF 100k) are explicitly `broadcast()` — no shuffle of the fact side.
  *  - Fact-fact joins (orders⋈lineitem) use a merge-join hint: both sides
  *    shuffle-partition on the join key once, sort, and stream — the plan
  *    that survives a 1000-executor scale-up. AQE can still pick better.
  *  - Window functions partition on high-cardinality keys (custkey), so
  *    state per partition is bounded and skew-free.
  *  - All continuous outputs are rounded (2dp money, 6dp ratios) so
  *    double-summation order — which legitimately differs between partial
  *    aggregation plans — cannot flip the driver's hash compare.
  */
object RelationalOps {
  import graft.Tables._

  private def revenue: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Broadcast-hash join chain: fact lineitem ⋈ tiny supplier/nation/region
    * dims. Revenue per region. At any SF the dims stay broadcast-able, so
    * the only exchange is the final 5-group aggregate.
    */
  def qJoinBroadcast(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(broadcast(supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_items"), round(sum(revenue), 2).as("revenue"))
      .orderBy(col("r_name"))

  /** Shuffle (sort-merge) join of the two fact tables on the order key —
    * the join shape that dominates at 100 TB. The merge hint pins SMJ so
    * the plan co-partitions both sides on l_orderkey/o_orderkey.
    */
  def qJoinSortMerge(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir).hint("merge")
      .join(lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
           round(sum(col("l_quantity")), 2).as("sum_qty"),
           round(sum(revenue), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** Left-semi join: customers having at least one open ('O') order,
    * counted per market segment. Semi joins ship only the key column of the
    * probe side — no payload duplication at scale.
    */
  def qJoinSemi(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir).filter(col("o_orderstatus") === "O"),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("c_mktsegment"))

  /** Left-anti join: customers with no pending ('P') order. */
  def qJoinAnti(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir).filter(col("o_orderstatus") === "P"),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  /** Full-outer join: customers ⟗ orders, reporting per-segment order
    * counts plus the unmatched mass on BOTH sides (customers with no
    * orders surface as null-order rows; orders with no customer would
    * land in the NO_CUSTOMER segment). Completes the join matrix next to
    * inner/semi/anti/range/broadcast/SMJ.
    */
  def qJoinOuter(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir), col("c_custkey") === col("o_custkey"), "full_outer")
      .groupBy(coalesce(col("c_mktsegment"), lit("NO_CUSTOMER")).as("segment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           countDistinct(col("c_custkey")).as("n_customers"),
           sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
             .as("n_customers_no_orders"))
      .orderBy(col("segment"))

  /** Non-equi (range/theta) join: lineitem quantity banded against an
    * in-memory band dimension. Broadcast nested-loop with a range predicate
    * — the broadcast keeps it linear in the fact side at any scale.
    */
  def qJoinRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq((1, 0.0, 10.0), (2, 10.0, 20.0), (3, 20.0, 30.0),
                    (4, 30.0, 40.0), (5, 40.0, 50.0))
      .toDF("band_id", "lo", "hi")
    lineitem(spark, dir)
      .join(broadcast(bands), col("l_quantity") > col("lo") && col("l_quantity") <= col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_items"), round(sum(revenue), 2).as("revenue"))
      .orderBy(col("band_id"))
  }

  /** Top-k per group via ranking window: each customer's 3 most expensive
    * orders. row_number over (custkey, price desc, orderkey) — fully
    * deterministic tie-break.
    */
  def qTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
              round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Same top-3-per-customer result computed by the custom [[graft.plans.TopKPerKey]]
    * operator (marker function → optimizer rewrite → two-phase physical
    * plan with map-side bounded heaps). Oracle-equal to the window form —
    * but the exchange carries ≤ k rows per (key, partition) instead of
    * every row.
    */
  def qTopkCustom(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .filter(call_function("graft_topk",
        col("o_custkey"), col("o_totalprice"), col("o_orderkey"), lit(3)))
      .select(col("o_custkey"), col("o_orderkey"),
              round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_custkey"), col("price").desc, col("o_orderkey"))

  /** Running (cumulative) sum with an explicit frame spec — per-customer
    * order history. Sequential in-partition summation is order-identical to
    * the oracle, so values are bit-exact.
    */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(spark, dir)
      .withColumn("running_spend", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Analytic-function battery: lag/lead/rank/dense_rank/ntile/percent_rank
    * in one pass over the per-customer order history window.
    */
  def qWindowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wp = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(-1.0)), 2).as("prev_price"),
        round(coalesce(lead(col("o_totalprice"), 1).over(w), lit(-1.0)), 2).as("next_price"),
        rank().over(wp).as("price_rank"),
        dense_rank().over(wp).as("price_dense_rank"),
        ntile(4).over(wp).as("price_quartile"),
        round(percent_rank().over(wp), 6).as("price_pct_rank"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** ROLLUP over the region→nation hierarchy (subtotals + grand total).
    * Null grouping markers are coalesced to 'ALL' so the oracle compare is
    * null-free.
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("n_name"), lit("ALL")).as("nation"),
              col("n_customers"), col("sum_bal"))
      .orderBy(col("region"), col("nation"))

  /** CUBE over (status, priority) — all four grouping-set combinations. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("n_orders"), col("sum_price"))
      .orderBy(col("status"), col("priority"))

  /** DISTINCT projection (dedup of a composite key). */
  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  /** Set operations: UNION / INTERSECT / EXCEPT (distinct semantics) over
    * two customer-key sets, tagged by operation in one result.
    *
    * All three ops derive from ONE full-outer join of the two distinct key
    * sets via presence flags — one scan + one aggregate per input and a
    * single co-partitioned join, versus the naive three-branch form's six
    * scans and three wide set-op shuffles. Same result, one-third the
    * shuffle volume; this is the shape that survives a 100 TB input.
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    // <=> join: Spark's set operators use null-safe equality (a null key
    // on both sides intersects), so the join-based rewrite must too.
    val rich = customer(spark, dir).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("ka")).distinct()
      .withColumn("in_a", lit(true))
    val finished = orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("kb")).distinct()
      .withColumn("in_b", lit(true))
    rich.join(finished, col("ka") <=> col("kb"), "full_outer")
      .select(coalesce(col("ka"), col("kb")).as("key"), explode(array(
        lit("union"), // every key in the full outer join is in the union
        when(col("in_a").isNotNull && col("in_b").isNotNull, lit("intersect")),
        when(col("in_a").isNotNull && col("in_b").isNull, lit("except"))
      )).as("op"))
      .filter(col("op").isNotNull)
      .select(col("op"), col("key"))
      .orderBy(col("op"), col("key"))
  }

  /** Multiset (bag) set operations: EXCEPT ALL / INTERSECT ALL preserve
    * duplicate cardinality, unlike their distinct-semantics counterparts
    * in [[qSetOps]].
    */
  def qSetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    // Bag semantics close over per-key multiplicities: EXCEPT ALL keeps
    // max(na-nb, 0) copies, INTERSECT ALL min(na, nb) — so both ops fall
    // out of one counted aggregate per side + one co-partitioned join,
    // instead of two full exceptAll/intersectAll shuffle pipelines.
    val open = orders(spark, dir).filter(col("o_orderstatus") === "O")
      .groupBy(col("o_custkey").as("ka")).agg(count(lit(1)).as("na"))
    val highPri = orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey").as("kb")).agg(count(lit(1)).as("nb"))
    open.join(highPri, col("ka") <=> col("kb"), "full_outer") // null-safe: see qSetOps
      .select(coalesce(col("ka"), col("kb")).as("key"),
              coalesce(col("na"), lit(0L)).as("na"),
              coalesce(col("nb"), lit(0L)).as("nb"))
      .select(col("key"), explode(array(
        struct(lit("except_all").as("op"), greatest(col("na") - col("nb"), lit(0L)).as("n")),
        struct(lit("intersect_all").as("op"), least(col("na"), col("nb")).as("n"))
      )).as("e"))
      .select(col("e.op").as("op"), col("key"), col("e.n").as("n"))
      .filter(col("n") > 0)
      .orderBy(col("op"), col("key"))
  }

  /** Unpivot (melt): the three lineitem charge components as long-format
    * (measure, value) rows — the inverse of the A5 pivot.
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "value")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("measure"))

  /** Global sort + limit (top-k): 20 most expensive orders. Spark runs this
    * as TakeOrderedAndProject — no full global sort materialization.
    */
  def qSortLimit(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))

  /** Scalar string + math function battery over `part` (reference has only
    * string concat and parseInt/parseFloat — SURVEY.md §2.6).
    */
  def qScalarStringMath(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      substring(col("p_name"), 1, 5).as("name_prefix"),
      length(col("p_name")).as("name_len"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
      lpad(col("p_size").cast("string"), 3, "0").as("size_padded"),
      abs(col("p_size") - lit(25)).as("size_dist"),
      round(sqrt(col("p_retailprice")), 6).as("price_sqrt"),
      round(log(col("p_retailprice")), 6).as("price_ln"),
      pow(col("p_size"), 2).cast("long").as("size_sq"),
      when(col("p_size") % 2 === 0, "even").otherwise("odd").as("size_parity"))
      .orderBy(col("p_partkey"))

  /** Scalar date/time functions over order dates. */
  def qScalarDate(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"),
      quarter(col("o_orderdate")).as("q"),
      datediff(to_date(lit("2002-01-01")), to_date(col("o_orderdate"))).as("days_before_2002"),
      date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy(col("o_orderkey"))

  /** JSON extraction from `events.props` (schema-on-read over a string
    * column) + aggregation on the extracted field.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(flatJsonIntegral(col("props"), "k", IntegerType).as("k"), col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value")), 2).as("sum_value"),
           round(avg(col("value")), 2).as("avg_value"))
      .orderBy(col("k_bucket"))

  /** Array-function battery over tokenized document text: size, distinct,
    * slice, join, containment, sorted-first — the ArrayType surface the
    * extension layers (shingling, embeddings) build on.
    */
  def qArrayFuncs(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        concat_ws(" ", slice(col("toks"), 1, 3)).as("first3"),
        array_contains(col("toks"), "spark").as("has_spark"),
        element_at(array_sort(col("toks")), 1).as("min_token"))
      .orderBy(col("doc_id"))

  /** TPC-H Q1-style pricing summary: the canonical wide-aggregate scan
    * shape (predicate pushdown + 8 aggregates in one pass).
    */
  def qPricingSummary(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(revenue), 2).as("sum_disc_price"),
        round(sum(revenue * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 2).as("avg_disc"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** ANSI three-valued-logic conformance battery: a synthesized nullable
    * column (every third row NULL) pushed through the aggregate/predicate
    * surfaces where engines classically diverge — `count(*)` vs
    * `count(col)`, null-skipping sum/avg/min/max, `count(DISTINCT)`,
    * NULL in `IN`-lists, null-safe equality (`<=>` / IS NOT DISTINCT
    * FROM), and COALESCE fallback. One row out; every cell exact.
    */
  def qNullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
      .withColumn("nullable",
        when(col("o_orderkey") % 3 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")))
    o.agg(
      count(lit(1)).as("n_rows"),
      count(col("nullable")).as("n_nonnull"),
      round(sum(col("nullable")), 2).as("sum_skipna"),
      round(avg(col("nullable")), 2).as("avg_skipna"),
      round(min(col("nullable")), 2).as("min_skipna"),
      round(max(col("nullable")), 2).as("max_skipna"),
      countDistinct(col("o_orderstatus")).as("n_status"),
      // NULL = NULL is UNKNOWN → filtered; null-safe <=> keeps it.
      sum(when(col("nullable") === col("nullable"), 1L).otherwise(0L))
        .as("n_eq_self"),
      sum(when(col("nullable") <=> col("nullable"), 1L).otherwise(0L))
        .as("n_nullsafe_eq_self"),
      // x IN (...) over a NULL x is UNKNOWN, never TRUE.
      sum(when(col("nullable").isin(1.0, 2.0), 1L).otherwise(0L))
        .as("n_in_list"),
      sum(when(coalesce(col("nullable"), lit(-1.0)) === -1.0, 1L)
            .otherwise(0L)).as("n_coalesced"))
  }

  /** Statistical aggregate battery: stddev/variance/correlation/covariance
    * and exact interpolated median in one grouped pass.
    */
  def qStatsAgg(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(stddev_samp(col("l_quantity")), 6).as("qty_stddev"),
        round(var_samp(col("l_quantity")), 6).as("qty_var"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_covar"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("price_median"))
      .orderBy(col("l_returnflag"))

  /** Sketch aggregates as an oracle-checkable query: exact per-type
    * cardinality plus booleans asserting the HLL++ estimate and the
    * approx-percentile land within ±5% of their exact counterparts.
    * DuckDB cannot reproduce Spark's sketch values bit-for-bit, so the
    * oracle pins the EXACT values and `true` flags — the hash compare
    * fails if a sketch ever drifts out of tolerance. (At 100 TB only the
    * sketch side runs; the exact twin here exists to make accuracy a
    * driver-checked invariant rather than a unit-test-only claim.)
    */
  def qSketchAccuracy(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("apx"),
        expr("percentile(value, 0.5)").as("med_exact"),
        expr("approx_percentile(value, 0.5, 10000)").as("med_apx"))
      .select(
        col("event_type"), col("n_exact"),
        (abs(col("apx") - col("n_exact")) <= col("n_exact") * 0.05).as("hll_within_5pct"),
        round(col("med_exact"), 2).as("median"),
        // Relative-plus-absolute tolerance: a pure relative bound
        // degenerates to exact-equality when the exact median is ~0
        // (latent flake if the fixture or approx_percentile changes).
        (abs(col("med_apx") - col("med_exact")) <=
          greatest(abs(col("med_exact")) * 0.05, lit(0.01)))
          .as("pctl_within_5pct"))
      .orderBy(col("event_type"))

  /** GROUP BY + HAVING (post-aggregation filter). */
  def qGroupHaving(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("spend"))
      .filter(col("n_orders") >= 15)
      .orderBy(col("o_custkey"))

  /** Relational PIVOT: order spend cross-tabulated priority × status.
    * The pivot values are EXPLICIT (`Seq("F","O","P")`) — the two-pass
    * `.pivot(col)` overload first runs `SELECT DISTINCT` over the pivot
    * column, an extra full scan plus a driver collect that is wrong at
    * 100 TB; with literal values the whole pivot compiles to ONE
    * conditional aggregate over one scan (same single-exchange shape as
    * the flagship months pivot, `FlightOps.qFlightReport`). Money stays
    * exact-integer cents.
    */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .select(col("o_orderpriority"),
              col("o_orderstatus"),
              expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("cents")))
      .select(col("o_orderpriority"),
              col("F").as("f_cents"), col("O").as("o_cents"),
              col("P").as("p_cents"))
      .orderBy(col("o_orderpriority"))
}
