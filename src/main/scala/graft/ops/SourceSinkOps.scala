package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.FixtureStores
import graft.functions.JsonFunctions.flatJsonIntegral

/** Source/sink surface closing the reference's remaining I/O operators
  * (SURVEY.md §2.1): CSV scan+parse with explicit schema and quote/escape
  * options (S1/S2 — the opencsv defaults), and the `key TAB value` text
  * sink (S6 — TextOutputFormat). Both are round-trips: write to a temp
  * location, read back through the other format, aggregate — so the oracle
  * validates the entire encode/decode path, not just the write.
  *
  * Plus two scale techniques the reference cannot express:
  *  - Salted two-phase aggregation (hot-key skew: 5 event_types over 100k+
  *    rows would hash to 5 reducers; the salt spreads each key over 16).
  *  - GROUPING SETS as an explicit multi-granularity aggregate.
  */
object SourceSinkOps {
  import graft.Tables._

  private def tmp(dir: String, tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** S1/S2: events → CSV (explicit quote/escape, no header) → read back
    * with a declared schema (schema-on-read, the Spark analog of the
    * reference's positional constants) → checksum aggregate.
    */
  def qCsvIngest(spark: SparkSession, dir: String): DataFrame = {
    val target = tmp(dir, "csv")
    events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("props"))
      .write.mode("overwrite")
      .option("quote", "\"").option("escape", "\\").option("header", "false")
      .csv(target)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    spark.read.schema(schema)
      .option("quote", "\"").option("escape", "\\").option("header", "false")
      .csv(target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value")), 2).as("sum_value"),
           sum(flatJsonIntegral(col("props"), "k", LongType)).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** JSON-lines sink + schema-on-read ingest (the third interchange
    * format after CSV and text): events → .json() → read back with a
    * declared schema → the same checksum aggregate as the CSV path.
    * Spark's JSON writer emits shortest-round-trip doubles and escapes
    * the nested-JSON `props` string, so the read-back is value-exact and
    * the parquet-direct oracle applies unchanged. Schema-on-read skips
    * inference (a full extra pass at 100 TB).
    */
  def qJsonIngest(spark: SparkSession, dir: String): DataFrame = {
    val target = tmp(dir, "json")
    events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("props"))
      .write.mode("overwrite").json(target)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    spark.read.schema(schema).json(target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value")), 2).as("sum_value"),
           sum(flatJsonIntegral(col("props"), "k", LongType)).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** Malformed-record handling — the ingestion-robustness contract a real
    * crawl/log pipeline needs: PERMISSIVE parse with the corrupt raw line
    * captured in a side column, so bad rows are COUNTED AND KEPT for
    * forensics instead of killing the job (FAILFAST) or vanishing
    * silently (DROPMALFORMED). The malformed lines are constructed
    * deterministically (every event_id ≡ 3 mod 50 gets a non-numeric
    * value field), so the oracle knows exactly which rows must land on
    * each side — including that the bad rows' ids remain recoverable
    * from the captured raw text.
    */
  def qCsvMalformed(spark: SparkSession, dir: String): DataFrame = {
    val target = tmp(dir, "badcsv")
    // The value field travels as exact integer centi-units (no float
    // formatting anywhere in the round-trip).
    events(spark, dir)
      .select(concat_ws(",",
        col("event_id"), col("user_id"), col("event_type"),
        when(col("event_id") % 50 === 3, lit("notanumber"))
          .otherwise(expr("cast(round(value * 100) as bigint)").cast("string")))
        .as("value"))
      .write.mode("overwrite").text(target)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value_centi", LongType),
      StructField("_corrupt", StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(target)
    // NOTE: the aggregate must REFERENCE value_centi — Spark's CSV column
    // pruning otherwise skips parsing it, the failing conversion never
    // runs, and no record is ever marked corrupt. The good-rows checksum
    // keeps the column load-bearing (and is the natural output anyway).
    parsed.agg(
        sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_corrupt").isNull, col("event_id"))).as("good_id_sum"),
        sum(when(col("_corrupt").isNull, col("value_centi"))).as("good_value_centi"),
        // corrupt rows keep their raw line: the key is still recoverable
        sum(when(col("_corrupt").isNotNull,
          split(col("_corrupt"), ",").getItem(0).cast("long"))).as("corrupt_id_sum"))
  }

  /** Schema evolution — heterogeneous parquet under one path: an old
    * writer (3 columns) and a new writer (adds `score`) share a dataset;
    * `mergeSchema` reconciles them and the legacy half surfaces NULL for
    * the new column. The everyday lakehouse migration nobody gets to
    * skip: columns are added without rewriting history.
    */
  def qSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val target = tmp(dir, "evolve")
    val ev = events(spark, dir)
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$target/v1")
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("event_type"), col("value"),
              (col("value") * 2).as("score"))
      .write.mode("overwrite").parquet(s"$target/v2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$target/v1", s"$target/v2")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("score").isNull.cast("long")).as("n_legacy"),
           sum(expr("cast(round(value * 100) as bigint)")).as("value_centi"),
           sum(expr("cast(round(coalesce(score, 0.0) * 100) as bigint)")).as("score_centi"))
      .orderBy(col("event_type"))
  }

  /** ORC round-trip — the second columnar interchange format (built into
    * Spark; the other engine a lakehouse team actually meets). Same
    * write → schema-on-read → checksum shape as the CSV/JSON ingests,
    * with exact-integer checksums so the twin is hash-stable under any
    * partition order.
    */
  def qOrcIngest(spark: SparkSession, dir: String): DataFrame = {
    val target = tmp(dir, "orc")
    events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("props"))
      .write.mode("overwrite").orc(target)
    spark.read.orc(target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("event_id")).as("id_sum"),
           sum(expr("cast(round(value * 100) as bigint)")).as("value_centi"),
           sum(flatJsonIntegral(col("props"), "k", LongType)).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** S6: the flagship report as `AIR-<carrier> TAB <months>` text lines →
    * TextOutputFormat-style sink → read back → line statistics.
    */
  def qTextReport(spark: SparkSession, dir: String): DataFrame = {
    val target = tmp(dir, "text")
    FlightOps.qFlightReport(spark, dir)
      .select(col("report"))
      .write.mode("overwrite").text(target)
    spark.read.text(target)
      .agg(count(lit(1)).as("n_lines"),
           sum(length(col("value"))).as("total_chars"),
           min(substring(col("value"), 1, 10)).as("first_prefix"))
  }

  /** The number of columns in the reference's wide positional BTS file
    * (~110 on-time-performance columns, addressed only by ordinal).
    */
  val WideCsvCols = 110

  /** S1/S2 full fidelity: read a headerless ~110-column positional CSV by
    * ordinal — the reference's ingest shape, where the schema is six
    * ordinal constants into an unnamed record
    * (`HCompute/src/main/java/org/northeastern/Main.java:76-81`) and the
    * cancelled/diverted flags are float-strings parsed
    * `(int) Float.parseFloat(...) != 1` (`:118-120`). All columns read as
    * strings (positional schema-on-read); only the six used ordinals are
    * projected, so Catalyst prunes the other ~104 at the scan.
    */
  def widePositionalFlights(spark: SparkSession, path: String,
                            nCols: Int = WideCsvCols): DataFrame = {
    val schema = StructType((0 until nCols).map(i => StructField(s"_c$i", StringType)))
    spark.read.schema(schema).option("header", "false")
      .option("quote", "\"").option("escape", "\\")
      .csv(path)
      .select(
        col("_c0").cast("int").as("year"),
        col("_c2").cast("int").as("month"),
        col("_c6").as("carrier"),
        col("_c37").cast("double").as("delay"),
        col("_c41").cast("float").cast("int").as("cancelled"),
        col("_c43").cast("float").cast("int").as("diverted"))
  }

  /** Round-trip driver for [[widePositionalFlights]]: materialize the
    * events fixture AS the wide positional file (year/month/carrier/delay
    * at ordinals 0/2/6/37, the k%7 / k%11 flag analogs rendered as the
    * BTS-style float-strings "1.00"/"0.00" at 41/43, filler elsewhere),
    * read it back by ordinal, apply the reference's filter semantics, and
    * emit the flagship report — which must equal the parquet-path
    * q_flight_report bit-for-bit.
    */
  def qWideCsvReport(spark: SparkSession, dir: String): DataFrame = {
    val target = tmp(dir, "widecsv")
    val base = events(spark, dir).select(
      year(col("ts")).as("y"), month(col("ts")).as("m"),
      col("event_type").as("carrier"), col("value").as("delay"),
      flatJsonIntegral(col("props"), "k", IntegerType).as("k"))
    def flag(pred: org.apache.spark.sql.Column) =
      when(col("k").isNull, lit(null)).when(pred, lit("1.00")).otherwise(lit("0.00"))
    val wideCols = (0 until WideCsvCols).map {
      case 0  => col("y").cast("string").as("c0")
      case 2  => col("m").cast("string").as("c2")
      case 6  => col("carrier").as("c6")
      case 37 => col("delay").cast("string").as("c37")
      case 41 => flag(col("k") % 7 === 0).as("c41")
      case 43 => flag(col("k") % 11 === 0).as("c43")
      case i  => lit(s"x$i").as(s"c$i") // filler for the unused BTS columns
    }
    base.select(wideCols: _*)
      .write.mode("overwrite")
      .option("quote", "\"").option("escape", "\\").option("header", "false")
      .csv(target)
    FlightOps.reportOf(
      widePositionalFlights(spark, target)
        .filter(col("year") === FlightOps.TargetYear &&
                col("cancelled") =!= 1 && col("diverted") =!= 1)
        .select(col("carrier"), col("month"), col("delay")))
  }

  /** Keyed point-lookup — the HBase get-by-row-key analog
    * (`HPopulate/src/main/java/org/northeastern/Main.java:97-100`),
    * served from the [[KeyedStore]] catalog table: populate once, then a
    * batch-get resolves its key-range regions driver-side (binary search
    * over the region sidecar), statically prunes to those partitions and
    * pushes the key IN-list into key-sorted row groups — O(1) row groups
    * per key regardless of table size (KeyedStoreSpec pins the
    * PartitionFilters + PushedFilters plan shape). The region target is
    * fixture-sized so pruning is real (a handful of regions at sf0.01);
    * at scale set ~1M rows per region.
    */
  def qKeyedLookup(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_keyed_events_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    // Read-only serving row: the store resolves content-addressed
    // (create only on miss/stale — the suffix/ANN warm-serve
    // discipline; q_populate stays the cold create anchor).
    FixtureStores.keyed(spark, name,
      events(spark, dir)
        .withColumn("row_key", md5(col("event_id").cast("string")))
        .select(col("row_key"), col("event_id"), col("event_type"), col("value")),
      "row_key", targetRowsPerRegion = 2048)
    KeyedStore.get(spark, name, "row_key",
      Seq(10L, 20L, 30L, 40L, 50L).map(id => TextFns.md5Hex(id.toString)))
      .orderBy(col("event_id"))
  }

  /** Keyed range SCAN — the HBase `Scan(startRow, stopRow)` capability
    * the reference forfeits by choosing UUID row keys (SURVEY.md §1.4:
    * random keys destroy range locality; `Main.java:54-73` pre-splits
    * regions it then can't range-read). The [[KeyedStore]]'s key-range
    * regions restore it: the scan prunes to exactly the regions
    * intersecting [from, to] (PartitionFilters) and pushes the range
    * predicate into the key-sorted files (PushedFilters) — O(selected
    * range) IO, never O(table). KeyedStoreSpec pins the pruned-plan
    * shape; this row pins the values.
    */
  def qKeyedRange(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_keyed_range_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    FixtureStores.keyed(spark, name, // read-only row (qKeyedLookup's note)
      orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      "o_orderkey", targetRowsPerRegion = 2048)
    KeyedStore.scan(spark, name, "o_orderkey", 5000L, 6000L)
      .select(col("o_orderkey"), col("o_orderstatus"),
              round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** Secondary index over the keyed store — the HBase-ecosystem answer
    * to "query by a non-key column" (Phoenix global secondary indexes;
    * the reference's own Secondary job re-sorts by a value field the
    * row key can't serve). The index is just ANOTHER keyed table whose
    * composite key is `<indexed-value>#<primary-key %012d>`, so an
    * equality query on the indexed column is a PREFIX RANGE SCAN that
    * prunes to the regions holding that value's run, followed by a
    * primary [[KeyedStore.getBatch]] for the full rows — O(matching
    * rows) IO on both legs at any table size, never a table scan.
    * Updates are the Phoenix dual write: primary upsert + index
    * delete(old key)/insert(new key) — demonstrated here by flipping
    * the lowest non-purchase event to 'purchase' and serving through
    * the maintained index (the oracle applies the same flip
    * relationally). The moved id and its old type are two single-row
    * control-plane collects.
    *
    * Consistency note: the dual write is two independent store commits
    * (primary, then index) — between them a reader can see the new
    * primary row under the old index key, exactly the eventual-
    * consistency window Phoenix GLOBAL indexes have (its transactional
    * mode buys atomicity with a cross-table write-ahead protocol this
    * engine deliberately doesn't carry). Writers must apply the two
    * legs in this order so a failed index write leaves a FINDABLE row,
    * never a dangling index entry.
    */
  def qKeyedSecondaryIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dirSafe = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val p = "graft_keyed_secp_" + dirSafe
    val i = "graft_keyed_seci_" + dirSafe
    val ev = events(spark, dir).select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"))
    // MUTATING row (the dual write rewrites both stores): primary and
    // index resolve from content-addressed caches, cloned per run
    // (qKeyedTtl's note) — the dual write + indexed serve stay fully
    // priced, the victim construction doesn't repeat.
    FixtureStores.keyedClone(spark, p, ev, "event_id",
      targetRowsPerRegion = 2048)
    FixtureStores.keyedClone(spark, i,
      ev.select(format_string("%s#%012d", col("event_type"), col("event_id"))
          .as("ikey"),
        col("event_id").as("ref_id")),
      "ikey", targetRowsPerRegion = 2048)
    val mv = ev.filter(col("event_type") =!= "purchase")
      .agg(min(col("event_id"))).collect().head.getLong(0)
    val oldType = ev.filter(col("event_id") === mv)
      .select(col("event_type")).collect().head.getString(0)
    // Dual write: primary U, then ONE index commit carrying the
    // delete(old) + insert(new) PAIR — both keys ride a single change
    // set, so the index maintenance is one region copy-on-write pass.
    // (Two separate commits doubled the fixed commit machinery and
    // left a wider window in which NEITHER index key existed; the
    // paired commit exposes old-or-new, never neither.) The returned
    // full-table reads are discarded (read-isolation contract).
    KeyedStore.upsert(spark, p, "event_id",
      ev.filter(col("event_id") === mv)
        .select(col("event_id"), lit("U").as("op"),
                lit("purchase").as("event_type"), col("value_c")))
    KeyedStore.mergeInto(spark, i, "ikey",
      Seq((f"$oldType%s#$mv%012d", mv, "D"),
          (f"purchase#$mv%012d", mv, "I")).toDF("ikey", "ref_id", "op"),
      (base, b) => base
        .join(b.filter(col("op") === "D").select(col("ikey")),
          Seq("ikey"), "left_anti")
        .unionByName(b.filter(col("op") === "I")
          .select(col("ikey"), col("ref_id"))))
    // Serve: index prefix range scan -> ids -> primary batch get.
    val ids = KeyedStore.scan(spark, i, "ikey", "purchase#", "purchase#z")
      .select(col("ref_id").as("event_id"))
    KeyedStore.getBatch(spark, p, "event_id", ids)
      .select(col("event_id"), col("event_type"), col("value_c"))
      .orderBy(col("event_id"))
  }

  /** TTL retention sweep — [[KeyedStore.expire]] driven end-to-end: an
    * event store keyed by event_id expires everything older than the
    * corpus midpoint timestamp ((min+max) div 2 — deterministic at any
    * SF), then reports the surviving per-type profile plus the expired
    * count. The post-sweep `min_ts_us` per type proves no old row
    * survived; `n_expired` + Σ n_rows conserve the corpus. The sweep
    * rewrites only regions holding expired rows (KeyedStoreSpec pins
    * byte-identical young regions on a time-correlated key).
    */
  def qKeyedTtl(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_keyed_ttl_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val ev = events(spark, dir).select(col("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"))
    // MUTATING row (the sweep deletes): the victim store is a fresh
    // clone of a cached build every run, so the expire runs against a
    // full store each time at snapshot-restore cost.
    FixtureStores.keyedClone(spark, name, ev, "event_id",
      targetRowsPerRegion = 2048)
    val mm = ev.agg(min(col("ts_us")), max(col("ts_us"))).collect().head
    val cutoff = (mm.getLong(0) + mm.getLong(1)) / 2
    val nExpired = KeyedStore.expire(spark, name, "event_id", "ts_us", cutoff)
    KeyedStore.scan(spark, name, "event_id", Long.MinValue, Long.MaxValue)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), min(col("ts_us")).as("min_ts_us"),
           sum(col("value_c")).as("sum_value_c"))
      .withColumn("n_expired", lit(nExpired))
      .orderBy(col("event_type"))
  }

  /** Keyed point-GET with ABSENT keys — the row-bloom fast path (the
    * HBase HFile ROW-bloom capability over the same regions
    * `Main.java:54-73` pre-splits): the store's per-region bloom sidecar
    * rejects regions that definitely don't hold a probed key, so a
    * miss-heavy GET touches zero-to-few partitions instead of every
    * range-candidate region. Values are bloom-invariant (a false positive
    * only costs IO) — exactly what this row pins: present keys return
    * their rows, absent keys return nothing. KeyedStoreSpec pins the
    * zero-partition plan for all-absent probes.
    */
  def qKeyedBloom(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_keyed_bloom_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    FixtureStores.keyed(spark, name, // read-only row (qKeyedLookup's note)
      orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      "o_orderkey", targetRowsPerRegion = 2048)
    // Orderkeys are a dense 1..n prefix at every fixture SF, so the
    // +10M probes are absent everywhere.
    val probes = Seq(100L, 2000L, 5000L, 10000100L, 10002000L, 10005000L)
    KeyedStore.get(spark, name, "o_orderkey", probes)
      .select(col("o_orderkey"), col("o_orderstatus"),
              round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** The keyed store driven through RAW SQL TEXT — the HBase-connector
    * seam ([[graft.plans.KeyedRegionPrune]]): no GET/scan API call, just
    * `spark.sql` over the catalog table. The optimizer rule recognizes
    * the key range + IN predicates, consults the region directory (and,
    * for the IN probes, the per-region row blooms) and injects the
    * `kr IN (…)` prune — PartitionFilters + PushedFilters identical to
    * the API path, from SQL a BI tool could emit (KeyedStoreSpec pins
    * the pruned plan shape). One probe key is absent (+10M), pinning
    * that bloom rejection is value-neutral.
    */
  def qSqlKeyedPushdown(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_keyed_sql_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    // 1024-row regions keep the store multi-region even at sf0.001, so
    // the injected kr prune is visible in PLANS.md at every fixture SF
    // (with a single region the rule correctly declines to inject).
    FixtureStores.keyed(spark, name, // read-only row (qKeyedLookup's note)
      orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      "o_orderkey", targetRowsPerRegion = 1024)
    spark.sql(
      s"""SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
         |FROM $name
         |WHERE (o_orderkey BETWEEN 2000 AND 2200)
         |   OR o_orderkey IN (42, 10000042)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** The multiGet shape from RAW SQL TEXT — `store JOIN probe USING
    * (key)` with the probe keys as DATA, the one keyed-read form neither
    * the literal-predicate rule path ([[qSqlKeyedPushdown]]) nor the
    * [[KeyedStore.getBatch]] API path covers without an API call.
    * [[graft.plans.KeyedRegionPrune]]'s join rewrite equates the store's
    * partition column with the probe key's holding region (codegen'd
    * boundary search + one closure literal), which hands the prune to
    * Spark's own dynamic partition pruning: the store scan's
    * PartitionFilters gain a `dynamicpruningexpression(kr IN …)` reusing
    * the join's broadcast — region pruning from SQL a BI tool could
    * emit, with zero API calls (KeyedStoreSpec pins the plan shape and
    * the straddle-safety of the closure).
    *
    * The probe is selective on a key RANGE (low orderkeys) so the prune
    * has something to cut: at any SF most regions hold no probe key.
    */
  def qSqlKeyedJoin(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_keyed_join_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    FixtureStores.keyed(spark, name, // read-only row (qKeyedLookup's note)
      orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      "o_orderkey", targetRowsPerRegion = 1024)
    lineitem(spark, dir).createOrReplaceTempView("graft_join_probe_src")
    spark.sql(
      s"""SELECT s.o_orderkey, s.o_orderstatus,
         |       round(s.o_totalprice, 2) AS price
         |FROM $name s
         |JOIN (SELECT DISTINCT l_orderkey AS o_orderkey
         |      FROM graft_join_probe_src
         |      WHERE l_orderkey % 5 = 0 AND l_orderkey <= 1500) p
         |  USING (o_orderkey)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** HBase multiGet analog — [[KeyedStore.getBatch]]: the probe keys are
    * a DATA-derived DataFrame (every 97th order key, plus two absent
    * +10M probes), never an IN-list of literals — past point-lookup size
    * a literal list is a driver-side plan bomb (each literal is an
    * analyzed, codegen'd expression node). Region assignment per key is
    * the codegen'd binary search; the scan statically prunes to the
    * holding regions; the key set joins back as a broadcast-eligible
    * semi join. KeyedStoreSpec pins the plan shape (PartitionFilters,
    * no In(k, …)).
    */
  def qKeyedMultiget(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_keyed_mget_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    FixtureStores.keyed(spark, name, // read-only row (qKeyedLookup's note)
      orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      "o_orderkey", targetRowsPerRegion = 2048)
    val keys = orders(spark, dir)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"))
      .unionByName(spark.range(2).select(
        (col("id") + 10000001L).as("o_orderkey")))
    KeyedStore.getBatch(spark, name, "o_orderkey", keys)
      .select(col("o_orderkey"), col("o_orderstatus"),
              round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** TIMESTAMP AS OF over the versioned store ([[VersionedStore
    * .asOfTimestamp]]): an instant captured between init and the commit
    * resolves to v1, "now" resolves to v2 — the wall-clock addressing a
    * reader uses when it knows WHEN, not WHICH version (the lakehouse
    * formats' other time-travel axis). Values are version-deterministic,
    * so the oracle recomputes both snapshots from the base relation.
    */
  def qTimeTravelTs(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ts").toString
    val base = orders(spark, dir)
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
    VersionedStore.init(spark, tmp, base, "o_orderkey",
      targetRowsPerFile = 2048)
    val betweenTs = System.currentTimeMillis()
    Thread.sleep(10) // commit-time resolution is milliseconds
    VersionedStore.commit(spark, tmp,
      base.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("U").as("op"),
                (col("cents") + 111L).as("cents")),
      "o_orderkey")
    def summary(label: Int, snap: DataFrame) = snap
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("tot_c"))
      .select(lit(label).as("version"), col("n_rows"), col("tot_c"))
    try summary(1, VersionedStore.asOfTimestamp(spark, tmp, betweenTs))
      .unionByName(summary(2,
        VersionedStore.asOfTimestamp(spark, tmp, System.currentTimeMillis())))
      .orderBy(col("version"))
      .localCheckpoint()
    finally graft.streaming.EventStream.deleteRecursively(
      java.nio.file.Paths.get(tmp))
  }

  /** Managed-table surface: the catalog path (`saveAsTable` →
    * `spark.table`) instead of direct parquet paths — the API a
    * warehouse-style deployment uses. The round trip is lossless, so the
    * oracle aggregates the base table directly.
    */
  def qManagedTable(spark: SparkSession, dir: String): DataFrame = {
    val tbl = "graft_orders_summary_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    // Idempotent across JVMs, not just within one: a previous session's
    // managed-table LOCATION survives in the warehouse directory while
    // the fresh metastore has no catalog entry, and CTAS then fails with
    // LOCATION_ALREADY_EXISTS (caught by the bench's err field). Drop
    // any catalog entry, then clear the stale location.
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      tbl.toLowerCase)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           sum(round(col("o_totalprice") * 100).cast("long")).as("price_c"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    spark.table(tbl)
      .select(col("o_orderpriority"), col("n_orders"), col("price_c"))
      .orderBy(col("o_orderpriority"))
  }

  /** Observation-API metrics — Spark's zero-extra-pass observability:
    * `df.observe` attaches named aggregate metrics that accumulate
    * DURING the real pass (a CollectMetrics node, not a second scan) —
    * how a production pipeline records row counts / quality tallies
    * without re-reading 100 TB. The metrics row is returned as the
    * result (exact integers), so the driver oracle checks that the
    * in-flight accumulation equals the batch aggregate.
    */
  def qObserveMetrics(spark: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation()
    val ev = events(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(expr("cast(round(value * 100) as bigint)")).as("value_centi"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"))
    ev.write.mode("overwrite").format("noop").save() // the "real" pass
    val m = obs.get
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
         m("value_centi").asInstanceOf[Long],
         m("n_clicks").asInstanceOf[Long]))
      .toDF("n_rows", "value_centi", "n_clicks")
  }

  /** Catalog statistics + CBO surface: ANALYZE TABLE COMPUTE STATISTICS
    * feeds the cost-based optimizer the row counts it needs for join
    * planning at scale (broadcast decisions, join reorder). The row
    * reports the cataloged rowCount (exact, oracle-checkable) plus a
    * flag that size stats exist; SourceSinkOps callers get stats-driven
    * plans from then on.
    */
  def qCboStats(spark: SparkSession, dir: String): DataFrame = {
    val tbl = "graft_orders_stats_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      tbl.toLowerCase)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority"))
      .write.format("parquet").saveAsTable(tbl)
    spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
    // Catalog stats directly: plan-level `stats.rowCount` only surfaces
    // the cataloged count under spark.sql.cbo.enabled; the ANALYZE
    // artifact itself lives in the table metadata.
    val st = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .stats.get
    import spark.implicits._
    Seq((st.rowCount.map(_.toLong).getOrElse(-1L), st.sizeInBytes > 0))
      .toDF("row_count", "has_size_stats")
  }

  /** Pure-SQL surface parity: the same engine driven through
    * `spark.sql(...)` text over registered temp views instead of the
    * DataFrame API — both front-ends produce identical Catalyst plans,
    * so a SQL-first user gets the same operators, pushdowns, and exact
    * integer arithmetic. The statement exercises joins, lateral-style
    * array functions, grouping, and micro-unit aggregation in one text.
    */
  def qSqlSurface(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir).createOrReplaceTempView("documents_v")
    spark.sql(
      """SELECT d.lang,
        |       count(*) AS n_docs,
        |       CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
        |       sum(CAST(round(CAST(size(array_distinct(split(d.text, ' '))) AS BIGINT) * 1000000
        |                     / CAST(size(split(d.text, ' ')) AS DOUBLE)) AS BIGINT)) AS ttr_micro
        |FROM documents_v d
        |GROUP BY d.lang
        |ORDER BY d.lang""".stripMargin)
  }

  /** Federated multi-format join — the "data lake in three formats"
    * shape: the orders keys round-trip through headerless CSV, the
    * customer dimension through JSON-lines, and both join the parquet
    * lineitem fact in ONE plan. Only integer keys and plain strings
    * cross the text formats (lossless by construction), so the
    * parquet-direct oracle applies unchanged; revenue is the exact-cents
    * integer of [[AnalyticsOps.revenueUnits]]. The JSON dim broadcasts;
    * the CSV keys merge-join the fact on the order key.
    */
  def qFederatedJoin(spark: SparkSession, dir: String): DataFrame = {
    val csvT = tmp(dir, "fedcsv")
    val jsonT = tmp(dir, "fedjson")
    orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .write.mode("overwrite").option("header", "false").csv(csvT)
    customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
      .write.mode("overwrite").json(jsonT)
    val ordersCsv = spark.read.schema(StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType))))
      .option("header", "false").csv(csvT)
    val custJson = spark.read.schema(StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_mktsegment", StringType))))
      .json(jsonT)
    lineitem(spark, dir)
      .hint("merge")
      .join(ordersCsv, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custJson), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_items"), sum(AnalyticsOps.revenueUnits).as("rev_u"))
      .orderBy(col("c_mktsegment"))
  }

  /** Skew-resistant aggregation: salt the (low-cardinality, hot) group key
    * across 16 sub-keys, partially aggregate, then combine. Result is
    * bit-identical to the direct aggregate — the oracle is the PLAIN
    * GROUP BY, proving the rewrite is semantics-preserving.
    */
  def qSkewSaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val salted = events(spark, dir)
      .withColumn("salt", (col("event_id") % 16).cast("int"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
    salted
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), round(sum(col("s")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Skew-salted JOIN (the join-side twin of [[qSkewSaltedAgg]]): when
    * both sides are large and the key distribution has heavy hitters, a
    * plain shuffle join lands each hot key on ONE reducer. Salting
    * spreads it: the fact side derives salt = event_id % S (uniform,
    * content-stable), the build side is replicated ×S via explode, and
    * the join key becomes (key, salt) — each hot key now occupies S
    * reducers at the cost of an S× blowup of the (much smaller) build
    * side. The merge hint forces the shuffle join so the salted path is
    * what actually executes, even at fixture scale where broadcast would
    * win. AQE's skew-join split handles moderate skew automatically;
    * explicit salting is the deterministic fallback for extreme keys.
    */
  def qSkewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val dim = ev.groupBy(col("user_id")).agg(count(lit(1)).as("user_n"))
    val dimSalted = dim.withColumn("salt", explode(lit((0 until S).toArray)))
    val factSalted = ev.withColumn("salt", (col("event_id") % S).cast("int"))
    factSalted.hint("merge").join(dimSalted, Seq("user_id", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("user_n")).as("sum_user_n"))
      .orderBy(col("event_type"))
  }

  /** AQE skew join — the optimizer-native twin of [[qSkewSaltedJoin]]:
    * instead of hand-salting the hot key, let
    * `spark.sql.adaptive.skewJoin` detect the oversized shuffle partition
    * at runtime and split it, replicating the matching build rows. The
    * fact side manufactures a deterministic heavy hitter (87.5% of rows
    * on skew_key 0); the dim side is the per-key count of the SAME
    * derived key, so every fact row matches exactly one dim row and the
    * result is the plain join's. Lazy library form — the driver wrapper
    * [[qSkewAqeJoin]] supplies the runtime confs; PlanShapeSpec executes
    * this under low skew thresholds and asserts the final adaptive plan
    * contains a skew-split AQEShuffleRead.
    */
  def skewAqeJoin(spark: SparkSession, dir: String): DataFrame = {
    // AQE splits a skewed REDUCE partition by regrouping its MAP output
    // blocks, so the skewed side must arrive from >1 map task — true for
    // any real fact table (thousands of scan tasks at 100 TB), false for
    // the single-row-group fixture file. The round-robin repartition
    // recreates the multi-mapper input; with one mapper the hot key is
    // one indivisible block and the rule can never fire.
    val fact = events(spark, dir).repartition(8)
      .select(col("event_type"), col("value"),
        when(pmod(col("user_id"), lit(8L)) =!= 0, lit(0L))
          .otherwise(pmod(col("user_id"), lit(1000L))).as("skew_key"))
    // The dim is materialized by an "upstream job" (parquet round trip),
    // as dimension tables are in practice. This also matters to the rule
    // itself: OptimizeSkewedJoin only matches SMJ(Sort(shuffle stage),
    // Sort(shuffle stage)) — an aggregate fused into the stage under the
    // join's Sort defeats the match, a plain scan re-shuffled on the
    // join key is the shape the rule splits.
    val dimDir = tmp(dir, "skewdim")
    fact.groupBy(col("skew_key")).agg(count(lit(1)).as("key_n"))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    fact.join(dim, Seq("skew_key"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("key_n")).as("sum_key_n"),
           sum(expr("cast(round(value * 100) as bigint)")).as("value_centi"))
      .orderBy(col("event_type"))
  }

  /** Driver row for [[skewAqeJoin]]. AQE reads session confs at
    * EXECUTION time, so the skew thresholds must hold while the job
    * actually runs: the join runs on a scoped session
    * ([[graft.GraftSession.scoped]]) carrying them, and
    * `localCheckpoint(eager)` materializes it there. The caller's
    * session is never written.
    * Broadcast is disabled so the shuffle join the skew rule targets is
    * what executes; 64 KB thresholds make the fixture's hot partition
    * (~650 KB at sf0.01) split ~10 ways, the same decision a real
    * cluster makes at 256 MB defaults with a multi-GB hot key.
    */
  def qSkewAqeJoin(spark: SparkSession, dir: String): DataFrame =
    graft.GraftSession.scoped(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536") { s =>
      skewAqeJoin(s, dir).localCheckpoint(true)
    }

  /** Runtime Bloom-filter join pruning — the row-level sibling of DPP:
    * when a shuffle join's build side is selectively filtered, Catalyst
    * injects a bloom_filter aggregate over the build keys and a
    * might_contain predicate onto the probe side's SCAN, so most
    * non-matching fact rows die before the exchange instead of after
    * it. At 100 TB this is the difference between shuffling the whole
    * fact table and shuffling the ~selectivity fraction that can join.
    * Lazy library form; PlanShapeSpec asserts the injected
    * might_contain, and [[qBloomPruneJoin]] supplies the runtime confs.
    */
  def bloomPruneJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select(col("l_orderkey"), col("l_extendedprice"))
    val sel = orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
           sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("price_centi"))
      .orderBy(col("o_orderpriority"))
  }

  /** Driver row for [[bloomPruneJoin]]: broadcast disabled so the
    * shuffle join the bloom rule targets is what executes, application-
    * side threshold lowered to fixture scale (the default wants a 10 GB
    * probe scan). Same execution-time-conf pattern as [[qSkewAqeJoin]]:
    * materialize on a scoped session carrying the overrides.
    */
  def qBloomPruneJoin(spark: SparkSession, dir: String): DataFrame =
    graft.GraftSession.scoped(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1024") { s =>
      bloomPruneJoin(s, dir).localCheckpoint(true)
    }

  /** Z-order (Morton) layout key — bucket two dimensions to 10 bits each
    * and interleave via the native [[graft.functions.MortonInterleave]]
    * expression. Sorting a write by `z` gives narrow min-max ranges in
    * BOTH dimensions per row group, so predicates on either column prune
    * (LayoutSpec proves the locality win over single-column sorting).
    * This query exposes the code itself for oracle verification; the
    * layout use is `df.repartitionByRange(col("z")).sortWithinPartitions
    * (col("z")).write.parquet(...)`.
    */
  def qZorderKey(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_id") < 200)
      .select(col("event_id"),
        pmod(col("user_id"), lit(1024L)).as("u"),
        pmod(expr("cast(floor(value) as bigint)"), lit(1024L)).as("w"))
      .withColumn("z", graft.functions.LayoutFunctions.mortonInterleave(col("u"), col("w")))
      .orderBy(col("event_id"))

  /** Hive-style partitioned write + partition-pruned read: the layout that
    * makes per-key scans touch only their directory at scale. Returns the
    * per-partition counts read back through a pruning filter.
    */
  def partitionedRoundTrip(spark: SparkSession, dir: String,
                           keep: Seq[String]): DataFrame = {
    val target = tmp(dir, "part")
    events(spark, dir)
      .write.mode("overwrite").partitionBy("event_type").parquet(target)
    spark.read.parquet(target)
      .filter(col("event_type").isin(keep: _*)) // prunes to keep.size dirs
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Driver-checked partition pruning: the HBase-region-scan analog — a
    * keyed read touches only its directories (PlanShapeSpec asserts the
    * scan's PartitionFilters are non-empty).
    */
  def qPartitionPrune(spark: SparkSession, dir: String): DataFrame =
    partitionedRoundTrip(spark, dir, Seq("click", "purchase"))

  /** Small-files compaction: rewrite a directory into ~targetFiles files
    * (sorted within partitions for locality). The maintenance op every
    * long-running ingest pipeline needs.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetFiles: Int, sortCol: String): Unit =
    spark.read.parquet(inDir)
      .repartition(targetFiles)
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(outDir)

  private def parquetFileCount(path: String): Int = {
    val fs = new java.io.File(path).listFiles()
    if (fs == null) 0 else fs.count(_.getName.endsWith(".parquet"))
  }

  /** Compaction as a driver-checked invariant: fragment the events table
    * into 64 small files (round-robin, so every partition is non-empty
    * at any fixture SF), [[compact]] to 4, and report file counts plus
    * content checksums of the compacted copy. The oracle pins the exact
    * file counts (64 → 4: repartition produces exactly its partition
    * count for non-empty data) and the checksums straight from the
    * fixture — equality proves compaction is lossless. Checksums are
    * exact integers (micro-unit value sum), so no float-order noise.
    */
  def qCompact(spark: SparkSession, dir: String): DataFrame = {
    val smallDir = tmp(dir, "small")
    val outDir = tmp(dir, "compacted")
    // The row pins the COMPACTION (64 fragments → 4 right-sized files,
    // values intact), so the fixture only needs enough rows to fragment:
    // a deterministic 1-in-10 slice keeps the fragment layout while
    // cutting the fixture shuffle+write (which the driver bench times
    // along with the rewrite) ~10×. The oracle applies the same slice.
    events(spark, dir)
      .filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("user_id"), col("value"))
      .repartition(64)
      .write.mode("overwrite").parquet(smallDir)
    compact(spark, smallDir, outDir, targetFiles = 4, sortCol = "event_id")
    spark.read.parquet(outDir)
      .agg(count(lit(1)).as("n_rows"),
           sum(col("event_id")).as("id_sum"),
           sum(expr("cast(round(value * 100) as bigint)")).as("value_centi"))
      .select(lit(parquetFileCount(smallDir)).as("n_files_before"),
              lit(parquetFileCount(outDir)).as("n_files_after"),
              col("n_rows"), col("id_sum"), col("value_centi"))
  }

  /** Size-threshold compaction — the real table-maintenance loop at
    * 100 TB: only files BELOW thresholdBytes are fragments; they are
    * rewritten into ~target-sized files while every already-right-sized
    * file is carried over untouched (a metadata-plane file copy here,
    * a no-op in a real table format's manifest). Returns (nUntouched,
    * nCompactedOut). The output sizing target is expressed in ROWS of
    * the largest untouched file — the deterministic proxy for a byte
    * target (fixture compression ratios are not portable; the selection
    * logic is identical).
    */
  def compactBySize(spark: SparkSession, inDir: String, outDir: String,
                    thresholdBytes: Long, sortCol: String): (Int, Int) = {
    val files = Option(new java.io.File(inDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    val (big, small) = files.partition(_.length >= thresholdBytes)
    val out = new java.io.File(outDir)
    if (out.exists()) out.listFiles().foreach(_.delete())
    out.mkdirs()
    big.foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(out, f.getName).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val smallDf = spark.read.parquet(small.map(_.getAbsolutePath).toSeq: _*)
    val smallRows = smallDf.count()
    val targetRows = big.map(f =>
      spark.read.parquet(f.getAbsolutePath).count()).maxOption.getOrElse(smallRows)
    val nOut = math.max(1, math.ceil(smallRows.toDouble / math.max(1L, targetRows)).toInt)
    smallDf.repartition(nOut).sortWithinPartitions(col(sortCol))
      .write.mode("append").parquet(outDir)
    (big.length, nOut)
  }

  /** Driver row for [[compactBySize]]: fragment the events table into 2
    * right-sized files (90% of rows) plus 48 small fragments (10%),
    * compact with threshold = half the largest file — so exactly the 48
    * fragments qualify at every SF — and report file counts plus exact
    * content checksums of the full read-back. 50 → 3 files (2 untouched
    * + 1 compacted), checksums equal the fixture: compaction touched
    * only what it had to and lost nothing.
    */
  def qCompactSized(spark: SparkSession, dir: String): DataFrame = {
    val fragDir = tmp(dir, "sizedfrag")
    val outDir = tmp(dir, "sizedout")
    val ev = events(spark, dir).select(col("event_id"), col("user_id"), col("value"))
    ev.filter(pmod(col("event_id"), lit(10L)) =!= 0)
      .repartition(2).write.mode("overwrite").parquet(fragDir)
    ev.filter(pmod(col("event_id"), lit(10L)) === 0)
      .repartition(48).write.mode("append").parquet(fragDir)
    val maxSize = Option(new java.io.File(fragDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length).max
    val (nUntouched, nOut) =
      compactBySize(spark, fragDir, outDir, maxSize / 2, "event_id")
    spark.read.parquet(outDir)
      .agg(count(lit(1)).as("n_rows"),
           sum(col("event_id")).as("id_sum"),
           sum(expr("cast(round(value * 100) as bigint)")).as("value_centi"))
      .select(lit(parquetFileCount(fragDir)).as("n_files_before"),
              lit(nUntouched).as("n_untouched"),
              lit(nUntouched + nOut).as("n_files_after"),
              col("n_rows"), col("id_sum"), col("value_centi"))
  }

  /** Dynamic partition pruning — the runtime half of the 100 TB pruning
    * story (static pushdown covers literal predicates; DPP covers the
    * fact⋈dim case where the partition keys to keep are only known after
    * filtering the dimension). The fact table is written partitioned by
    * event_type; the dimension carries a non-partition-column predicate
    * (`is_hot`: above-average type frequency, an exact integer compare),
    * so Catalyst cannot prune statically — instead the broadcast of the
    * filtered dim is reused as a dynamic partition filter on the fact
    * scan (PlanShapeSpec asserts the `dynamicpruning` subquery). At scale
    * this is the difference between scanning all partitions and scanning
    * the qualifying ones only.
    */
  def qDppPrune(spark: SparkSession, dir: String): DataFrame = {
    val factDir = tmp(dir, "dppfact")
    val dimDir = tmp(dir, "dppdim")
    val ev = events(spark, dir)
    ev.select(col("event_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(factDir)
    // hot_margin = n_type*5 - n_total: the above-average predicate as a
    // NUMERIC comparison (`> 0`) — Spark's DPP insertion requires the dim
    // filter to be "likely selective" (BinaryComparison/In/Like...); a
    // bare boolean attribute is not on that list and suppresses the
    // dynamic filter entirely.
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("n_total"))))
      .withColumn("hot_margin", col("n_type") * 5 - col("n_total"))
      .select(col("event_type"), col("n_type"), col("hot_margin"))
      .write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.parquet(factDir)
    val dim = spark.read.parquet(dimDir).filter(col("hot_margin") > 0)
    fact.join(dim, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(expr("cast(round(value * 100) as bigint)")).as("value_centi"))
      .orderBy(col("event_type"))
  }

  /** Bucketed co-located join — the 100 TB repeated-join strategy: both
    * fact tables pre-hash-partitioned AND pre-sorted on the join key at
    * write time (8 buckets), so the sort-merge join at read time needs
    * NO exchange and NO sort on either side — the cost moves to the
    * one-time write, amortized over every subsequent join. The HBase
    * analog would be aligning the region splits of two tables; the
    * reference never does it. `hint("merge")` pins SMJ (a broadcast
    * would bypass the bucket layout and prove nothing) without mutating
    * session conf — the hint travels with the plan, so the shape holds
    * no matter when the query is executed. PlanShapeSpec asserts
    * `Bucketed: true` and no exchange on either join key.
    */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    // "The cost moves to the one-time write, amortized over every
    // subsequent join" made literal: each bucketed table is rewritten
    // only when its input changed, so the row prices the exchange-free
    // join the layout exists for, not a per-run rewrite of the layout.
    val bOrders = FixtureStores.bucketed(spark, s"gb_orders_$tag",
      tmp(dir, "borders"),
      orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
      "o_orderkey")
    val bItems = FixtureStores.bucketed(spark, s"gb_lineitem_$tag",
      tmp(dir, "blineitem"),
      lineitem(spark, dir).select(col("l_orderkey"), col("l_extendedprice")),
      "l_orderkey")
    spark.table(bOrders).hint("merge")
      .join(spark.table(bItems),
            col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
           sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("price_centi"))
      .orderBy(col("o_orderpriority"))
  }

  /** Keyed MERGE (upsert/CDC apply) — the HBase put/delete analog done
    * Spark-first as a copy-on-write rewrite: base rows whose key is
    * untouched survive via an anti-join, updates replace, inserts
    * append, deletes vanish — one shuffle-side pass, with the (small)
    * change set broadcast so the base never shuffles. This is the
    * MERGE INTO pattern of the lakehouse formats, minus the format.
    */
  def mergeUpsert(base: DataFrame, changes: DataFrame, key: String): DataFrame =
    base.join(broadcast(changes.select(col(key))), Seq(key), "left_anti")
      .unionByName(changes.filter(col("op") =!= lit("D")).drop("op"))

  /** Driver-checked MERGE over orders: deterministic change set derived
    * from the base (updates +50 on keys ≡ 0 mod 100, deletes keys ≡ 7,
    * inserts re-keyed +10⁷ copies of keys ≡ 13 with status 'N'), applied
    * through the [[KeyedStore]] catalog table — populate, then a
    * copy-on-write merge that rewrites ONLY the key-range regions
    * containing changed keys (KeyedStoreSpec pins untouched regions'
    * files byte-identical). The returned relation is the post-merge
    * TABLE read back — row-level proof that update/delete/insert all
    * landed durably, not just in a transient plan.
    */
  def qUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val changes =
      base.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), lit("U").as("op"), col("o_orderstatus"),
                (col("o_totalprice") + 50.0).as("o_totalprice"))
      .unionByName(
        base.filter(col("o_orderkey") % 100 === 7)
          .select(col("o_orderkey"), lit("D").as("op"), col("o_orderstatus"),
                  col("o_totalprice")))
      .unionByName(
        base.filter(col("o_orderkey") % 100 === 13)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
                  lit("I").as("op"), lit("N").as("o_orderstatus"),
                  col("o_totalprice")))
    val name = "graft_keyed_orders_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    // MUTATING row (the merge rewrites regions): a fresh clone of a
    // cached build every run (qKeyedTtl's note).
    FixtureStores.keyedClone(spark, name, base, "o_orderkey",
      targetRowsPerRegion = 2048)
    KeyedStore.upsert(spark, name, "o_orderkey",
        changes.select(col("o_orderkey"), col("op"),
                       col("o_orderstatus"), col("o_totalprice")))
      .select(col("o_orderkey"), col("o_orderstatus"),
              round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** Versioned point-GET with manifest FILE SKIPPING
    * ([[VersionedStore.getAsOf]]): probed keys route to their covering
    * data leaf by binary search over the version's manifest — O(keys)
    * files read at any table size, the lakehouse data-skipping read as
    * a serving-layer GET. Probes cover every change class of the v2
    * snapshot: an updated key (15: +111), a surviving key (5) and its
    * insert-derived neighbor (6: +7), a DELETED key (10 — must return
    * nothing), and an absent +10M probe. VersionedStoreSpec pins the
    * file-count contract; the oracle recomputes v2 and filters.
    */
  def qTimeTravelGet(spark: SparkSession, dir: String): DataFrame = {
    val tmp = FixtureStores.twoSnapshotStore(spark, dir)
    try VersionedStore
      .getAsOf(spark, tmp, 2, "o_orderkey",
               Seq(5L, 6L, 10L, 15L, 10000005L))
      .select(col("o_orderkey"), col("cents"))
      .orderBy(col("o_orderkey"), col("cents"))
      .localCheckpoint()
    finally graft.streaming.EventStream.deleteRecursively(
      java.nio.file.Paths.get(tmp))
  }

  /** Time travel over the [[VersionedStore]]: snapshot v1 is a
    * deterministic orders slice and v2 commits a U/I/D change set on it
    * (copy-on-write — only touched buckets rewritten, the rest SHARED
    * with v1; [[FixtureStores.twoSnapshotStore]]). Read BOTH snapshots
    * back and summarize: v1's summary after the commit is the
    * snapshot-isolation proof, the old version is untouched by the new
    * one. The result materializes via localCheckpoint (the
    * stream-upsert pattern) so the temp store can be deleted.
    */
  def qTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val tmp = FixtureStores.twoSnapshotStore(spark, dir)
    def summary(version: Int) = VersionedStore.asOf(spark, tmp, version)
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col("o_orderkey")).as("n_keys"),
           sum(col("cents")).as("tot_c"))
      .select(lit(version).as("version"), col("n_rows"), col("n_keys"),
              col("tot_c"))
    // localCheckpoint materializes off the temp store (the stream-upsert
    // pattern) so the directory can be deleted before consumption; at
    // real scale the store IS the durable output and outlives the job.
    // finally, not success-path: a failed query must not leak the store.
    try summary(1).unionByName(summary(2)).orderBy(col("version"))
      .localCheckpoint()
    finally graft.streaming.EventStream.deleteRecursively(
      java.nio.file.Paths.get(tmp))
  }

  /** RESTORE — rollback-as-commit ([[VersionedStore.restore]]): after
    * the v2 change set, roll the table back to v1 as version 3 (zero
    * data rewrite — v3's manifest is v1's chunk list shared verbatim)
    * and prove it three ways in one result: the per-version summaries
    * (v3's row must EQUAL v1's), v2 still time-travel-readable after
    * the restore (rollback preserves history), and the v3-vs-v1 diff
    * empty (`n_diff_rows = 0` via two anti-joins, the symmetric
    * difference).
    */
  def qVstoreRestore(spark: SparkSession, dir: String): DataFrame = {
    val tmp = FixtureStores.twoSnapshotStore(spark, dir)
    try {
      val v3 = VersionedStore.restore(tmp, toVersion = 1)
      def summary(version: Int) = VersionedStore.asOf(spark, tmp, version)
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("o_orderkey")).as("n_keys"),
             sum(col("cents")).as("tot_c"))
        .select(lit(version).as("version"), col("n_rows"), col("n_keys"),
                col("tot_c"))
      val s1 = VersionedStore.asOf(spark, tmp, 1)
      val s3 = VersionedStore.asOf(spark, tmp, v3)
      val diff = s1.exceptAll(s3).unionAll(s3.exceptAll(s1))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(99).as("version"), col("n_rows"),
                lit(0L).as("n_keys"), lit(0L).as("tot_c"))
      summary(1).unionByName(summary(2)).unionByName(summary(v3))
        .unionByName(diff)
        .orderBy(col("version"))
        .localCheckpoint()
    } finally graft.streaming.EventStream.deleteRecursively(
      java.nio.file.Paths.get(tmp))
  }

  /** Snapshot diff — the CDC/incremental-consumption read between two
    * [[VersionedStore]] versions: per change class (added / removed /
    * updated / unchanged), row count and exact net value delta, off ONE
    * full-outer key join of the two snapshot scans. This is how a
    * downstream consumer processes O(changes) instead of re-reading the
    * table. The summary materializes via localCheckpoint so the temp
    * store can be deleted.
    */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val tmp = FixtureStores.twoSnapshotStore(spark, dir)
    try {
      val v1 = VersionedStore.asOf(spark, tmp, 1)
        .select(col("o_orderkey"), col("cents").as("c1"))
      val v2 = VersionedStore.asOf(spark, tmp, 2)
        .select(col("o_orderkey"), col("cents").as("c2"))
      v1.join(v2, Seq("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("c1").isNull, "added")
            .when(col("c2").isNull, "removed")
            .when(col("c1") =!= col("c2"), "updated")
            .otherwise("unchanged"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"),
             sum(coalesce(col("c2"), lit(0L)) - coalesce(col("c1"), lit(0L)))
               .as("delta_c"))
        .orderBy(col("change_type"))
        .localCheckpoint()
    } finally graft.streaming.EventStream.deleteRecursively(
      java.nio.file.Paths.get(tmp))
  }

  /** Incremental view maintenance driven by the versioned store's CDC
    * read — the "advance an aggregate by O(changes)" pattern a downstream
    * consumer runs after every commit: the per-bucket order aggregate
    * materialized at v1 moves to v2 by applying ONLY the snapshot-diff
    * deltas (a changed key contributes −old/+new to its bucket), never
    * rescanning the v2 table. The oracle computes the v2 aggregate from
    * scratch — equality proves the delta algebra is exact. At 100 TB the
    * diff side reads O(changed leaves) (the file-granularity manifests
    * share everything else), so view refresh cost tracks the commit size,
    * not the table size. Composes `q_incr_agg`'s partial-merge idea with
    * `q_snapshot_diff`'s CDC read.
    */
  def qIncrViewCdc(spark: SparkSession, dir: String): DataFrame = {
    val tmp = FixtureStores.twoSnapshotStore(spark, dir)
    try {
      val v1 = VersionedStore.asOf(spark, tmp, 1)
      val v2 = VersionedStore.asOf(spark, tmp, 2)
      val view1 = v1.groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("tot_c"))
      val delta = v1.select(col("o_orderkey"), col("cents").as("c1"))
        .join(v2.select(col("o_orderkey"), col("cents").as("c2")),
              Seq("o_orderkey"), "full_outer")
        .filter(col("c1").isNull || col("c2").isNull || col("c1") =!= col("c2"))
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(sum(when(col("c1").isNull, 1L)
               .when(col("c2").isNull, -1L).otherwise(0L)).as("dn"),
             sum(coalesce(col("c2"), lit(0L)) - coalesce(col("c1"), lit(0L)))
               .as("dc"))
      view1.join(delta, Seq("bucket"), "full_outer")
        .select(col("bucket"),
                (coalesce(col("n_orders"), lit(0L)) +
                  coalesce(col("dn"), lit(0L))).as("n_orders"),
                (coalesce(col("tot_c"), lit(0L)) +
                  coalesce(col("dc"), lit(0L))).as("tot_c"))
        .filter(col("n_orders") > 0)
        .orderBy(col("bucket"))
        .localCheckpoint()
    } finally graft.streaming.EventStream.deleteRecursively(
      java.nio.file.Paths.get(tmp))
  }

  /** Compaction round-trip on the versioned store — the OPTIMIZE /
    * bin-packing maintenance pass: init the orders slice at a small
    * per-file target (many leaves), DELETE 4/5 of the keys so every leaf
    * shrinks far below target (the fragmentation pattern file-granularity
    * commits can't heal on their own), [[VersionedStore.compact]], and
    * summarize the table at the pre-compact (v2) and post-compact (v3)
    * versions. The two rows must be identical except the version column —
    * compaction changes LAYOUT, never data — which is exactly what the
    * oracle pins (one kept-keys summary serves both versions). The
    * file-count drop itself is pinned by VersionedStoreSpec (not
    * SQL-observable).
    */
  def qVstoreCompact(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    try {
      // The %200 slice + 32-row target keeps the leaf count (and so the
      // bench cost) modest at every fixture SF while still exercising a
      // multi-file pack — the compaction mechanics are leaf-count-
      // invariant, pinned structurally in VersionedStoreSpec.
      val base = orders(spark, dir)
        .filter(col("o_orderkey") % 200 === 0)
        .select(col("o_orderkey"),
                round(col("o_totalprice") * 100).cast("long").as("cents"))
      VersionedStore.init(spark, tmp, base, "o_orderkey",
        targetRowsPerFile = 32)
      val dels = base.filter(expr("(o_orderkey div 200) % 5 != 0"))
        .select(col("o_orderkey"), lit("D").as("op"), col("cents"))
      VersionedStore.commit(spark, tmp, dels, "o_orderkey")
      // At toy SFs (sf0.001: the slice is a single leaf) compaction is a
      // legitimate no-op (returns 0); the driver SFs always pack. Either
      // way the post-compact label reads the CURRENT layout — content
      // identity across the boundary is the row's contract.
      val post = VersionedStore.compact(spark, tmp, "o_orderkey") match {
        case 0 => VersionedStore.currentVersion(tmp)
        case v => v
      }
      def summary(label: Int, version: Int) =
        VersionedStore.asOf(spark, tmp, version)
          .agg(count(lit(1)).as("n_rows"),
               countDistinct(col("o_orderkey")).as("n_keys"),
               sum(col("cents")).as("tot_c"))
          .select(lit(label).as("version"), col("n_rows"), col("n_keys"),
                  col("tot_c"))
      summary(2, 2).unionByName(summary(3, post)).orderBy(col("version"))
        .localCheckpoint()
    } finally graft.streaming.EventStream.deleteRecursively(
      java.nio.file.Paths.get(tmp))
  }

  /** GROUPING SETS over (status, priority) — finer control than cube:
    * only the two single-dimension granularities.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM graft_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin)
  }
}
