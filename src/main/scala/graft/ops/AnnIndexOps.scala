package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.FixtureStores

/** Store-persisted ANN index: the [[SimilarityOps.annIvfPq]] pipeline
  * with its two derived relations — codebook and int8 posting lists —
  * made DURABLE in a [[KeyedStore]] table, so serving a query batch
  * never recomputes (or even scans) the corpus. This is the production
  * split retrieval systems make: the index is built once (and appended
  * to incrementally), queries touch only the probed slice of it, and
  * the full-width float vectors stay cold until the final rescore.
  *
  * One keyed table holds the whole index under HBase-style composite
  * row keys — the row-key design the reference forfeits by choosing
  * UUIDs (`HPopulate/src/main/java/org/northeastern/Main.java:97`
  * assigns `UUID.randomUUID` row keys, so related rows scatter across
  * the keyspace: no range read or scan locality is ever possible over
  * its FlightTable; SURVEY.md §1.4):
  *
  *  - `b<c_id%012d>`              → codebook row (c_id, emb, nrm)
  *  - `c<c_id%012d>#m<m_id%012d>` → posting row (c_id, m_id, qv8)
  *
  * Rows are sparse across the two shapes (unused columns NULL) — the
  * HBase sparse-column-family model. Because the store's regions are
  * KEY ranges and postings sort by (cell, member), each cell's posting
  * list is CONTIGUOUS: a probe is a range SCAN that prunes to the
  * regions actually holding that cell (PartitionFilters) with the key
  * range pushed into the sorted parquet (PushedFilters) — O(probed
  * cells' postings) IO, never O(index), at any corpus size. The tiny
  * codebook is one `b*`-prefix scan, broadcast for routing.
  *
  * Incremental maintenance ([[appendBatch]]) assigns a new vector
  * batch against the FROZEN stored codebook (re-clustering is an
  * offline rebuild, not a per-batch job — the standard IVF serving
  * practice) and upserts the new posting rows; composite keys are
  * unique per (cell, member), so the merge is a pure insert that
  * rewrites only the regions covering the new keys (O(changed
  * regions), the store's copy-on-write contract).
  *
  * Key layout bound: ids must fit %012d (< 10^12) for the zero-padded
  * lexicographic order to equal numeric order; [[idxKey]] guards it.
  * Results are IDENTICAL to [[SimilarityOps.annIvfPq]] by construction
  * (same codebook/assignment/probe/rescore stages, shared code), which
  * is exactly what the oracle pins.
  */
object AnnIndexOps {
  import graft.GraftCache.GraftCachedOps
  import graft.Tables._
  import SimilarityOps.{withInt8Codes, pqCodebookRefined,
    pqAssign, pqProbes, pqCoarseRescore, norm2, withDoubleVecs,
    pqSubCodebooks, pqEncode, pqAssignPayload, pqProbesPayload, adcLut,
    adcCoarseRescore, PqM, PqKSub, PqDim}

  private val IdCap = 1000000000000L // %012d zero-pad bound

  private def guardId(c: Column): Column =
    when(c >= IdCap || c < 0, raise_error(concat(
      lit("AnnIndexOps: id out of key-layout range [0, 10^12): "),
      c.cast("string")))).otherwise(c)

  /** `c<cell>#m<member>` composite posting key. */
  private def postingKey(cell: Column, member: Column): Column =
    format_string("c%012d#m%012d", guardId(cell), guardId(member))

  /** Build the index table `name` from scratch: codebook + postings in
    * one CTAS. `targetRowsPerRegion` is deliberately small relative to
    * corpus row counts so cells span multiple regions and the serving
    * scan's pruning is real, not vacuous.
    */
  /** `withLabels = true` stores each member's metadata label AS A
    * POSTING COLUMN — the production filtered-search layout: the
    * pre-filter then costs zero extra IO at serve time because the
    * filter column arrives with the bytes the coarse scan reads anyway
    * ([[SimilarityOps.annIvfPqFiltered]]'s scale claim, made real). */
  def buildIndex(spark: SparkSession, name: String, embs: DataFrame,
                 numCentroids: Int = 16, nassign: Int = 2,
                 targetRowsPerRegion: Long = 512,
                 withLabels: Boolean = false): Unit = {
    // create() runs several actions over the union (count, write,
    // region stats); without the persists each would re-quantize the
    // corpus and re-derive the codebook (the lineage-clone rule).
    val eq = withInt8Codes(embs).graftCached
    // Lloyd-refined router (round-13 second wave; graftCached inside).
    val cent = pqCodebookRefined(eq, numCentroids)
    val codebookRows = cent.select(
      format_string("b%012d", guardId(col("c_id"))).as("row_key"),
      col("c_id"), col("c_emb").as("emb"), col("c_nrm").as("nrm"))
    val postingRows0 = pqAssign(eq, cent, nassign).select(
      postingKey(col("c_id"), col("m_id")).as("row_key"),
      col("c_id"), col("m_id"), col("m_qv8").as("qv8"))
    val postingRows =
      if (withLabels)
        postingRows0.join(
          embs.select(col("vec_id").as("m_id"), col("label").as("m_label")),
          Seq("m_id"))
      else postingRows0
    KeyedStore.create(spark, name,
      codebookRows.unionByName(postingRows, allowMissingColumns = true),
      "row_key", targetRowsPerRegion)
  }

  /** The stored codebook, via one tiny `b*`-prefix range scan. */
  private def storedCodebook(spark: SparkSession, name: String): DataFrame =
    KeyedStore.scan(spark, name, "row_key", "b", "bz")
      .select(col("c_id"), col("emb").as("c_emb"), col("nrm").as("c_nrm"))

  /** Append a new vector batch to an existing index: quantize, assign
    * against the FROZEN stored codebook, insert the posting rows.
    * Only the regions covering the new composite keys are rewritten.
    */
  def appendBatch(spark: SparkSession, name: String,
                  newEmbs: DataFrame, nassign: Int = 2): Unit = {
    val cent = storedCodebook(spark, name)
    // upsert() references the change set from several plan branches
    // (coverage-region probe, anti-join key list, merged rows).
    val changes = pqAssign(withInt8Codes(newEmbs), cent, nassign).select(
      postingKey(col("c_id"), col("m_id")).as("row_key"),
      lit("I").as("op"), col("c_id"), col("m_id"),
      col("m_qv8").as("qv8"),
      // array<double>: codebook rows store the Lloyd-REFINED centroids
      // (micro-mean doubles) since round 13.
      lit(null).cast("array<double>").as("emb"),
      lit(null).cast("double").as("nrm"))
      .graftCached
    // The returned full-table read is deliberately discarded (the
    // store's read-isolation contract); reads go through scan.
    KeyedStore.upsert(spark, name, "row_key", changes)
    ()
  }

  /** Delete a vector batch from the index: their posting keys are
    * recomputed against the FROZEN stored codebook — the same pure
    * function [[appendBatch]] inserts by, so the delete hits exactly
    * the keys the append wrote — and removed via a [[KeyedStore
    * .mergeInto]] whose merge is an anti-join (only regions covering
    * the doomed keys rewrite; regions the delete empties are dropped).
    * Codebook rows stay: a centroid is an immutable cell ANCHOR, not a
    * member — cells anchored at a deleted vector keep serving their
    * remaining members (offline rebuild re-draws anchors, same as for
    * appends that drift the distribution). Idempotent by construction:
    * re-deleting absent keys anti-joins to a no-op.
    */
  /** The doomed posting keys of a delete batch — a pure function of the
    * FROZEN stored coarse assignment ([[deleteBatch]]'s core relation),
    * exposed `private[graft]` for plan dumps and plan-shape specs. */
  private[graft] def doomedPostingKeys(spark: SparkSession, name: String,
                                       embs: DataFrame,
                                       nassign: Int = 2): DataFrame = {
    val cent = storedCodebook(spark, name)
    pqAssign(withInt8Codes(embs), cent, nassign)
      .select(postingKey(col("c_id"), col("m_id")).as("row_key"))
  }

  def deleteBatch(spark: SparkSession, name: String,
                  embs: DataFrame, nassign: Int = 2): Unit = {
    val doomed = doomedPostingKeys(spark, name, embs, nassign)
      .graftCached
    // The returned full-table read is deliberately discarded (the
    // store's read-isolation contract); reads go through scan.
    KeyedStore.mergeInto(spark, name, "row_key", doomed,
      (base, b) => base.join(b, Seq("row_key"), "left_anti"))
    ()
  }

  /** Serve a query batch off the stored index: quantize + route the
    * queries against the stored codebook, range-scan ONLY the probed
    * cells' posting lists, int8-coarse-score and float-rescore via the
    * shared [[SimilarityOps.pqCoarseRescore]] tail. `corpus` supplies
    * the cold float vectors (queries by `queryPred`; survivors fetched
    * by id) — it is scanned for O(queries + survivors) rows, never
    * fully. The probed-cell id list is control-plane metadata (≤
    * nprobe·|queries|, bounded by numCentroids distinct values —
    * the same discipline as the store's own region-id collects).
    */
  def serve(spark: SparkSession, name: String, corpus: DataFrame,
            queryPred: Column, nprobe: Int = 4, k: Int = 10,
            expand: Int = 4, sameLabelOnly: Boolean = false): DataFrame = {
    val cent = storedCodebook(spark, name)
    // A serving query arrives as a raw float vector: quantize inline
    // (per-query work over the tiny filtered set).
    // Referenced twice (cell-id collect + the coarse join) — without
    // the persist each reference re-quantizes and re-routes the batch.
    val probes0 = pqProbes(withInt8Codes(corpus.filter(queryPred)),
      lit(true), cent, nprobe)
    val probes = (if (sameLabelOnly)
      probes0.join(broadcast(corpus.filter(queryPred)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"))),
        Seq("q_id"))
    else probes0).graftCached
    val cells = probes.select(col("c_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val memberCols =
      Seq(col("c_id"), col("m_id"), col("qv8").as("m_qv8")) ++
        (if (sameLabelOnly) Seq(col("m_label")) else Nil)
    val members =
      if (cells.isEmpty) // no queries matched queryPred
        spark.range(0).select(
          Seq(col("id").as("c_id"), col("id").as("m_id"),
            lit(null).cast("array<int>").as("m_qv8")) ++
            (if (sameLabelOnly) Seq(lit(null).cast("int").as("m_label"))
             else Nil): _*)
      else // ONE multi-range scan over all probed cells' posting lists —
           // a per-cell scan union would be a plan-size bomb past a few
           // dozen cells (the HBase MultiRowRangeFilter shape). With
           // sameLabelOnly the label arrives AS A POSTING COLUMN of that
           // same scan — the filter costs zero extra IO (the layout
           // [[buildIndex]]'s withLabels stores).
        KeyedStore.scanMulti(spark, name, "row_key",
          cells.toSeq.map(c => (f"c$c%012d#", f"c$c%012d#z")))
          .select(memberCols: _*)
    val floats = corpus.select(col("vec_id"), col("embedding"),
      norm2("embedding").as("nrm"))
    pqCoarseRescore(probes, members, floats, queryPred, k, expand,
      pairFilter =
        if (sameLabelOnly) col("m_label") === col("q_label") else lit(true))
  }

  // ---- True-PQ index (per-subspace codebooks, ADC serving) ----

  /** Build a TRUE product-quantized index: the coarse IVF codebook plus
    * m per-subspace PQ codebooks ([[SimilarityOps.pqSubCodebooks]]) made
    * durable beside postings that store only the m-code array + the
    * exact reconstructed norm — 16 bytes per member at the defaults vs
    * the int8 index's 64. Key layout extends [[buildIndex]]'s:
    *
    *  - `b<c_id%012d>`              → coarse codebook row (c_id, emb, nrm)
    *  - `p<s%03d>#<code%012d>`      → PQ sub-codebook row (sub_id,
    *                                  sub_code, scv, snrm_u)
    *  - `c<c_id%012d>#m<m_id%012d>` → posting row (c_id, m_id, pqc, rnrm_u)
    *
    * `b* < c* < p*` lexicographically, so each shape is one contiguous
    * key range; the PQ codebook is m·kSub rows — one tiny prefix scan,
    * broadcast at serve time to build the query LUTs. */
  def buildPqIndex(spark: SparkSession, name: String, embs: DataFrame,
                   numCentroids: Int = 16, nassign: Int = 2,
                   m: Int = PqM, kSub: Int = PqKSub,
                   targetRowsPerRegion: Long = 512,
                   withLabels: Boolean = false): Unit = {
    val e = withDoubleVecs(embs).graftCached
    // Lloyd-refined coarse router (round-13 recall fix — see
    // SimilarityOps.pqCodebookRefined; raw-sample routing was the PQ
    // recall bottleneck). graftCached inside, like the sub-codebooks.
    val cent = pqCodebookRefined(e, numCentroids)
    val cb = pqSubCodebooks(e, m, kSub) // graftCached inside
    val codebookRows = cent.select(
      format_string("b%012d", guardId(col("c_id"))).as("row_key"),
      col("c_id"), col("c_emb").as("emb"), col("c_nrm").as("nrm"))
    val subCbRows = cb.select(
      format_string("p%03d#%012d", col("s"),
        guardId(col("code").cast("long"))).as("row_key"),
      col("s").as("sub_id"), col("code").cast("long").as("sub_code"),
      col("scv"), col("snrm_u"))
    val postingRows0 = pqPostingRows(e, cent, cb, nassign, m)
    val postingRows =
      if (withLabels)
        postingRows0.join(
          embs.select(col("vec_id").as("m_id"), col("label").as("m_label")),
          Seq("m_id"))
      else postingRows0
    KeyedStore.create(spark, name,
      codebookRows
        .unionByName(subCbRows, allowMissingColumns = true)
        .unionByName(postingRows, allowMissingColumns = true),
      "row_key", targetRowsPerRegion)
  }

  /** PQ posting rows for a vector batch against GIVEN codebooks —
    * shared by [[buildPqIndex]] (freshly trained) and [[appendPqBatch]]
    * (frozen, read from the store). */
  private def pqPostingRows(e: DataFrame, cent: DataFrame, cb: DataFrame,
                            nassign: Int, m: Int): DataFrame = {
    val codes = pqEncode(e, cb, m)
    pqAssignPayload(e.join(codes, Seq("vec_id")), cent,
        nassign, Seq("pqc", "rnrm_u"))
      .select(postingKey(col("c_id"), col("m_id")).as("row_key"),
        col("c_id"), col("m_id"), col("m_pqc").as("pqc"),
        col("m_rnrm_u").as("rnrm_u"))
  }

  /** The stored PQ sub-codebooks, via one tiny `p*`-prefix scan. */
  private def storedSubCodebooks(spark: SparkSession, name: String): DataFrame =
    KeyedStore.scan(spark, name, "row_key", "p", "pz")
      .select(col("sub_id").cast("int").as("s"),
              col("sub_code").cast("int").as("code"),
              col("scv"), col("snrm_u"))

  /** Append a new vector batch to a true-PQ index: encode against the
    * FROZEN stored sub-codebooks, route against the frozen coarse
    * codebook, insert posting rows — re-training is an offline rebuild,
    * exactly [[appendBatch]]'s serving practice. Only the regions
    * covering the new composite keys rewrite. */
  def appendPqBatch(spark: SparkSession, name: String, newEmbs: DataFrame,
                    nassign: Int = 2, m: Int = PqM): Unit = {
    val cent = storedCodebook(spark, name)
    val cb = storedSubCodebooks(spark, name).graftCached
    val changes = pqPostingRows(withDoubleVecs(newEmbs), cent, cb, nassign, m)
      .withColumn("op", lit("I"))
      // array<double>: the PQ index's codebook rows store the REFINED
      // centroids (micro-mean doubles), unlike the int8 index's raw
      // float sample.
      .withColumn("emb", lit(null).cast("array<double>"))
      .withColumn("nrm", lit(null).cast("double"))
      .withColumn("sub_id", lit(null).cast("int"))
      .withColumn("sub_code", lit(null).cast("bigint"))
      .withColumn("scv", lit(null).cast("array<double>"))
      .withColumn("snrm_u", lit(null).cast("bigint"))
      .graftCached
    // The returned full-table read is deliberately discarded (the
    // store's read-isolation contract); reads go through scan.
    KeyedStore.upsert(spark, name, "row_key", changes)
    ()
  }

  /** Serve off the true-PQ index via asymmetric distance: route the
    * query batch through the stored coarse codebook, build each query's
    * LUT against the stored sub-codebooks (one `p*`-prefix scan, m·kSub
    * rows, broadcast), then ONE multi-range scan of the probed cells'
    * posting lists — each posting read is m codes + one bigint, the 4×
    * byte cut over int8 that is PQ's point at scale — scored by m map
    * lookups, cut to k·expand, and float-rescored by id. */
  def servePq(spark: SparkSession, name: String, corpus: DataFrame,
              queryPred: Column, nprobe: Int = 4, k: Int = 10,
              expand: Int = 8, m: Int = PqM, kSub: Int = PqKSub,
              sameLabelOnly: Boolean = false): DataFrame = {
    val cent = storedCodebook(spark, name)
    val cb = storedSubCodebooks(spark, name)
    val q = withDoubleVecs(corpus.filter(queryPred)).graftCached
    val probes0 = pqProbesPayload(q, lit(true), cent, nprobe, Nil)
    // With sameLabelOnly the query label rides the probe rows and the
    // member label arrives AS A POSTING COLUMN of the one multi-range
    // scan — the pre-filter costs zero extra IO ([[serve]]'s layout).
    val probes = (if (sameLabelOnly)
      probes0.join(broadcast(corpus.filter(queryPred)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"))),
        Seq("q_id"))
    else probes0).graftCached
    val cells = probes.select(col("c_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val memberCols =
      Seq(col("c_id"), col("m_id"), col("pqc").as("m_pqc"),
        col("rnrm_u").as("m_rnrm_u")) ++
        (if (sameLabelOnly) Seq(col("m_label")) else Nil)
    val members =
      if (cells.isEmpty)
        spark.range(0).select(
          Seq(col("id").as("c_id"), col("id").as("m_id"),
            lit(null).cast("array<int>").as("m_pqc"),
            lit(null).cast("bigint").as("m_rnrm_u")) ++
            (if (sameLabelOnly) Seq(lit(null).cast("int").as("m_label"))
             else Nil): _*)
      else
        KeyedStore.scanMulti(spark, name, "row_key",
          cells.toSeq.map(c => (f"c$c%012d#", f"c$c%012d#z")))
          .select(memberCols: _*)
    val lut = adcLut(q, cb, m, kSub)
    val floats = corpus.select(col("vec_id"), col("embedding"),
      norm2("embedding").as("nrm"))
    adcCoarseRescore(probes, members, lut, floats, queryPred, k, expand,
      m, kSub,
      pairFilter =
        if (sameLabelOnly) col("m_label") === col("q_label") else lit(true))
  }

  // ---- driver-contract wrappers (oracle-pinned defaults) ----
  //
  // The maintenance and filtered rows price their OPERATOR (an append, a
  // delete, a rebalance, a filtered serve) against an index built once
  // ([[FixtureStores]]), as a production system appends to an index it
  // built once. The BUILD stays priced, cold, every run by the two
  // anchor rows [[qAnnIndexServe]] (int8) and [[qAnnPq]] (true PQ).

  private def storeName(prefix: String, dir: String): String =
    prefix + dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Build-then-serve over the full corpus — results identical to
    * [[SimilarityOps.annIvfPq]] (same stages, persisted in between),
    * which the shared ANN_PQ oracle pins.
    */
  def qAnnIndexServe(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_idx_", dir)
    val embs = embeddings(spark, dir)
    buildIndex(spark, name, embs)
    serve(spark, name, embs, col("vec_id") < 5)
  }

  /** Incremental index maintenance: build from the 90% base slice
    * (codebook frozen from base), append the 10% delta batch through
    * [[appendBatch]], serve over the union. The oracle assigns ALL
    * vectors against the base-only codebook — exactly what
    * build-then-append produces.
    */
  def qAnnIndexIncremental(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_inc_", dir)
    val embs = embeddings(spark, dir)
    FixtureStores.annBase90(spark, dir, embs, pq = false, name)
    appendBatch(spark, name, embs.filter(col("vec_id") % 10 === 0))
    serve(spark, name, embs, col("vec_id") < 5)
  }

  /** GDPR-shaped forget: build from the FULL corpus, delete the 10%
    * slice's postings, serve — results rank only surviving members
    * while routing through the unchanged full-corpus codebook (the
    * oracle restricts ANN_PQ's member assignment, nothing else).
    */
  def qAnnIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_del_", dir)
    val embs = embeddings(spark, dir)
    FixtureStores.annFull(spark, embs, pq = false, name)
    deleteBatch(spark, name, embs.filter(col("vec_id") % 10 === 0))
    serve(spark, name, embs, col("vec_id") < 5)
  }

  /** Filtered search served off the DURABLE index: the label is stored
    * as a posting-list column ([[buildIndex]] withLabels), so the
    * same-label constraint rides the one multi-range posting scan —
    * zero extra IO, pre-filtered before the candidate cut. Results are
    * identical to the in-memory [[SimilarityOps.annIvfPqFiltered]] by
    * construction (shared stages), which the shared oracle pins.
    */
  def qAnnIndexFiltered(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_fil_", dir)
    val embs = embeddings(spark, dir)
    // Serve-only row: resolve the store in place (no mutation, so no
    // clone needed — the suffix-serve discipline).
    FixtureStores.annLabeled(spark, embs, pq = false, name)
    serve(spark, name, embs, col("vec_id") < 5, sameLabelOnly = true)
  }

  /** True-PQ build-then-ADC-serve, with the index-size accounting
    * attached to every row: `pq_code_bytes` = members·(m + 8) + the
    * m·kSub·subdim·8-byte codebook vs `int8_code_bytes` = members·dim —
    * the flag pins that the m×8-bit representation beats int8×dim
    * storage (16+ε vs 64 bytes/vector at the defaults; at production
    * kSub=256 the codebook grows 16× and is still corpus-independent).
    * Both size columns count each member's CODE bytes once — the stored
    * index additionally duplicates each posting nassign× (same factor on
    * both sides, so the comparison flag is unaffected).
    * Serve results are identical to [[SimilarityOps.annPqAdc]] by
    * construction (shared stages around the store round-trip). */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_adc_", dir)
    val embs = embeddings(spark, dir)
    buildPqIndex(spark, name, embs)
    val served = servePq(spark, name, embs, col("vec_id") < 5)
    val sd = PqDim / PqM
    val sizes = withDoubleVecs(embs)
      .agg(count(lit(1)).as("n"))
      .select(
        (col("n") * (PqM + 8) + lit(PqM * PqKSub * sd * 8)).cast("long")
          .as("pq_code_bytes"),
        (col("n") * PqDim).cast("long").as("int8_code_bytes"))
      .withColumn("pq_smaller", col("pq_code_bytes") < col("int8_code_bytes"))
    served.crossJoin(broadcast(sizes)).orderBy(col("q_id"), col("rank"))
  }

  /** Delete a vector batch from the true-PQ index: posting keys depend
    * only on the COARSE assignment (cell, member) — a pure function of
    * the frozen stored codebook — so the delete recomputes exactly the
    * keys the build/append wrote and anti-join-removes them; codebook
    * rows stay ([[deleteBatch]]'s cell-anchor rule). Idempotent. */
  def deletePqBatch(spark: SparkSession, name: String, embs: DataFrame,
                    nassign: Int = 2): Unit = {
    val cent = storedCodebook(spark, name)
    val doomed = pqAssignPayload(withDoubleVecs(embs), cent, nassign, Nil)
      .select(postingKey(col("c_id"), col("m_id")).as("row_key"))
      .graftCached
    // The returned full-table read is deliberately discarded (the
    // store's read-isolation contract); reads go through scan.
    KeyedStore.mergeInto(spark, name, "row_key", doomed,
      (base, b) => base.join(b, Seq("row_key"), "left_anti"))
    ()
  }

  /** GDPR-shaped forget off the PQ index: full build, delete the 10%
    * slice's postings, serve — rank only survivors while routing through
    * the unchanged full-corpus codebooks. */
  def qAnnPqDelete(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_adcdel_", dir)
    val embs = embeddings(spark, dir)
    FixtureStores.annFull(spark, embs, pq = true, name)
    deletePqBatch(spark, name, embs.filter(col("vec_id") % 10 === 0))
    servePq(spark, name, embs, col("vec_id") < 5)
  }

  /** PQ-index major compaction: incremental appends bloat exactly the
    * regions covering hot cells; rebalance re-derives balanced key-range
    * regions — serving result-invisible by construction (the row shares
    * the incremental oracle). */
  def qAnnPqRebalance(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_adcreb_", dir)
    val embs = embeddings(spark, dir)
    FixtureStores.annBase90(spark, dir, embs, pq = true, name)
    appendPqBatch(spark, name, embs.filter(col("vec_id") % 10 === 0))
    KeyedStore.rebalance(spark, name, "row_key", targetRowsPerRegion = 512)
    servePq(spark, name, embs, col("vec_id") < 5)
  }

  /** True-PQ incremental maintenance: build from the 90% base slice
    * (coarse codebook AND sub-codebooks frozen from base), append the
    * 10% delta through [[appendPqBatch]], serve over the union — the
    * oracle encodes ALL vectors against base-trained codebooks, exactly
    * what build-then-append produces. */
  def qAnnPqIncremental(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_adcinc_", dir)
    val embs = embeddings(spark, dir)
    FixtureStores.annBase90(spark, dir, embs, pq = true, name)
    appendPqBatch(spark, name, embs.filter(col("vec_id") % 10 === 0))
    servePq(spark, name, embs, col("vec_id") < 5)
  }

  /** Label-filtered search off the true-PQ index: member labels are
    * posting columns ([[buildPqIndex]] withLabels), query labels ride
    * the probes, and the equality filter runs BEFORE the k·expand cut —
    * the [[qAnnIndexFiltered]] layout on the 16-byte PQ postings. */
  def qAnnPqFiltered(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_adcfil_", dir)
    val embs = embeddings(spark, dir)
    // Serve-only row: resolve in place ([[qAnnIndexFiltered]]'s note).
    FixtureStores.annLabeled(spark, embs, pq = true, name)
    servePq(spark, name, embs, col("vec_id") < 5, sameLabelOnly = true)
  }

  /** Index maintenance — the major-compaction pass: incremental appends
    * grow exactly the regions covering hot cells (fixed boundaries make
    * them bloat past the create target), so after enough batches the
    * store runs a [[KeyedStore.rebalance]] that re-derives balanced
    * key-range regions from the current rows. Serving is
    * result-invisible by construction (same rows, same keys, new
    * layout) — the row shares the incremental oracle, and AnnIndexSpec
    * pins that the post-rebalance region directory is actually
    * re-balanced, not just equal-valued.
    */
  def qAnnIndexRebalance(spark: SparkSession, dir: String): DataFrame = {
    val name = storeName("graft_ann_reb_", dir)
    val embs = embeddings(spark, dir)
    FixtureStores.annBase90(spark, dir, embs, pq = false, name)
    appendBatch(spark, name, embs.filter(col("vec_id") % 10 === 0))
    KeyedStore.rebalance(spark, name, "row_key", targetRowsPerRegion = 512)
    serve(spark, name, embs, col("vec_id") < 5)
  }
}
