package graft.ops

import graft.GraftCache.GraftCachedOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding table
  * (`vec_id: LONG`, `embedding: ARRAY<FLOAT>`). Parameterized library
  * functions; the `q*` wrappers pin the oracle-checked defaults.
  *
  * Three paths:
  *  - Brute-force cosine top-k — the exactness baseline. The (small) query
  *    set is broadcast against the full vector table, so the scan is one
  *    pass over the big side: linear, partition-parallel, no shuffle until
  *    the per-query top-k (tiny).
  *  - Sign-LSH buckets — deterministic random-projection planes (integer
  *    weights from md5, oracle-reproducible); queries probe one bucket,
  *    ~1/2^planes of the data.
  *  - IVF (inverted-file) — a deterministic strided sample of vectors acts
  *    as the centroid codebook (k ≈ n/stride); every vector is assigned to
  *    its nearest centroid (one broadcast join), queries probe the nprobe
  *    nearest cells. At 100 TB the assignment becomes the partitioning
  *    key, so a probe touches ~nprobe/k of the data.
  *
  * Cosine is computed in double with a sequential left-to-right fold
  * (`aggregate`/`zip_with` — fused to the native CosineDot expression by
  * [[graft.plans.FuseDotProduct]]), the exact summation order DuckDB's
  * `list_dot_product` uses on DOUBLE[]; output similarity is rounded to
  * 3dp and ranking tie-breaks on vec_id.
  */
object SimilarityOps {
  import graft.Tables._

  private[graft] def norm2(v: String): Column =
    expr(s"aggregate($v, cast(0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))")

  private[ops] def dot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, v) -> acc + v)")

  /** Deterministic hyperplane weights in [-1000, 1000], derived from md5
    * of "j_i" — the same closed form the DuckDB oracle evaluates in SQL,
    * computed DRIVER-SIDE once. Catalyst does NOT constant-fold
    * higher-order-function expressions (LambdaFunction is never foldable),
    * so an expression-built plane array re-derives every weight per row —
    * measured at ~9 s per 2000 rows for 8 planes × 64 dims. Weights are
    * exact in float32 (integers ≤ 1000), so embedding·plane in double is
    * bit-identical to the oracle's BIGINT-cast form.
    */
  private[ops] def planeWeights(planes: Int, dim: Int = 64): Array[Array[Float]] =
    Array.tabulate(planes, dim) { (j, i) =>
      val hex = TextFns.md5Hex(s"${j}_${i + 1}")
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001 - 1000).toFloat
    }

  /** Sign-bit bucket of the `embedding` column: bit j set iff
    * embedding · planes(j) > 0. Planes are literals; each dot is the
    * canonical sequential double fold (fused to the native CosineDot
    * expression by FuseDotProduct when the extensions are installed).
    * Shared by [[annLsh]] and [[DedupOps.embeddingCosinePairs]].
    */
  private[ops] def bucketCol(planes: Int): Column = {
    val w = planeWeights(planes)
    (0 until planes).map { j =>
      val prod = zip_with(col("embedding"), typedLit(w(j).toSeq),
        (x, p) => x.cast("double") * p.cast("double"))
      val dotJ = aggregate(prod, lit(0.0), (acc, v) => acc + v)
      when(dotJ > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor_id"), round(col("cos"), 3).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Brute-force cosine top-k for the query rows selected by queryPred. */
  def annBruteforce(embs: DataFrame, queryPred: Column, k: Int = 10): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"), norm2("embedding").as("nrm"))
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .filter(queryPred)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot("q_emb", "embedding") / (sqrt(col("q_nrm")) * sqrt(col("nrm"))))
      .withColumnRenamed("vec_id", "neighbor_id")
    topK(scored, k)
  }

  /** Sign-LSH bucketed ANN: `planes` deterministic hyperplanes (integer
    * weights derived from md5 of "j_i", so the oracle reproduces them
    * exactly); bucket = sign bits. MULTIPROBE: each query searches every
    * bucket within Hamming distance `hamming` of its own — the buckets a
    * true neighbor most plausibly lands in when a few projections fall
    * near zero. The probe list is a per-QUERY explode (Σ C(planes,i),
    * i ≤ hamming — 93 rows at the 8/3 default — still a tiny broadcast);
    * the corpus side stays one bucket per vector, so probing touches a
    * fixed ~36% candidate fraction and candidates stay unique per
    * (query, neighbor) without a distinct. Defaults are the round-5
    * DuckDB parameter sweep's winner at the round-4 candidate budget
    * (~35%): P=8/H≤3 lifts min recall@10 across sf0.001/0.01/0.1 from
    * 0.40 to 0.56 (sweep table in ROUND5_NOTES.md); finer buckets plus
    * wider probes beat coarse buckets at equal cost. Plane count scales
    * with corpus size (recall/candidate-set tradeoff).
    */
  def annLsh(embs: DataFrame, queryPred: Column, planes: Int = 8,
             hamming: Int = 3, k: Int = 10): DataFrame = {
    val e = embs
      .withColumn("bucket", bucketCol(planes))
      .select(col("vec_id"), col("bucket"), col("embedding"), norm2("embedding").as("nrm"))
    val masks = (0 until (1 << planes)).filter(Integer.bitCount(_) <= hamming)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("bucket").as("own"),
              col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .withColumn("bucket", explode(array(
        masks.map(m => col("own").bitwiseXOR(lit(m))): _*)))
      .drop("own")
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot("q_emb", "embedding") / (sqrt(col("q_nrm")) * sqrt(col("nrm"))))
      .withColumnRenamed("vec_id", "neighbor_id")
    topK(scored, k)
  }

  /** IVF ANN: a FIXED-k deterministic codebook (the numCentroids vectors
    * with the smallest md5(vec_id) — a uniform pseudo-random sample whose
    * size does NOT grow with n, computed as a TakeOrdered, never a full
    * sort); MULTI-ASSIGN every vector to its nassign nearest centroids
    * via a broadcast of just the k centroids (2× index storage buys the
    * recall a raw-sample codebook loses to cell-boundary neighbors:
    * measured mean recall@10 0.30→0.64+ at nassign=2); queries probe
    * their nprobe nearest cells and take cosine top-k among the cells'
    * members.
    *
    * Assignment is a map-side aggregation, not a window: the n×k
    * broadcast-nested-loop rows partial-aggregate (collect_list of k
    * tiny structs, sorted and sliced to nassign) to nassign rows per
    * vector BEFORE the exchange, so the shuffle carries n·nassign rows,
    * not n×k. A (query, member) pair reachable through two shared cells
    * is collapsed by a narrow (q_id, m_id, cos) aggregate — identical
    * cos on every duplicate, so first() is deterministic — and the
    * exchange never carries the embedding arrays.
    */
  def annIvf(embs: DataFrame, queryPred: Column, numCentroids: Int = 16,
             nassign: Int = 2, nprobe: Int = 4, k: Int = 10): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"), norm2("embedding").as("nrm"))
    // Persisted (numCentroids rows): the sample codebook is broadcast
    // from two branches (assignment + probes); un-persisted each re-runs
    // the md5 sort-limit over the corpus.
    val cent = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      .graftCached
    def withCentCos(df: DataFrame): DataFrame =
      df.join(broadcast(cent), lit(true))
        .withColumn("c_cos", dot("embedding", "c_emb") / (sqrt(col("nrm")) * sqrt(col("c_nrm"))))
    // Top-nassign centroids per vector: sort (−c_cos, c_id) ascending ==
    // row_number(... ORDER BY c_cos DESC, c_id ASC) <= nassign.
    val assign = withCentCos(e)
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("m_emb"), first(col("nrm")).as("m_nrm"),
           slice(array_sort(collect_list(struct((-col("c_cos")).as("nc"), col("c_id")))),
                 1, nassign).as("top"))
      .select(col("vec_id").as("m_id"), col("m_emb"), col("m_nrm"),
              explode(col("top.c_id")).as("c_id"))
    // Probe list only for the (tiny) query set — the window runs over
    // |queries|·k rows, never over the full corpus.
    val probes = withCentCos(e.filter(queryPred))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              col("nrm").as("q_nrm"), col("c_id"))
    val scored = probes.join(assign, Seq("c_id"))
      .filter(col("m_id") =!= col("q_id"))
      .withColumn("cos", dot("q_emb", "m_emb") / (sqrt(col("q_nrm")) * sqrt(col("m_nrm"))))
      .groupBy(col("q_id"), col("m_id"))
      .agg(first(col("cos")).as("cos"))
      .withColumnRenamed("m_id", "neighbor_id")
    topK(scored, k)
  }

  /** Symmetric int8 quantization of the embedding column — the storage/
    * bandwidth-reduction step before ANN serving (4× smaller than float32).
    * Per vector: scale = max|x|/127, q_i = round(x_i·127/max|x|). A pure
    * projection (transform/aggregate HOFs) — shuffle-free, embarrassingly
    * parallel. Outputs are exact integers (plus the 6dp-rounded max), so
    * the oracle compare is bit-stable: Spark round() and DuckDB round()
    * both round half away from zero, and the float→double widening and
    * `x*127.0/amax` evaluation order are identical on both engines.
    * Zero vectors (amax = 0) are excluded on both sides.
    */
  def quantizeEmbeddings(embs: DataFrame): DataFrame =
    embs
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("amax", expr("aggregate(v, cast(0 as double), (a, x) -> greatest(a, abs(x)))"))
      .filter(col("amax") > 0)
      .withColumn("qv", expr("transform(v, x -> cast(round(x * 127.0 / amax) as int))"))
      .select(col("vec_id"), round(col("amax"), 6).as("amax"),
              expr("array_min(qv)").as("qmin"), expr("array_max(qv)").as("qmax"),
              expr("aggregate(qv, cast(0 as bigint), (a, x) -> a + x)").as("qsum"))
      .orderBy(col("vec_id"))

  /** Two-stage retrieval: int8-quantized coarse scan → exact float
    * rescore — the production memory-bandwidth path for similarity
    * search at scale. The coarse pass scores candidates on the int8
    * CODES (1 byte/dim instead of 4: a bandwidth-bound scan reads 4×
    * less, and integer MACs are the SIMD fast path), keeps the top
    * `k·expand` per query by exact BIGINT dot (no float drift to
    * oracle-mismatch), then rescores only that candidate set with the
    * exact float cosine and returns the top `k`. Quantization is the
    * [[quantizeEmbeddings]] scheme verbatim (per-vector symmetric
    * absmax int8), so code and oracle share one arithmetic.
    *
    * Scale notes: the coarse join is the same broadcast-query/one-pass
    * corpus scan as [[annBruteforce]] — the win here is per-byte, not
    * per-candidate; for candidate reduction it composes unchanged with
    * [[annIvf]]'s cell routing (quantize within probed cells — IVF-PQ's
    * shape). Dropping a true neighbor whose int8 score fell below the
    * cut is the quantization recall cost; SimilaritySpec pins a recall
    * floor against the brute-force baseline, q_ann_recall-style.
    */
  /** `(vec_id, embedding, nrm, qv8)` with the [[quantizeEmbeddings]]
    * int8 absmax codes attached — the "stored codes column" both
    * quantized retrieval paths scan. `private[ops]`: [[AnnIndexOps]]
    * quantizes with the same arithmetic when building / querying the
    * store-persisted index. */
  private[graft] def withInt8Codes(embs: DataFrame): DataFrame =
    embs
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("amax", expr(
        "aggregate(v, cast(0 as double), (a, x) -> greatest(a, abs(x)))"))
      .filter(col("amax") > 0)
      .withColumn("qv8", expr(
        "transform(v, x -> cast(round(x * 127.0 / amax) as int))"))
      .withColumn("nrm", norm2("embedding"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("qv8"))

  /** Exact BIGINT dot of two int8 code columns (|dot| ≤ 127²·dim — no
    * overflow, no float drift). */
  private[ops] def int8Dot(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> cast(x as bigint) * y), " +
      "cast(0 as bigint), (acc, z) -> acc + z)")

  def annQuantizedRescore(embs: DataFrame, queryPred: Column, k: Int = 10,
                          expand: Int = 4): DataFrame = {
    val e = withInt8Codes(embs)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              col("nrm").as("q_nrm"), col("qv8").as("q_qv8"))
    val coarse = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("iscore", int8Dot("qv8", "q_qv8"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("iscore").desc, col("vec_id").asc)
    val cand = coarse.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= k * expand)
    val rescored = cand
      .withColumn("cos",
        dot("q_emb", "embedding") / (sqrt(col("q_nrm")) * sqrt(col("nrm"))))
      .withColumnRenamed("vec_id", "neighbor_id")
    topK(rescored, k)
  }

  /** Nearest-centroid assignment: broadcast the k centroids, one linear
    * pass over the vectors. Distance = |v|² - 2·v·c + |c|² from the same
    * left-to-right folds the ANN oracles bit-match; argmin ties resolve
    * to the lowest c_id via the lexicographic `min_by` struct. The
    * partial aggregation collapses the k candidate rows per vector
    * map-side, so the exchange carries n rows, not n·k.
    */
  private def assignNearest(e: DataFrame, cents: DataFrame): DataFrame =
    e.withColumn("nrm_v", expr("aggregate(v, cast(0 as double), (a, x) -> a + x * x)"))
      .crossJoin(broadcast(cents.withColumn("nrm_c",
        expr("aggregate(cv, cast(0 as double), (a, x) -> a + x * x)"))))
      .withColumn("dist", expr(
        "nrm_v - 2 * aggregate(zip_with(v, cv, (x, y) -> x * y), cast(0 as double), (a, z) -> a + z) + nrm_c"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("c_id"), col("v")), struct(col("dist"), col("c_id"))).as("m"))
      .select(col("vec_id"), col("m.c_id").as("c_id"), col("m.v").as("v"))

  /** Two-round distributed k-means (Lloyd): seed → assign → exact-mean
    * update → re-assign, reporting per-cluster sizes and centroid norms.
    * The codebook-refinement step for IVF: a few Lloyd rounds over a
    * deterministic seed sample cut intra-cell variance far below the raw
    * sample's.
    *
    * Every step is deterministic AND order-independent, so the result is
    * oracle-checkable bit-for-bit — the part naive float k-means gets
    * wrong on a cluster (double summation order varies by partitioning):
    *  - seeds: the k vectors with smallest md5(vec_id) (same closed form
    *    as the IVF codebook), c_id in digest order;
    *  - mean update in exact integer micro-units: per (cluster, dim),
    *    S = Σ round(x·1e6) as BIGINT (exact), centroid dim =
    *    floor(S/n + 0.5)/1e6 — IEEE division of exact ints is identically
    *    rounded on both engines, so no float-sum nondeterminism anywhere;
    *  - centroid norm from the integer dims: Σ cm² ≤ 64·(1.1e6)² < 2⁵³,
    *    exact in BIGINT, reported as round(Σcm²/1e12, 6).
    * Cost per round: one broadcast + one n-row exchange for assignment,
    * one (k·dim)-group aggregate for the update — the update explodes to
    * n·dim rows but partial aggregation collapses them map-side to
    * k·dim per partition before the exchange.
    */
  def kmeansTwoRound(embs: DataFrame, k: Int = 8): DataFrame = {
    val e = embs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cent1 = kmeansCentroids(embs, k)
    assignNearest(e, cent1.select(col("c_id"), col("cv")))
      .groupBy(col("c_id")).agg(count(lit(1)).as("n_members"))
      .join(cent1.select(col("c_id"), col("cnorm")), Seq("c_id"))
      .orderBy(col("c_id"))
  }

  /** The round-1 Lloyd centroids (c_id, cv, cnorm) — also the refined IVF
    * codebook ([[annIvfKmeans]]). See [[kmeansTwoRound]] for why every
    * step is order-independent and bit-reproducible.
    */
  def kmeansCentroids(embs: DataFrame, k: Int = 8): DataFrame = {
    val e = embs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cent0 = e.withColumn("ckey", md5(col("vec_id").cast("string")))
      .orderBy(col("ckey")).limit(k)
      .withColumn("c_id", (row_number().over(Window.orderBy(col("ckey"))) - 1).cast("long"))
      .select(col("c_id"), col("v").as("cv"))
    val a1 = assignNearest(e, cent0)
    val dims = a1.select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("c_id"), col("pos"))
      .agg(sum(expr("cast(round(x * 1000000.0) as bigint)")).as("s"), count(lit(1)).as("n"))
      .withColumn("cm", expr("cast(floor(s / cast(n as double) + 0.5) as bigint)"))
    dims.groupBy(col("c_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cm")))).as("pcs"))
      .select(col("c_id"),
        expr("transform(pcs, p -> cast(p.cm as double) / 1000000.0)").as("cv"),
        expr("round(cast(aggregate(pcs, cast(0 as bigint), (a, p) -> a + p.cm * p.cm) as double) / 1000000000000.0, 6)").as("cnorm"))
      // Persisted (k rows): every caller references the codebook from
      // at least two plan branches, and un-persisted each reference
      // re-runs the whole Lloyd round over the corpus (round-9 plan
      // audit: 5-9 embedding scans per kmeans-family query).
      .graftCached
  }

  /** IVF probing over the kmeans-refined codebook — the production ANN
    * shape: deterministic seed sample → one exact-arithmetic Lloyd round →
    * inverted-file assignment and nprobe probing. Identical probe plan to
    * [[annIvf]] (broadcast codebook, map-side argmax assignment, window
    * only over the query set), but the Lloyd-refined cells have lower
    * intra-cell variance, so recall at fixed nprobe improves over the raw
    * sample codebook.
    */
  def annIvfKmeans(embs: DataFrame, queryPred: Column, numCentroids: Int = 8,
                   nprobe: Int = 3, k: Int = 10): DataFrame = {
    val cent = kmeansCentroids(embs, numCentroids)
      .withColumn("c_nrm", expr("aggregate(cv, cast(0 as double), (a, x) -> a + x * x)"))
      .select(col("c_id"), col("cv"), col("c_nrm"))
    val e = embs.select(col("vec_id"), col("embedding"), norm2("embedding").as("nrm"))
    def withCentCos(df: DataFrame): DataFrame =
      df.join(broadcast(cent), lit(true))
        .withColumn("c_cos", dot("embedding", "cv") / (sqrt(col("nrm")) * sqrt(col("c_nrm"))))
    val assign = withCentCos(e)
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("m_emb"), first(col("nrm")).as("m_nrm"),
           max_by(col("c_id"), struct(col("c_cos"), (-col("c_id")).as("neg_c"))).as("c_id"))
      .select(col("vec_id").as("m_id"), col("m_emb"), col("m_nrm"), col("c_id"))
    val probes = withCentCos(e.filter(queryPred))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              col("nrm").as("q_nrm"), col("c_id"))
    val scored = probes.join(assign, Seq("c_id"))
      .filter(col("m_id") =!= col("q_id"))
      .withColumn("cos", dot("q_emb", "m_emb") / (sqrt(col("q_nrm")) * sqrt(col("m_nrm"))))
      .withColumnRenamed("m_id", "neighbor_id")
    topK(scored, k)
  }

  /** ANN recall as a driver-checked invariant (the q_sketch_accuracy
    * pattern): brute-force top-k is ground truth; each approximate path
    * (raw-sample IVF, sign-LSH, kmeans-refined IVF) reports per-query
    * recall@k, plus corpus-level mean-recall floors pinned as literal
    * `true` in the oracle — if a code change ever degrades recall below
    * the floor, the hash compare fails. All recall arithmetic is exact
    * (integer hit counts; one IEEE division both engines share), so the
    * per-query values are hash-pinned too: recall cannot drift AT ALL
    * without failing, the flags just encode the tolerable floor if the
    * defaults are retuned. Floors hold at sf0.001/0.01/0.1 (measured
    * minima across SFs: 0.64 ivf (multi-assign), 0.56 lsh (8-plane
    * Hamming-3 multiprobe), 0.62 ivf_kmeans (nprobe 3) — floors
    * 0.6/0.5/0.6).
    */
  def qAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    // The eval harness drives FOUR retrieval paths over one vector set —
    // persisting the source table is the right trade here (and only
    // here: the operators themselves leave the choice to their caller).
    // The per-path residual scans then read the cache, not parquet.
    val embs = embeddings(spark, dir)
      .graftCached
    // Persisted (|queries|·k rows): the ground truth joins against every
    // approximate path — un-persisted, the brute-force pass re-runs per
    // comparison (round-9 plan audit: 40 embedding scans in this query).
    val bf = annBruteforce(embs, col("q_id") < 5).select(col("q_id"), col("neighbor_id"))
      .graftCached
    def hits(apx: DataFrame, name: String): DataFrame =
      bf.join(apx.select(col("q_id"), col("neighbor_id")), Seq("q_id", "neighbor_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as(name))
    val per = bf.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits(annIvf(embs, col("vec_id") < 5), "h_ivf"), Seq("q_id"), "left")
      .join(hits(annLsh(embs, col("vec_id") < 5), "h_lsh"), Seq("q_id"), "left")
      .join(hits(annIvfKmeans(embs, col("vec_id") < 5), "h_ivfk"), Seq("q_id"), "left")
      .join(hits(annQuantizedRescore(embs, col("vec_id") < 5), "h_qr"),
        Seq("q_id"), "left")
      // The two newest paths run at recall-battery settings one notch
      // above their serving defaults (round-13 verdict item #5: floors
      // needed ≥ 0.08 margin at every SF): ivf_pq probes 5/16 cells
      // (swept: min recall 0.72 → 0.80), pq_adc widens the ADC cut to
      // k·12 (0.66 → 0.68 at sf0.1; nprobe 5 there REGRESSED 0.66 →
      // 0.64 — the extra cell pulls in closer-in-ADC-but-wrong
      // candidates — so the cut, not the probe, is the right knob; the
      // full 3-SF sweep table is in ROUND14_NOTES).
      .join(hits(annIvfPq(embs, col("vec_id") < 5, nprobe = 5), "h_pq"),
        Seq("q_id"), "left")
      .join(hits(annPqAdc(embs, col("vec_id") < 5, expand = 12), "h_adc"),
        Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("h_ivf"), lit(0L)).as("h_ivf"),
        coalesce(col("h_lsh"), lit(0L)).as("h_lsh"),
        coalesce(col("h_ivfk"), lit(0L)).as("h_ivfk"),
        coalesce(col("h_qr"), lit(0L)).as("h_qr"),
        coalesce(col("h_pq"), lit(0L)).as("h_pq"),
        coalesce(col("h_adc"), lit(0L)).as("h_adc"))
    // Mean recall from exact integer totals (sum of hits / sum of k) —
    // order-independent, unlike avg() over per-query doubles. Quantized
    // rescore's floor is high (0.80): its only loss is the int8 coarse
    // cut, and the exact rescore recovers nearly everything at 4x
    // expansion (measured ≈1.0 across SFs). IVF-PQ inherits the cell-
    // routing loss, so its floor sits with IVF's class (0.50 — strictly
    // the IVF floor minus the small coarse-cut allowance).
    val flags = per.agg(
      (sum(col("h_ivf")).cast("double") / sum(col("n_exact")) >= 0.60).as("ivf_mean_ok"),
      (sum(col("h_lsh")).cast("double") / sum(col("n_exact")) >= 0.50).as("lsh_mean_ok"),
      (sum(col("h_ivfk")).cast("double") / sum(col("n_exact")) >= 0.60).as("ivf_kmeans_mean_ok"),
      (sum(col("h_qr")).cast("double") / sum(col("n_exact")) >= 0.80).as("quant_rescore_mean_ok"),
      // int8 IVF-PQ at battery nprobe 5: measured mean recall@10
      // 0.80/0.82/0.82 across sf0.001/0.01/0.1 (round-14 sweep; nprobe
      // 4 sat at 0.74/0.72/0.80, leaving the 0.65 floor only 0.07 of
      // margin). Floor 0.70 → ≥ 0.10 margin at every SF.
      (sum(col("h_pq")).cast("double") / sum(col("n_exact")) >= 0.70).as("ivf_pq_mean_ok"),
      // True-PQ ADC at battery expand 12: measured mean recall@10
      // 0.74/0.72/0.68 across sf0.001/0.01/0.1 (expand 8 measured
      // 0.68/0.68/0.66 — a 0.06 margin over the 0.60 floor; widening
      // the ADC cut was the knob that did NOT regress sf0.1, unlike
      // nprobe 5 which did). Floor 0.60 → ≥ 0.08 margin at every SF.
      // The swept-and-rejected alternatives (k-means++ seeding, second
      // Lloyd round) remain recorded in ROUND13_NOTES and
      // pqCodebookRefined's scaladoc.
      (sum(col("h_adc")).cast("double") / sum(col("n_exact")) >= 0.60).as("pq_adc_mean_ok"))
    per.select(col("q_id"), col("n_exact"),
        round(col("h_ivf").cast("double") / col("n_exact"), 3).as("recall_ivf"),
        round(col("h_lsh").cast("double") / col("n_exact"), 3).as("recall_lsh"),
        round(col("h_ivfk").cast("double") / col("n_exact"), 3).as("recall_ivf_kmeans"),
        round(col("h_qr").cast("double") / col("n_exact"), 3).as("recall_quant_rescore"),
        round(col("h_pq").cast("double") / col("n_exact"), 3).as("recall_ivf_pq"),
        round(col("h_adc").cast("double") / col("n_exact"), 3).as("recall_pq_adc"))
      .crossJoin(broadcast(flags))
      .orderBy(col("q_id"))
  }

  /** All-vectors k-NN graph via multiprobe sign-LSH — the graph-
    * construction pass behind graph-based ANN indexes and SemDeDup
    * variants: EVERY vector gets its top-k approximate neighbors, not
    * just a query set.
    *
    * Plan shape (the textbook distributed LSH join): the probe relation
    * replicates each vector's embedding into its Hamming-≤r probe buckets
    * (the |masks|× fanout exchange on `bucket` — the one unavoidable LSH
    * cost), the bucket equi-join meets the single-copy member relation,
    * and the cosine is computed IN THE SAME PROJECTION so embeddings are
    * dropped before any downstream exchange or sort. The earlier
    * formulation (narrow probes, embeddings attached by q_id AFTER the
    * bucket join) sorted the full candidate relation with a neighbor
    * embedding on every row for the attach SMJ — measured ~170 GB of
    * spill at 40k vectors × 93 probes; this shape's only big sort is the
    * probe relation itself, |masks|·n rows partitioned by bucket. A
    * (q, neighbor) pair is reachable through exactly one probe mask (the
    * neighbor sits in one bucket; XOR is a bijection), so candidates are
    * duplicate-free without a distinct. At 100 TB, grow `planes` with
    * log₂(n) so per-bucket membership — and with it candidates per query
    * — stays constant (the weak-scaling probe in ROUND5_NOTES scaled
    * planes exactly so);
    * top-k is a per-vec_id window — high-cardinality partitions, never
    * global.
    */
  def knnGraph(embs: DataFrame, planes: Int = 8, hamming: Int = 3,
               k: Int = 5): DataFrame = {
    // Persisted: `e` feeds the probe fanout AND the bucket join — the
    // per-vector plane projections (the CPU cost) would otherwise run
    // twice. This caches the vector payload too; for an all-vectors kNN
    // build that is the standard trade (the operator touches every
    // vector from two sides regardless), spill-safe via MEMORY_AND_DISK.
    val e = embs.withColumn("bucket", bucketCol(planes))
      .select(col("vec_id"), col("bucket"), col("embedding"),
              norm2("embedding").as("nrm"))
      .graftCached
    val masks = (0 until (1 << planes)).filter(Integer.bitCount(_) <= hamming)
    val probes = e.select(col("vec_id").as("q_id"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = probes.join(e, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              (dot("q_emb", "embedding") /
                (sqrt(col("q_nrm")) * sqrt(col("nrm")))).as("cos"))
    topK(scored, k)
  }

  def qKnnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraph(embeddings(spark, dir))

  /** kNN label smoothing / denoising: re-label every vector with the
    * majority label among its k nearest neighbors (ties → most votes,
    * then smallest label id) — the standard label-noise audit over a
    * labeled embedding set. Runs entirely off the [[knnGraph]] edge
    * relation: one join to attach neighbor labels (hash on neighbor_id),
    * one count aggregate keyed (q_id, label), one per-q_id argmax via
    * `max_by` over a struct — no window, no driver state; every stage is
    * keyed on the high-cardinality vector id, so the shape is flat at any
    * corpus size. `n_agree`/`changed` make the disagreement set directly
    * filterable — the rows a curation pipeline would route to review.
    */
  def labelSmooth(embs: DataFrame, planes: Int = 8, hamming: Int = 3,
                  k: Int = 5): DataFrame = {
    val labels = embs.select(col("vec_id"), col("label"))
    val votes = knnGraph(embs, planes, hamming, k)
      .join(labels.select(col("vec_id").as("neighbor_id"),
                          col("label").as("n_label")), Seq("neighbor_id"))
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
    val smoothed = votes.groupBy(col("q_id")).agg(
      max_by(col("n_label"), struct(col("n_votes"), -col("n_label"))).as("smoothed_label"),
      max(col("n_votes")).as("n_agree"))
    labels.join(smoothed, labels("vec_id") === smoothed("q_id"), "inner")
      .select(col("vec_id"), col("label"), col("smoothed_label"),
              col("n_agree"),
              (col("label") =!= col("smoothed_label")).cast("int").as("changed"))
      .orderBy(col("vec_id"))
  }

  def qLabelSmooth(spark: SparkSession, dir: String): DataFrame =
    labelSmooth(embeddings(spark, dir))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the
    * exact-arithmetic Lloyd codebook ([[kmeansCentroids]]), then look for
    * near-duplicate pairs ONLY within a cluster and drop the higher-id
    * member of every pair at or above the cosine threshold. Reports
    * per-cluster member/dropped/kept counts.
    *
    * The clusters bound the candidate set: the pair join is keyed on
    * `c_id`, so after one hash exchange the quadratic work is
    * partition-local and proportional to Σ|cluster|² — and at 100 TB the
    * codebook size k grows with n (SemDeDup runs k ≈ 10⁴–10⁵ on
    * billion-scale corpora) so the expected cluster size, and with it the
    * per-cluster work, stays bounded; a cluster exceeding the cap falls
    * back to the sign-LSH banding of [[DedupOps.embeddingCosinePairs]]
    * WITHIN the cluster (same candidate machinery, composed). Every step
    * is deterministic and order-independent: md5-seeded codebook,
    * integer-micro-unit centroid means, (dist, c_id) argmin ties,
    * 3dp-rounded cosines — so the whole operator is oracle-checkable
    * bit-for-bit.
    */
  def semanticDedup(embs: DataFrame, k: Int = 8,
                    threshold: Double = 0.45): DataFrame = {
    val e = embs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cent = kmeansCentroids(embs, k)
    // Persisted: `assigned` feeds both sides of the within-cluster pair
    // join AND the member counts — the broadcast-argmin assignment pass
    // would otherwise run three times.
    val assigned = assignNearest(e, cent.select(col("c_id"), col("cv")))
      .withColumn("nrm", expr("aggregate(v, cast(0 as double), (a, x) -> a + x * x)"))
      .graftCached
    val a = assigned.select(col("c_id"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("c_id"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("c_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(
        expr("aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0 as double), (acc, z) -> acc + z)")
          / (sqrt(col("na")) * sqrt(col("nb"))), 3))
      .filter(col("cos") >= threshold)
    val dropped = pairs.select(col("c_id"), col("vec_b").as("vec_id")).distinct()
    val members = assigned.groupBy(col("c_id")).agg(count(lit(1)).as("n_members"))
    val drops = dropped.groupBy(col("c_id")).agg(count(lit(1)).as("n_dropped"))
    members.join(drops, Seq("c_id"), "left")
      .select(col("c_id"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy(col("c_id"))
  }

  // ---- driver-contract wrappers (oracle-pinned defaults) ----

  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(embeddings(spark, dir))

  def qKmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansTwoRound(embeddings(spark, dir))

  def qAnnIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    annIvfKmeans(embeddings(spark, dir), col("vec_id") < 5)

  def qEmbedQuantize(spark: SparkSession, dir: String): DataFrame =
    quantizeEmbeddings(embeddings(spark, dir))

  def qAnnBruteforce(spark: SparkSession, dir: String): DataFrame =
    annBruteforce(embeddings(spark, dir), col("q_id") < 5)

  def qAnnLsh(spark: SparkSession, dir: String): DataFrame =
    annLsh(embeddings(spark, dir), col("vec_id") < 5)

  def qAnnIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(embeddings(spark, dir), col("vec_id") < 5)

  /** IVF-PQ-shaped retrieval: IVF cell routing × int8 coarse scoring ×
    * exact float rescore — the two candidate reductions composed. The
    * probed cells bound WHICH vectors are scored (~nprobe/numCentroids
    * of the corpus at scale), the int8 codes bound the BYTES the coarse
    * scan reads (1/dim instead of 4), and the float vectors are fetched
    * by id only for the k·expand survivors (the rescore joins back to
    * the table rather than dragging float arrays through the candidate
    * aggregate — at 100 TB the codes live hot, the floats don't).
    * Routing is [[annIvf]]'s deterministic md5 codebook verbatim;
    * quantization is [[quantizeEmbeddings]]'s. The quantized relation
    * is persisted once ([[GraftCache]]) — it feeds assignment, probes,
    * and both rescore joins, and un-persisted each branch would re-run
    * the corpus quantization (the round-9 lineage-clone lesson).
    */
  def annIvfPq(embs: DataFrame, queryPred: Column, numCentroids: Int = 16,
               nassign: Int = 2, nprobe: Int = 4, k: Int = 10,
               expand: Int = 4): DataFrame = {
    val eq = withInt8Codes(embs).graftCached
    // Lloyd-refined router (round-13 second wave): int8 min recall@10
    // across SFs 0.64 → 0.72 — routing loss dominated here exactly as
    // in the true-PQ family. graftCached inside.
    val cent = pqCodebookRefined(eq, numCentroids)
    pqCoarseRescore(
      pqProbes(eq, queryPred, cent, nprobe),
      pqAssign(eq, cent, nassign),
      eq, queryPred, k, expand)
  }

  /** The raw md5-sample codebook's seed sample refined by ONE exact-integer Lloyd
    * round ([[kmeansCentroids]]' arithmetic: L2 argmin assignment with
    * c_id tie-break, micro-unit BIGINT dimension means, exact Σcm²
    * norms) — the TRUE-PQ family's coarse router since round 13.
    *
    * Why: the ADC recall sweep measured min recall@10 across SFs of
    * 0.66 with the refined router vs 0.56 for the raw sample — routing
    * loss, not quantization error, was the PQ recall bottleneck.
    * k-means++/farthest-point seeding (the other candidate) measured
    * WORSE on the near-uniform fixture embeddings (min 0.60 for every
    * kpp combination, and kpp SUB-codebook seeding alone dropped to
    * 0.50) — with no cluster structure, spread-to-the-hull seeds are a
    * regression while refined MEANS still cut intra-cell variance; a
    * second Lloyd round also regressed (0.56 at sf0.1). Numbers in
    * ROUND13_NOTES; the swept negative results are why this is one
    * Lloyd round over md5 seeds and nothing fancier.
    *
    * `c_id` stays the seed's vec_id (key-layout stable); empty cells
    * cannot occur while seeds are corpus vectors (each assigns to
    * itself at distance 0, ties to the lower c_id) except under
    * duplicate seed vectors, where the higher-id twin drops — both
    * engines drop it identically. Derives its own double vectors from
    * `embedding`, so both the ADC relation ([[withDoubleVecs]]) and the
    * int8 one ([[withInt8Codes]], which carries no `v`) can train —
    * round 13's second wave routes the int8 family through it too
    * (int8 min recall@10 across SFs 0.64 → 0.72 measured). */
  private[graft] def pqCodebookRefined(e0: DataFrame,
                                       numCentroids: Int): DataFrame = {
    val e = e0.withColumn("v",
      expr("transform(embedding, x -> cast(x as double))"))
    val seeds = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv0"))
      .withColumn("nc0", expr(
        "aggregate(cv0, cast(0 as double), (a, x) -> a + x * x)"))
    val a1 = e
      .withColumn("nv", expr(
        "aggregate(v, cast(0 as double), (a, x) -> a + x * x)"))
      .crossJoin(broadcast(seeds))
      .withColumn("dist", expr(
        "nv - 2 * aggregate(zip_with(v, cv0, (x, y) -> x * y), " +
          "cast(0 as double), (a, z) -> a + z) + nc0"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("c_id"), col("v")),
        struct(col("dist"), col("c_id"))).as("mm"))
      .select(col("mm.c_id").as("c_id"), col("mm.v").as("v"))
    val dims = a1
      .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("c_id"), col("pos"))
      .agg(sum(expr("cast(round(x * 1000000.0) as bigint)")).as("sm"),
        count(lit(1)).as("n"))
      .withColumn("cm",
        expr("cast(floor(sm / cast(n as double) + 0.5) as bigint)"))
    dims.groupBy(col("c_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cm")))).as("pcs"))
      .select(col("c_id"),
        expr("transform(pcs, p -> cast(p.cm as double) / 1000000.0)")
          .as("c_emb"),
        (expr("aggregate(pcs, cast(0 as bigint), (a, p) -> a + p.cm * p.cm)")
          .cast("double") / lit(1.0e12)).as("c_nrm"))
      // k rows referenced by assignment, probes, and the store build.
      .graftCached
  }

  private def withCentCos(df: DataFrame, cent: DataFrame): DataFrame =
    df.join(broadcast(cent), lit(true))
      .withColumn("c_cos",
        dot("embedding", "c_emb") / (sqrt(col("nrm")) * sqrt(col("c_nrm"))))

  /** Multi-assign posting rows `(c_id, m_id, m_qv8)`: every vector to
    * its `nassign` nearest cells, map-side argmin (the exchange carries
    * n·nassign rows, never n×k). This relation IS the index payload the
    * store-backed path persists. */
  private[graft] def pqAssign(eq: DataFrame, cent: DataFrame,
                            nassign: Int): DataFrame =
    pqAssignPayload(eq, cent, nassign, Seq("qv8"))

  /** [[pqAssign]] generalized over the per-member payload columns that
    * ride the posting rows (`qv8` for the int8 index, `pqc`/`rnrm_u`
    * for the true-PQ one) — each emitted with an `m_` prefix. */
  private[graft] def pqAssignPayload(eq: DataFrame, cent: DataFrame,
                                     nassign: Int,
                                     payload: Seq[String]): DataFrame = {
    val aggs = payload.map(p => first(col(p)).as("m_" + p)) :+
      slice(array_sort(collect_list(
        struct((-col("c_cos")).as("nc"), col("c_id")))), 1, nassign).as("top")
    withCentCos(eq, cent)
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id").as("m_id") +: payload.map(p => col("m_" + p)) :+
        explode(col("top.c_id")).as("c_id"): _*)
  }

  /** Per-query probe rows `(q_id, q_qv8, c_id)` — nprobe nearest cells;
    * the window runs over |queries|·k rows only. */
  private[graft] def pqProbes(eq: DataFrame, queryPred: Column,
                            cent: DataFrame, nprobe: Int): DataFrame =
    pqProbesPayload(eq, queryPred, cent, nprobe, Seq("qv8"))

  /** [[pqProbes]] with caller-chosen payload columns (emitted with a
    * `q_` prefix); the ADC path carries none — its per-query state is
    * the LUT, joined separately. */
  private[graft] def pqProbesPayload(eq: DataFrame, queryPred: Column,
                                     cent: DataFrame, nprobe: Int,
                                     payload: Seq[String]): DataFrame =
    withCentCos(eq.filter(queryPred), cent)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("c_cos").desc, col("c_id").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id") +:
        payload.map(p => col(p).as("q_" + p)) :+ col("c_id"): _*)

  /** The serving tail shared by [[annIvfPq]] and [[AnnIndexOps]]: int8
    * coarse scores within probed cells (a pair reachable through two
    * shared cells collapses via max — identical score on every copy),
    * top k·expand candidates by (iscore, m_id), then the exact float
    * rescore fetching vectors by id for survivors only. `floats` needs
    * `(vec_id, embedding, nrm)`; extra columns are projected away. */
  private[graft] def pqCoarseRescore(probes: DataFrame, members: DataFrame,
                                   floats: DataFrame, queryPred: Column,
                                   k: Int, expand: Int,
                                   pairFilter: Column = lit(true)): DataFrame = {
    // `pairFilter` (over extra probe-/member-side columns the caller
    // attached) runs BEFORE the candidate cut: filtered search must
    // truncate within the admissible set, or a selective filter starves
    // the top-k out of the k·expand survivors ([[annIvfPqFiltered]]).
    val coarse = probes.join(members, Seq("c_id"))
      .filter(col("m_id") =!= col("q_id") && pairFilter)
      .withColumn("iscore", int8Dot("m_qv8", "q_qv8"))
      .groupBy(col("q_id"), col("m_id"))
      .agg(max(col("iscore")).as("iscore"))
    val cand = coarse
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("iscore").desc, col("m_id").asc)))
      .filter(col("crank") <= k * expand)
      .select(col("q_id"), col("m_id"))
    exactRescoreTail(cand, floats, queryPred, k)
  }

  /** The exact float-cosine rescore every coarse path ends in: fetch
    * vectors by id for the `(q_id, m_id)` survivors only (the corpus is
    * never re-scanned wide), score, top k. Shared by the int8 and ADC
    * coarse stages. */
  private[graft] def exactRescoreTail(cand: DataFrame, floats: DataFrame,
                                      queryPred: Column, k: Int): DataFrame = {
    val rescored = cand
      .join(floats.select(col("vec_id").as("m_id"), col("embedding").as("m_emb"),
                          col("nrm").as("m_nrm")), Seq("m_id"))
      .join(broadcast(floats.filter(queryPred).select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))), Seq("q_id"))
      .withColumn("cos",
        dot("q_emb", "m_emb") / (sqrt(col("q_nrm")) * sqrt(col("m_nrm"))))
      .withColumnRenamed("m_id", "neighbor_id")
    topK(rescored, k)
  }

  def qAnnQuantizedRescore(spark: SparkSession, dir: String): DataFrame =
    annQuantizedRescore(embeddings(spark, dir), col("vec_id") < 5)

  def qAnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPq(embeddings(spark, dir), col("vec_id") < 5)

  /** Filtered vector search — [[annIvfPq]] constrained to neighbors
    * sharing the query's `label`, the metadata-predicate retrieval every
    * production vector store serves ("nearest within this tenant /
    * language / shard"). The constraint is PRE-FILTERED at the candidate
    * stage: member labels ride the posting rows into the coarse join and
    * the label-mismatched pairs drop BEFORE the k·expand truncation
    * (post-filtering a top-k under-fills it by ~the filter's selectivity
    * — with 10 uniform labels, ~9 of every 10 survivors would be culled
    * after the cut). At scale the label is a stored posting-list column
    * (exactly as qv8 is in [[AnnIndexOps]]), so the pre-filter costs
    * zero extra IO; here the attach is one co-partitioned equi-join on
    * m_id. The query side is a broadcast of the (tiny) filtered query
    * batch's labels.
    */
  def annIvfPqFiltered(embs: DataFrame, queryPred: Column,
                       numCentroids: Int = 16, nassign: Int = 2,
                       nprobe: Int = 4, k: Int = 10,
                       expand: Int = 4): DataFrame = {
    val eq = withInt8Codes(embs).graftCached
    val cent = pqCodebookRefined(eq, numCentroids)
    val members = pqAssign(eq, cent, nassign)
      .join(embs.select(col("vec_id").as("m_id"), col("label").as("m_label")),
            Seq("m_id"))
    val probes = pqProbes(eq, queryPred, cent, nprobe)
      .join(broadcast(embs.filter(queryPred)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))),
        Seq("q_id"))
    pqCoarseRescore(probes, members, eq, queryPred, k, expand,
      pairFilter = col("m_label") === col("q_label"))
  }

  def qAnnFiltered(spark: SparkSession, dir: String): DataFrame =
    annIvfPqFiltered(embeddings(spark, dir), col("vec_id") < 5)

  // ---- True product quantization (per-subspace codebooks) + ADC ----

  /** PQ defaults at fixture scale: m subspaces × kSub codes each. In
    * production kSub is 256 (one byte per code exactly); 32 keeps the
    * oracle's unrolled training tractable while exercising every stage.
    * m=8 (8-dim subspaces) over the fixture's 64-dim embeddings: the
    * round-12 DuckDB sweep measured min recall@10 across sf0.001/0.01/
    * 0.1 of 0.56 at m=8/kSub=32/expand=8 vs 0.30 at m=4/kSub=16/
    * expand=4 — finer subspaces cut quantization error far faster than
    * they cost bytes (8 codes + 8-byte norm = 16 B/vector, still 4×
    * under int8×64). */
  private[graft] val PqM = 8
  private[graft] val PqKSub = 32
  private[graft] val PqDim = 64

  /** `(vec_id, embedding, v, nrm)` with `v` the double-widened vector —
    * the shared float-side relation of the PQ family. Zero vectors are
    * excluded exactly as [[withInt8Codes]] excludes them, so every
    * retrieval path ranks the same member set.
    *
    * The PQ family slices subvectors at fixed PqDim/m offsets, so it is
    * NOT dimension-generic (unlike the int8 path): a dim > PqDim vector
    * would silently drop its tail from codes/LUT/norms, a dim < PqDim
    * one would produce empty trailing subspaces. The guard fails the
    * first action loudly instead. */
  private[graft] def withDoubleVecs(embs: DataFrame): DataFrame =
    embs
      .withColumn("v", expr(
        s"case when size(embedding) = $PqDim " +
          "then transform(embedding, x -> cast(x as double)) " +
          s"else raise_error(concat('PQ path requires $PqDim-dim embeddings, " +
          "got dim=', cast(size(embedding) as string), " +
          "' at vec_id=', cast(vec_id as string))) end"))
      .withColumn("amax", expr(
        "aggregate(v, cast(0 as double), (a, x) -> greatest(a, abs(x)))"))
      .filter(col("amax") > 0)
      .select(col("vec_id"), col("embedding"), col("v"),
              norm2("embedding").as("nrm"))

  /** `(vec_id, s, sv)` — each vector split into its m contiguous
    * subvectors (a pure projection; the explode fans out m× but every
    * row is dim/m doubles, so total bytes are unchanged). */
  private def pqSubs(e: DataFrame, m: Int): DataFrame = {
    val sd = PqDim / m
    e.select(col("vec_id"), col("v"),
        explode(expr(s"sequence(0, ${m - 1})")).as("s"))
      .withColumn("sv", expr(s"slice(v, s * $sd + 1, $sd)"))
      .select(col("vec_id"), col("s"), col("sv"))
  }

  /** True per-subspace PQ codebooks `(s, code, scv, snrm_u)` — the
    * Jégou-style product quantizer: the vector space is a product of m
    * orthogonal subspaces, each with its own kSub-entry codebook, so a
    * vector compresses to m one-byte codes (m·log₂kSub bits) instead of
    * dim int8s. Training is [[kmeansCentroids]]' exact-arithmetic Lloyd
    * round applied per subspace: one shared md5-sampled seed set (the
    * kSub vectors with smallest md5(vec_id), each subspace taking its
    * slice), one argmin assignment over subvectors, one exact integer
    * micro-unit mean update. `snrm_u` is the centroid's EXACT squared
    * norm in micro²-units (Σcm², a BIGINT) — stored so reconstructed
    * member norms stay bit-stable across engines. Every stage is
    * order-independent (integer sums, IEEE division of exact ints), so
    * the DuckDB oracle reproduces the codebook bit-for-bit.
    *
    * Cost: the assignment broadcast is m·kSub tiny rows; the update is
    * a (m·kSub·subdim)-group aggregate with map-side partials — at
    * 100 TB the training pass is one corpus scan + one small exchange,
    * same as one Lloyd round of plain k-means. */
  private[graft] def pqSubCodebooks(e: DataFrame, m: Int = PqM,
                                    kSub: Int = PqKSub): DataFrame = {
    val sd = PqDim / m
    val sub = pqSubs(e, m)
      .withColumn("nsv", expr(
        "aggregate(sv, cast(0 as double), (a, x) -> a + x * x)"))
    val seeds = e.withColumn("ckey", md5(col("vec_id").cast("string")))
      .orderBy(col("ckey"), col("vec_id")).limit(kSub)
      .withColumn("code", (row_number().over(
        Window.orderBy(col("ckey"), col("vec_id"))) - 1).cast("int"))
    val c0 = seeds.select(col("code"), col("v"),
        explode(expr(s"sequence(0, ${m - 1})")).as("s"))
      .withColumn("cv0", expr(s"slice(v, s * $sd + 1, $sd)"))
      .withColumn("nc0", expr(
        "aggregate(cv0, cast(0 as double), (a, x) -> a + x * x)"))
      .select(col("s"), col("code"), col("cv0"), col("nc0"))
    val a1 = sub.join(broadcast(c0), Seq("s"))
      .withColumn("dist", expr(
        "nsv - 2 * aggregate(zip_with(sv, cv0, (x, y) -> x * y), " +
          "cast(0 as double), (a, z) -> a + z) + nc0"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(struct(col("code"), col("sv")),
                  struct(col("dist"), col("code"))).as("mm"))
      .select(col("s"), col("mm.code").as("code"), col("mm.sv").as("sv"))
    val dims = a1
      .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("s"), col("code"), col("pos"))
      .agg(sum(expr("cast(round(x * 1000000.0) as bigint)")).as("sm"),
           count(lit(1)).as("n"))
      .withColumn("cm", expr("cast(floor(sm / cast(n as double) + 0.5) as bigint)"))
    dims.groupBy(col("s"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cm")))).as("pcs"))
      .select(col("s"), col("code"),
        expr("transform(pcs, p -> cast(p.cm as double) / 1000000.0)").as("scv"),
        expr("aggregate(pcs, cast(0 as bigint), (a, p) -> a + p.cm * p.cm)").as("snrm_u"))
      // k·m rows referenced by encode, the LUT, and the store build —
      // un-persisted each branch re-runs the Lloyd round over the corpus.
      .graftCached
  }

  /** PQ-encode every vector against trained sub-codebooks: `(vec_id,
    * pqc, rnrm_u)` where `pqc` is the m-code array (THE compressed
    * representation — m bytes at kSub ≤ 256) and `rnrm_u` the exact
    * reconstructed squared norm Σ snrm_u(s, code_s) in micro²-units
    * (8 bytes/vector, stored so ADC can rank by true reconstructed
    * distance without touching the codebook at serve time). */
  private[graft] def pqEncode(e: DataFrame, cb: DataFrame,
                              m: Int = PqM): DataFrame = {
    val sub = pqSubs(e, m)
      .withColumn("nsv", expr(
        "aggregate(sv, cast(0 as double), (a, x) -> a + x * x)"))
    val cbw = cb.withColumn("nc",
      col("snrm_u").cast("double") / lit(1.0e12))
    sub.join(broadcast(cbw), Seq("s"))
      .withColumn("dist", expr(
        "nsv - 2 * aggregate(zip_with(sv, scv, (x, y) -> x * y), " +
          "cast(0 as double), (a, z) -> a + z) + nc"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(struct(col("code"), col("snrm_u")),
                  struct(col("dist"), col("code"))).as("mm"))
      .select(col("vec_id"), col("s"), col("mm.code").as("code"),
              col("mm.snrm_u").as("snrm_u"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(
        struct(col("s"), col("code"), col("snrm_u")))).as("scs"))
      .select(col("vec_id"),
        expr("transform(scs, t -> t.code)").as("pqc"),
        expr("aggregate(scs, cast(0 as bigint), (a, t) -> a + t.snrm_u)").as("rnrm_u"))
  }

  /** Per-query asymmetric-distance lookup table: ONE small map per
    * query, lut[s·kSub + code] = q_subvector(s)·scv(s,code). m·kSub
    * entries (256 doubles at the m=8/kSub=32 defaults) — the classic ADC trick: the
    * query side is computed exactly once against the codebook, and
    * scoring a member is m map lookups + m−1 adds, no vector math. */
  private[graft] def adcLut(q: DataFrame, cb: DataFrame, m: Int,
                            kSub: Int): DataFrame = {
    val sd = PqDim / m
    q.select(col("vec_id").as("q_id"), col("v"), col("nrm").as("q_nrm"),
        explode(expr(s"sequence(0, ${m - 1})")).as("s"))
      .withColumn("qsv", expr(s"slice(v, s * $sd + 1, $sd)"))
      .join(broadcast(cb), Seq("s"))
      .withColumn("ldot", expr(
        "aggregate(zip_with(qsv, scv, (x, y) -> x * y), " +
          "cast(0 as double), (a, z) -> a + z)"))
      .withColumn("idx",
        col("s").cast("int") * lit(kSub) + col("code").cast("int"))
      .groupBy(col("q_id"))
      .agg(first(col("q_nrm")).as("q_nrm"),
           map_from_entries(collect_list(
             struct(col("idx"), col("ldot")))).as("lut"))
  }

  /** ADC coarse scan + exact rescore: score each probed posting by the
    * reconstructed L2 distance |q|² − 2·Σ_s lut[s,code_s] + |recon|²
    * (adot from m map lookups, |recon|² from the stored exact integer),
    * keep k·expand per query (dist ASC), then [[exactRescoreTail]].
    * `members` needs `(c_id, m_id, m_pqc, m_rnrm_u)` — at the store
    * the coarse scan reads m+8 bytes per member instead of dim int8s. */
  private[graft] def adcCoarseRescore(probes: DataFrame, members: DataFrame,
                                      lut: DataFrame, floats: DataFrame,
                                      queryPred: Column, k: Int, expand: Int,
                                      m: Int, kSub: Int,
                                      pairFilter: Column = lit(true)): DataFrame = {
    val adotExpr = (0 until m)
      .map(s => s"element_at(lut, ${s * kSub} + element_at(m_pqc, ${s + 1}))")
      .mkString(" + ")
    // `pairFilter` runs BEFORE the candidate cut (the filtered-search
    // pre-filter placement — [[pqCoarseRescore]]'s rule).
    val coarse = probes.join(members, Seq("c_id"))
      .filter(col("m_id") =!= col("q_id") && pairFilter)
      .join(broadcast(lut), Seq("q_id"))
      .withColumn("adot", expr(adotExpr))
      .withColumn("adist", expr(
        "q_nrm - 2 * adot + cast(m_rnrm_u as double) / 1000000000000.0"))
      // A pair reachable through two shared cells carries the same adist
      // on both copies — min() collapses the duplicates deterministically.
      .groupBy(col("q_id"), col("m_id"))
      .agg(min(col("adist")).as("adist"))
    val cand = coarse
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adist").asc, col("m_id").asc)))
      .filter(col("crank") <= k * expand)
      .select(col("q_id"), col("m_id"))
    exactRescoreTail(cand, floats, queryPred, k)
  }

  /** IVF + true-PQ retrieval with asymmetric-distance scoring — the
    * in-memory twin of [[AnnIndexOps.servePq]] (identical results by
    * construction: shared stages). Compared with [[annIvfPq]]'s int8
    * path, the member payload shrinks from dim bytes to m codes + one
    * stored norm (16 bytes at the defaults vs 64): at 100 TB the coarse
    * scan is memory-bandwidth-bound, so the 4× byte cut is the whole
    * point of PQ — and the float vectors still only move for the
    * k·expand rescore survivors. */
  def annPqAdc(embs: DataFrame, queryPred: Column, numCentroids: Int = 16,
               nassign: Int = 2, nprobe: Int = 4, k: Int = 10,
               expand: Int = 8, m: Int = PqM, kSub: Int = PqKSub): DataFrame = {
    val e = withDoubleVecs(embs).graftCached
    val cent = pqCodebookRefined(e, numCentroids)
    val cb = pqSubCodebooks(e, m, kSub)
    val codes = pqEncode(e, cb, m)
    val members = pqAssignPayload(e.join(codes, Seq("vec_id")), cent, nassign,
      Seq("pqc", "rnrm_u"))
    val probes = pqProbesPayload(e, queryPred, cent, nprobe, Nil)
    val lut = adcLut(e.filter(queryPred), cb, m, kSub)
    adcCoarseRescore(probes, members, lut, e, queryPred, k, expand, m, kSub)
  }

  /** Late-interaction retrieval — the ColBERT MaxSim scoring paradigm
    * (Khattab & Zaharia, SIGIR'20): both sides carry MULTIPLE vectors
    * and `score(q, d) = Σᵢ maxⱼ cos(qᵢ, dⱼ)` — every query facet finds
    * its own best-matching doc facet, which single-vector cosine
    * collapses away. The fixture's multi-vector representation is the
    * embedding split into `parts` contiguous sub-vectors (a real system
    * stores per-token vectors; the SCORING algebra — and everything
    * Spark-side — is identical). Brute-force scoring over the corpus
    * with the query batch broadcast ([[annBruteforce]]'s shape); all
    * 16 pair cosines + the 4 maxes + the explicit left-to-right sum
    * are one codegen'd projection, so the scan stays one pass. At
    * scale the coarse candidate stage composes unchanged (route on the
    * pooled single vector via IVF, late-interact only survivors — the
    * ColBERTv2/PLAID split).
    */
  def annLateInteraction(embs: DataFrame, queryPred: Column, k: Int = 10,
                         parts: Int = 4): DataFrame = {
    val dim = 64 / parts
    val sub = (p: String, i: Int) =>
      s"transform(slice($p, ${i * dim + 1}, $dim), x -> cast(x as double))"
    val e = embs.select(
      col("vec_id") +:
        (0 until parts).flatMap(i => Seq(
          expr(sub("embedding", i)).as(s"dv$i"),
          expr(s"aggregate(${sub("embedding", i)}, cast(0 as double), " +
            "(a, x) -> a + x * x)").as(s"dn$i"))): _*)
    val q = e.filter(queryPred).select(
      col("vec_id").as("q_id") +:
        (0 until parts).flatMap(i => Seq(
          col(s"dv$i").as(s"qv$i"), col(s"dn$i").as(s"qn$i"))): _*)
    val maxSims = (0 until parts).map { i =>
      val cosRow = (0 until parts).map { j =>
        s"(aggregate(zip_with(qv$i, dv$j, (x, y) -> x * y), " +
          s"cast(0 as double), (a, z) -> a + z) / (sqrt(qn$i) * sqrt(dn$j)))"
      }
      // greatest() needs >= 2 children; parts=1 is the plain-cosine
      // degenerate case (spec-pinned identity with annBruteforce).
      if (cosRow.size == 1) cosRow.head
      else cosRow.mkString("greatest(", ", ", ")")
    }
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("li_score", expr(maxSims.mkString(" + ")))
      .withColumnRenamed("vec_id", "neighbor_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("li_score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor_id"),
              round(col("li_score"), 3).as("li_score"))
      .orderBy(col("q_id"), col("rank"))
  }

  def qAnnLateInteraction(spark: SparkSession, dir: String): DataFrame =
    annLateInteraction(embeddings(spark, dir), col("vec_id") < 5)

  private[ops] case class MmrCand(q_id: Long, m_id: Long, rel: Double,
                                  embedding: Seq[Float], nrm: Double)
  private[ops] case class MmrPick(q_id: Long, rank: Int, neighbor_id: Long,
                                  cos: Double, mmr: Double)

  /** Sequential left-to-right double fold over float arrays — the same
    * summation order as the SQL `aggregate`/`zip_with` dot and DuckDB's
    * `list_dot_product` on DOUBLE[], so per-group Scala arithmetic is
    * bit-identical to the oracle's. */
  private def dotD(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Maximal-marginal-relevance diversified rerank — the retrieval
    * post-pass that trades pure relevance for coverage (a near-duplicate
    * of an already-picked result is worth little in a training batch or
    * a RAG context window). Greedy: pick argmax
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` k times from a
    * relevance top-`pool` candidate set; ties break to the smallest id.
    *
    * Shape: the pool build is [[annBruteforce]]'s broadcast-query scan
    * (swap in any ANN path's candidates at scale), and the inherently
    * sequential-in-k greedy runs per QUERY GROUP via typed
    * `flatMapGroups` — the per-group imperative surface (SURVEY §2.6's
    * reducer analog), O(k·pool) work on ≤pool rows per group, fully
    * parallel across queries, no driver loop, no cross-group state.
    * Every comparison is on doubles produced by the same left-to-right
    * folds the oracle evaluates ([[dotD]]), so the k-step UNROLLED
    * DuckDB oracle matches bit-for-bit.
    */
  def mmrRerank(embs: DataFrame, queryPred: Column, pool: Int = 40,
                k: Int = 10, lambda: Double = 0.5): DataFrame = {
    import embs.sparkSession.implicits._
    val e = embs.select(col("vec_id"), col("embedding"), norm2("embedding").as("nrm"))
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                     col("nrm").as("q_nrm"))
      .filter(queryPred)
    val pooled = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("rel",
        dot("q_emb", "embedding") / (sqrt(col("q_nrm")) * sqrt(col("nrm"))))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id").asc)))
      .filter(col("pr") <= pool)
      .select(col("q_id"), col("vec_id").as("m_id"), col("rel"),
              col("embedding"), col("nrm"))
      .as[MmrCand]
    val picks = pooled.groupByKey(_.q_id).flatMapGroups { (qid, it) =>
      // Ascending-id order + strict `>` ⇒ ties resolve to the smallest
      // m_id, the oracle's (score DESC, m_id ASC) row_number semantics.
      val cands = it.toArray.sortBy(_.m_id)
      val selected = scala.collection.mutable.ArrayBuffer.empty[MmrCand]
      val chosen = scala.collection.mutable.HashSet.empty[Long]
      val res = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      val n = math.min(k, cands.length)
      while (res.length < n) {
        var best: MmrCand = null
        var bestScore = Double.NegativeInfinity
        var ci = 0
        while (ci < cands.length) {
          val c = cands(ci)
          if (!chosen(c.m_id)) {
            val score =
              if (selected.isEmpty) lambda * c.rel
              else {
                var ms = Double.NegativeInfinity
                selected.foreach { s =>
                  val sim = dotD(c.embedding, s.embedding) /
                    (math.sqrt(c.nrm) * math.sqrt(s.nrm))
                  if (sim > ms) ms = sim
                }
                lambda * c.rel - (1 - lambda) * ms
              }
            if (score > bestScore) { bestScore = score; best = c }
          }
          ci += 1
        }
        selected += best
        chosen += best.m_id
        res += MmrPick(qid, res.length + 1, best.m_id, best.rel, bestScore)
      }
      res.iterator
    }
    picks.toDF()
      .select(col("q_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 3).as("cos"), round(col("mmr"), 3).as("mmr"))
      .orderBy(col("q_id"), col("rank"))
  }

  def qMmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrRerank(embeddings(spark, dir), col("vec_id") < 5)

  /** Reciprocal-rank-fusion hybrid retrieval — the standard RAG serving
    * shape: a lexical BM25 ranking and a dense cosine ranking are fused
    * by rank alone, `score(d) = Σ 1/(60 + rank_i(d))`, so neither
    * retriever's score scale has to be calibrated against the other
    * (Cormack et al., SIGIR'09). Scores are exact-integer ppb
    * (`10⁹ div (60 + r)` — the repo's integer-scaled-rational rule; at
    * pool ranks ≤ 20 every reciprocal is a distinct BIGINT), a doc
    * missing from one list contributes 0 from it, ties break to the
    * smaller doc_id.
    *
    * Shape: each retriever's top-`poolK` cut is a distributed
    * TakeOrdered (never a global rank window over the full scored
    * relation); the rank-assigning windows then see ≤ poolK rows. The
    * fusion is a full-outer join of two ≤ poolK-row relations — driver-
    * trivial at any corpus size; all the scale weight stays in the two
    * retrievers, which are the already-audited BM25 posting-list path
    * and the ANN family (swap [[annBruteforce]] for any of them).
    */
  def hybridRrf(docs: DataFrame, embs: DataFrame, terms: Seq[String],
                queryVecId: Long, poolK: Int = 20, k: Int = 10,
                rrfK: Int = 60): DataFrame = {
    val lex = TextOps.bm25Scores(docs, terms)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(poolK)
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("r_lex"))
    val dense = annBruteforce(embs, col("q_id") === queryVecId, k = poolK)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("r_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        coalesce(col("r_dense"), lit(0)).as("r_dense"),
        (coalesce(expr(s"1000000000 div ($rrfK + r_lex)"), lit(0L)) +
         coalesce(expr(s"1000000000 div ($rrfK + r_dense)"), lit(0L)))
          .as("rrf_ppb"))
      .orderBy(col("rrf_ppb").desc, col("doc_id"))
      .limit(k)
  }

  def qHybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrf(documents(spark, dir), embeddings(spark, dir),
              Seq("spark", "join", "data"), queryVecId = 0L)

  /** Hard-negative mining for contrastive training (DPR/SimCSE recipe):
    * for each query vector, the top-k most-similar vectors with a
    * DIFFERENT label — the negatives that actually move a contrastive
    * loss, where random negatives are trivially separable. Same
    * broadcast-query corpus scan as [[annBruteforce]] with the label
    * disagreement folded into the join predicate (pruned before any
    * scoring work); at scale the scan swaps for any ANN candidate
    * path + the label filter.
    */
  def hardNegatives(embs: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    val e = embs.select(col("vec_id"), col("label"), col("embedding"),
                        norm2("embedding").as("nrm"))
    val q = e.select(col("vec_id").as("q_id"), col("label").as("q_label"),
                     col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .filter(queryPred)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q),
           col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .withColumn("cos",
        dot("q_emb", "embedding") / (sqrt(col("q_nrm")) * sqrt(col("nrm"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neg_id"),
              round(col("cos"), 3).as("cos"), col("label").as("neg_label"))
      .orderBy(col("q_id"), col("rank"))
  }

  def qHardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(embeddings(spark, dir), col("vec_id") < 5)

  /** Embedding-distribution drift monitor: PSI between the base corpus
    * and a new batch over the IVF cell histogram — the production check
    * that an embedding model / data mix hasn't shifted under a FROZEN
    * serving index (when this fires, the codebook needs an offline
    * rebuild — the same contract [[AnnIndexOps.appendBatch]] freezes).
    * Codebook = [[annIvf]]'s deterministic md5 sample drawn from the
    * BASE slice only; every vector (both slices) assigns to its single
    * nearest cell via the same broadcast + map-side-aggregate argmax
    * shape (no window over the corpus); per-cell PSI contribution
    * `(p−q)·ln(p/q)` in micro-nats with ONE rounding per cell and NULL
    * for one-sided cells — [[EventOps.qPsiDrift]]'s determinism rules
    * verbatim.
    */
  /** The drift codebook: [[annIvf]]'s deterministic md5 sample drawn
    * from the rows satisfying basePred (the frozen serving slice). */
  private[graft] def driftCodebook(embs: DataFrame, basePred: Column,
                                   numCentroids: Int): DataFrame =
    embs.filter(basePred)
      .select(col("vec_id"), col("embedding"), norm2("embedding").as("nrm"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
              col("nrm").as("c_nrm"))

  /** `(vec_id, carry…, c_id)` — each vector's single nearest cell via the
    * broadcast + map-side-aggregate argmax (no window over the corpus);
    * `carry` columns ride through the aggregate with `first` (exactly one
    * row per vec_id group feeds them). Shared by the batch and streaming
    * drift monitors. */
  private[graft] def nearestCell(vecs: DataFrame, cent: DataFrame,
                                 carry: Seq[String] = Nil): DataFrame = {
    val e = vecs.select(
      (Seq(col("vec_id"), col("embedding"), norm2("embedding").as("nrm")) ++
        carry.map(col)): _*)
    val firsts = carry.map(c => first(col(c)).as(c))
    val top = slice(array_sort(collect_list(
      struct((-col("c_cos")).as("nc"), col("c_id")))), 1, 1).as("top")
    e.join(broadcast(cent), lit(true))
      .withColumn("c_cos",
        dot("embedding", "c_emb") / (sqrt(col("nrm")) * sqrt(col("c_nrm"))))
      .groupBy(col("vec_id"))
      .agg(top, firsts: _*)
      .select((Seq(col("vec_id")) ++ carry.map(col) :+
        explode(col("top.c_id")).as("c_id")): _*)
  }

  /** PSI report off a `(c_id, n_base, n_delta)` histogram — one rounding
    * per cell, NULL for one-sided cells. The histogram is graftCached
    * here (the totals broadcast and the report both read it). */
  private[graft] def psiFromHist(hist: DataFrame): DataFrame = {
    val h = hist.graftCached
    val tot = h.agg(sum(col("n_base")).as("t_base"),
                    sum(col("n_delta")).as("t_delta"))
    h.crossJoin(broadcast(tot))
      .select(col("c_id"), col("n_base"), col("n_delta"),
        expr(
          "cast(case when n_base > 0 and n_delta > 0 then " +
          "round((cast(n_base as double) / t_base - " +
          "cast(n_delta as double) / t_delta) * " +
          "ln((cast(n_base as double) / t_base) / " +
          "(cast(n_delta as double) / t_delta)) * 1000000) end as bigint)")
          .as("psi_micronat"))
      .orderBy(col("c_id"))
  }

  def embeddingDrift(embs: DataFrame, deltaPred: Column,
                     numCentroids: Int = 16): DataFrame = {
    val flagged = embs.withColumn("is_delta", deltaPred)
    val cent = driftCodebook(flagged, !col("is_delta"), numCentroids)
    val assign = nearestCell(flagged, cent, carry = Seq("is_delta"))
    psiFromHist(assign.groupBy(col("c_id"))
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
           sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta")))
  }

  def qEmbeddingDrift(spark: SparkSession, dir: String): DataFrame =
    embeddingDrift(embeddings(spark, dir), col("vec_id") % 10 === 0)
}
