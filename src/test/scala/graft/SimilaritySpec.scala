package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN correctness + the custom CosineDot expression / FuseDotProduct rule. */
class SimilaritySpec extends AnyFunSuite {
  import TestSpark._

  test("brute-force top-1 matches a driver-side recomputation") {
    val vecs = graft.Tables.embeddings(spark, Sf)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val top1 = ops.SimilarityOps.qAnnBruteforce(spark, Sf)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0L until 5L).foreach { q =>
      val expect = vecs.keys.filter(_ != q)
        .maxBy(id => (cos(vecs(q), vecs(id)), -id.toDouble))
      assert(top1(q) == expect, s"query $q")
    }
  }

  test("IVF recall@10 vs brute force is high on fixtures") {
    val bf = ops.SimilarityOps.qAnnBruteforce(spark, Sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val ivf = ops.SimilarityOps.qAnnIvf(spark, Sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = bf.keys.map { q =>
      ivf.getOrElse(q, Set.empty).intersect(bf(q)).size.toDouble / bf(q).size
    }.toSeq
    val mean = recalls.sum / recalls.size
    // Fixture embeddings are near-uniform (no cluster structure), the worst
    // case for IVF: probing 2 of 10 cells still beats the 0.2 random-probe
    // baseline by >2x. Real clustered data recalls far higher.
    assert(mean >= 0.3, s"mean IVF recall@10 too low: $mean (probing 2/10 cells)")
  }

  test("quantized-rescore recall@10 vs brute force is near-exact; " +
       "scores on survivors are bit-identical") {
    val bf = ops.SimilarityOps.qAnnBruteforce(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val qr = ops.SimilarityOps.qAnnQuantizedRescore(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val byQ = bf.keys.groupBy(_._1)
    val recalls = byQ.map { case (q, ks) =>
      ks.count(qr.contains).toDouble / ks.size
    }.toSeq
    val mean = recalls.sum / recalls.size
    // int8 absmax quantization perturbs cosine by ~1/127 per dim worst
    // case; with a 4x candidate expansion the exact rescore recovers
    // nearly every true top-10 even on unclustered fixture vectors.
    assert(mean >= 0.9, s"mean quantized-rescore recall@10 too low: $mean")
    // Where both agree on a neighbor, the rescored cosine IS the
    // brute-force cosine — stage 2 is exact, not approximate.
    qr.foreach { case (key, c) =>
      bf.get(key).foreach(cbf => assert(cbf == c, s"$key: $cbf != $c"))
    }
  }

  test("IVF-PQ recall@10 tracks plain IVF (int8 coarse + rescore loses " +
       "almost nothing on top of cell routing)") {
    val bf = ops.SimilarityOps.qAnnBruteforce(spark, Sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val ivf = ops.SimilarityOps.qAnnIvf(spark, Sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val pq = ops.SimilarityOps.qAnnIvfPq(spark, Sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    def mean(m: Map[Long, Set[Long]]): Double = {
      val rs = bf.keys.map(q =>
        m.getOrElse(q, Set.empty).intersect(bf(q)).size.toDouble / bf(q).size)
      rs.sum / rs.size
    }
    val (rIvf, rPq) = (mean(ivf), mean(pq))
    // The cell routing dominates recall loss; the quantized coarse stage
    // with 4x expansion + exact rescore gives back nearly every neighbor
    // the cells admitted.
    assert(rPq >= rIvf - 0.05,
      s"IVF-PQ recall $rPq fell more than 0.05 below plain IVF $rIvf")
    assert(rPq >= 0.3, s"IVF-PQ recall@10 too low: $rPq")
  }

  test("true-PQ ADC recall@10 clears the pinned floor; its codes are a " +
       "product code (m per-subspace assignments, independently argmin)") {
    val embs = Tables.embeddings(spark, Sf)
    val bf = ops.SimilarityOps.qAnnBruteforce(spark, Sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val adc = ops.SimilarityOps.annPqAdc(embs, col("vec_id") < 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val rs = bf.keys.map(q =>
      adc.getOrElse(q, Set.empty).intersect(bf(q)).size.toDouble / bf(q).size)
    val mean = rs.sum / rs.size
    // The q_ann_recall oracle hash-pins the exact per-query values; this
    // is the readable floor (measured 0.56-0.62 across SFs at the
    // m=8/kSub=32/expand=8 defaults).
    assert(mean >= 0.5, s"mean PQ-ADC recall@10 too low: $mean")
    // Product-code structure: each subspace's code is the argmin of THAT
    // subspace alone — verify one member's codes against a driver-side
    // recompute from the trained codebooks.
    val e = ops.SimilarityOps.withDoubleVecs(embs)
    val cb = ops.SimilarityOps.pqSubCodebooks(e).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getSeq[Double](2).toArray, r.getLong(3))).toMap
    val codes = ops.SimilarityOps.pqEncode(e, ops.SimilarityOps.pqSubCodebooks(e))
    val row = codes.orderBy(col("vec_id")).head()
    val vec = e.filter(col("vec_id") === row.getLong(0))
      .select(col("v")).head().getSeq[Double](0).toArray
    val m = ops.SimilarityOps.PqM; val sd = ops.SimilarityOps.PqDim / m
    val got = row.getSeq[Int](1)
    (0 until m).foreach { s =>
      val sv = vec.slice(s * sd, s * sd + sd)
      val nsv = sv.map(x => x * x).sum
      val best = cb.keys.filter(_._1 == s).toSeq.sortBy(_._2).minBy { k =>
        val (scv, snrmU) = cb(k)
        val dot = sv.zip(scv).map { case (x, y) => x * y }.sum
        (nsv - 2 * dot + snrmU.toDouble / 1e12, k._2)
      }
      assert(got(s) == best._2, s"subspace $s: code ${got(s)} != ${best._2}")
    }
  }

  test("PQ codebooks and codes are partitioning-independent (the exact-" +
       "integer Lloyd claim, exercised, not assumed)") {
    def run(s: org.apache.spark.sql.SparkSession): (Seq[String], Seq[String]) = {
      val e = ops.SimilarityOps.withDoubleVecs(Tables.embeddings(s, Sf))
      val cb = ops.SimilarityOps.pqSubCodebooks(e)
      val codes = ops.SimilarityOps.pqEncode(e, cb)
      (cb.collect().map(_.toString).sorted.toSeq,
       codes.collect().map(_.toString).sorted.toSeq)
    }
    val (cb4, codes4) = run(spark)
    spark.sharedState.cacheManager.clearCache() // drop the graftCached cb
    try GraftSession.scoped(spark, "spark.sql.shuffle.partitions" -> "7") { s =>
      val (cb7, codes7) = run(s)
      assert(cb4 == cb7, "codebooks differ across partitionings")
      assert(codes4 == codes7, "codes differ across partitionings")
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("filtered search: every neighbor shares the query's label, k fills, " +
       "and recall vs label-restricted brute force clears the floor") {
    val labels = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = ops.SimilarityOps.qAnnFiltered(spark, Sf).collect()
    rows.foreach { r =>
      assert(labels(r.getLong(2)) == labels(r.getLong(0)),
        s"neighbor ${r.getLong(2)} label mismatch vs query ${r.getLong(0)}")
    }
    val byQ = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    // Pre-filtering before the candidate cut keeps k full on fixtures
    // (~45 admissible members per label; a post-filtered top-k would
    // hold ~1 of 10).
    byQ.foreach { case (q, ns) => assert(ns.size == 10, s"query $q under-filled") }
    // Exact same-label top-10, driver-side, double cosine.
    val e = Tables.embeddings(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        s += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      s / math.sqrt(na * nb)
    }
    val recalls = e.filter(_._1 < 5).map { case (q, qv, ql) =>
      val truth = e.filter(t => t._1 != q && t._3 == ql)
        .map(t => (cos(qv, t._2), t._1)).sortBy { case (c, id) => (-c, id) }
        .take(10).map(_._2).toSet
      byQ.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.length
    // Cell routing bounds recall exactly as in plain IVF-PQ (the label
    // filter removes ~90% of candidates but also ~90% of the truth set's
    // competitors); random 10-of-~45 same-label picks would score ~0.22.
    assert(mean >= 0.35, s"mean filtered recall@10 too low: $mean")
  }

  test("late interaction: parts=1 degenerates to plain cosine; parts=4 " +
       "matches a driver-side MaxSim brute force") {
    // Identity check: with one sub-vector the facet max IS the cosine,
    // so the ranking must equal annBruteforce exactly.
    val bf = ops.SimilarityOps.qAnnBruteforce(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val li1 = ops.SimilarityOps
      .annLateInteraction(Tables.embeddings(spark, Sf), col("vec_id") < 5,
        parts = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(li1.toSeq == bf.toSeq, "parts=1 must equal plain cosine top-k")
    // parts=4: full driver recompute with the same left-to-right folds.
    val e = Tables.embeddings(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def maxSim(q: Array[Double], d: Array[Double]): Double =
      (0 until 4).map { i =>
        val qi = q.slice(i * 16, i * 16 + 16)
        val qn = math.sqrt(dot(qi, qi))
        (0 until 4).map { j =>
          val dj = d.slice(j * 16, j * 16 + 16)
          dot(qi, dj) / (qn * math.sqrt(dot(dj, dj)))
        }.max
      }.sum
    val got = ops.SimilarityOps.qAnnLateInteraction(spark, Sf).collect()
      .groupBy(_.getLong(0))
    e.filter(_._1 < 5).foreach { case (qid, qv) =>
      val truth = e.filter(_._1 != qid)
        .map { case (id, dv) => (maxSim(qv, dv), id) }
        .sortBy { case (s, id) => (-s, id) }.take(10)
      val rows = got(qid).sortBy(_.getInt(1))
      rows.zip(truth).foreach { case (r, (s, id)) =>
        assert(r.getLong(2) == id, s"q=$qid rank=${r.getInt(1)}")
        assert(math.abs(r.getDouble(3) - s) < 5e-4, s"q=$qid score")
      }
    }
  }

  test("MMR rank-1 is the relevance argmax; picks are distinct pool members") {
    val bf1 = ops.SimilarityOps.qAnnBruteforce(spark, Sf)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val mmr = ops.SimilarityOps.qMmrRerank(spark, Sf).collect()
    val byQ = mmr.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 10, s"query $q")
      assert(rows.map(_.getLong(2)).distinct.length == 10, s"dup pick for $q")
      val r1 = rows.find(_.getInt(1) == 1).get.getLong(2)
      assert(r1 == bf1(q), s"rank-1 must be the relevance argmax for $q")
    }
  }

  test("MMR prefers a diverse candidate over a redundant higher-relevance one") {
    import spark.implicits._
    // Query [1,0]; 1 is the top pick, 2 a near-duplicate of 1 with the
    // 2nd-highest relevance, 3 less relevant but pointing away from 1.
    // Pure relevance ranks (1, 2); MMR at λ=0.5 must rank (1, 3).
    val embs = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(0.9f, 0.436f)),
      (2L, Array(0.89f, 0.44f)),
      (3L, Array(0.8f, -0.436f))
    ).toDF("vec_id", "embedding")
    val rel2 = ops.SimilarityOps.annBruteforce(embs, col("q_id") === 0, k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(rel2 == Seq((1, 1L), (2, 2L)), s"fixture precondition: $rel2")
    val mmr2 = ops.SimilarityOps.mmrRerank(embs, col("vec_id") === 0,
      pool = 3, k = 2).collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(mmr2 == Seq((1, 1L), (2, 3L)), s"got $mmr2")
  }

  test("hybrid RRF equals a driver-side fusion of its two retrievers") {
    val lex = ops.TextOps.qBm25(spark, Sf).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val dense = ops.SimilarityOps.qAnnBruteforce(spark, Sf)
      .filter(col("q_id") === 0).collect()
      .map(r => r.getLong(2) -> r.getInt(1)).toMap
    // qBm25/qAnnBruteforce cut at 20/10; rebuild the op's poolK=20 dense
    // list from annBruteforce directly so the fusion check is honest.
    val dense20 = ops.SimilarityOps
      .annBruteforce(Tables.embeddings(spark, Sf), col("q_id") === 0, k = 20)
      .collect().map(r => r.getLong(2) -> r.getInt(1)).toMap
    assert(dense.forall { case (d, r) => dense20.get(d).contains(r) })
    def rrf(r: Option[Int]): Long = r.map(x => 1000000000L / (60 + x)).getOrElse(0L)
    val expect = (lex.keySet ++ dense20.keySet).toSeq
      .map(d => (d, rrf(lex.get(d)) + rrf(dense20.get(d))))
      .sortBy { case (d, s) => (-s, d) }
      .take(10)
    val got = ops.SimilarityOps.qHybridRrf(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got == expect, s"got $got\nexpect $expect")
  }

  test("hard negatives never share the query's label and rank by cosine") {
    val labels = Tables.embeddings(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val rows = ops.SimilarityOps.qHardNegatives(spark, Sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (q, picks) =>
      assert(picks.length == 5, s"query $q")
      assert(picks.map(_.getLong(2)).distinct.length == 5, s"dup neg for $q")
      picks.foreach { p =>
        assert(p.getInt(4) != labels(q), s"query $q picked its own label")
        assert(p.getInt(4) == labels(p.getLong(2)), s"label col mismatch for $q")
      }
      val cosByRank = picks.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cosByRank.zip(cosByRank.tail).forall { case (a, b) => a >= b },
        s"cos not non-increasing for $q")
    }
  }

  test("embedding drift: identical delta distribution scores exactly zero PSI") {
    import spark.implicits._
    val base = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => (math.sin(i * 7 + j) * 100).toFloat))
    }
    // Delta = a verbatim copy of base under new ids: every copy assigns
    // to its original's cell, shares match exactly, ln(1) = 0.
    val delta = base.map { case (i, v) => (i + 100L, v) }
    val embs = (base ++ delta).toDF("vec_id", "embedding")
    val out = ops.SimilarityOps
      .embeddingDrift(embs, col("vec_id") >= 100, numCentroids = 4)
      .collect()
    assert(out.map(_.getLong(1)).sum == 40 && out.map(_.getLong(2)).sum == 40)
    out.foreach { r =>
      assert(!r.isNullAt(3) && r.getLong(3) == 0L, s"cell ${r.getLong(0)}: $r")
    }
  }

  test("embedding drift: a shifted delta yields positive PSI; " +
       "contributions are never negative") {
    import spark.implicits._
    val base = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => (math.sin(i * 7 + j) * 100).toFloat))
    }
    // Delta concentrated on one base vector's direction: its cell gains
    // mass, others lose or empty out (NULL) — PSI must flag it.
    val delta = (0L until 10L).map { i =>
      (200L + i, base(3)._2.map(x => x * (1.0f + 0.001f * i)))
    }
    val embs = (base ++ delta).toDF("vec_id", "embedding")
    val out = ops.SimilarityOps
      .embeddingDrift(embs, col("vec_id") >= 200, numCentroids = 4)
      .collect()
    val psis = out.filterNot(_.isNullAt(3)).map(_.getLong(3))
    assert(psis.forall(_ >= 0L), s"(p-q)ln(p/q) is non-negative: ${psis.toSeq}")
    assert(psis.exists(_ > 0L), "shifted delta must move some cell's PSI")
    // Real-table sanity: the sf fixture row is deterministic and
    // non-negative too.
    val real = ops.SimilarityOps.qEmbeddingDrift(spark, Sf).collect()
    assert(real.filterNot(_.isNullAt(3)).forall(_.getLong(3) >= 0L))
  }

  test("CosineDot expression equals the declarative fold (interpreted + codegen)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val fold = df.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, v) -> acc + v)"))
      .head().getDouble(0)
    val native = df.select(VectorFunctions.cosineDot(col("a"), col("b")))
      .head().getDouble(0)
    assert(fold == 32.0 && native == 32.0)
    // null element → null (fold semantics preserved)
    val withNull = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .select(VectorFunctions.cosineDot(
        expr("array(cast(1.0 as float), cast(null as float))"), col("b")))
    assert(withNull.head().isNullAt(0))
    // ragged arrays → null, matching the fold (zip_with pads with nulls),
    // so FuseDotProduct cannot change results on unequal lengths
    val ragged = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f))).toDF("a", "b")
    val raggedFold = ragged.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, v) -> acc + v)"))
    val raggedNative = ragged.select(VectorFunctions.cosineDot(col("a"), col("b")))
    assert(raggedFold.head().isNullAt(0) && raggedNative.head().isNullAt(0))
  }

  test("FuseDotProduct rewrites the fold into cosine_dot in the optimized plan") {
    val e = graft.Tables.embeddings(spark, Sf).limit(10)
    val df = e.select(expr(
      "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, v) -> acc + v)").as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_dot"), s"rule did not fire:\n$optimized")
    // and the fused plan computes the same values as the unfused fold
    val selfDot = e.select(VectorFunctions.cosineDot(col("embedding"), col("embedding")).as("d"))
    assert(df.collect().map(_.getDouble(0)).toSeq ==
           selfDot.collect().map(_.getDouble(0)).toSeq)
  }
}
